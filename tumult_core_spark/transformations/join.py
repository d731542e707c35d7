"""Join transformations: PublicJoin, PrivateJoin, PrivateJoinOnKey.

Equi-joins only (parity with reference ``transformations/
spark_transformations/join.py:43-1100``).  Scale-first deltas vs the
reference:

* ``PublicJoin``'s stability needs the max key multiplicity of the
  public side; the reference collects a full per-key count table to
  the driver (``join.py:344-351`` via ``toPandas``) — here it is a
  single ``agg(max(count))`` scalar.
* The public side of ``PublicJoin`` is usually a small dimension
  table; we pass a broadcast hint so a 100 TB private fact side never
  shuffles for the join.
"""

from __future__ import annotations

from enum import Enum
from typing import Any, Dict, List, Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import Transformation
from ..domains import (
    DictDomain,
    SparkDataFrameDomain,
    SparkFloatColumnDescriptor,
)
from ..exact_number import ExactNumber
from ..metrics import (
    AddRemoveKeys,
    DictMetric,
    HammingDistance,
    IfGroupedBy,
    Metric,
    RootSumOfSquared,
    SumOf,
    SymmetricDifference,
)
from ..utils.join import (
    columns_after_join,
    join,
    join_output_domain,
    validate_join,
)
from ..utils.misc import column_ref
from ..utils.truncation import drop_large_groups, truncate_large_groups


class PublicJoin(Transformation):
    """Join the private table with a public DataFrame.

    ``how`` in {"inner", "left"}.  Stability (reference
    ``join.py:206-235, 336-349``): ``d_in * max multiplicity of any
    join key in the public table`` under SymmetricDifference AND under
    ``IfGroupedBy(col, SumOf/RootSumOfSquared(SymmetricDifference()))``
    (those inner metrics count ROWS, and each private row joins to up
    to the multiplicity); ``d_in`` only under ``IfGroupedBy(col,
    SymmetricDifference())``, whose distance counts GROUPS — a changed
    group deterministically maps to one changed group regardless of
    fan-out.
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        metric: Metric,
        public_df: DataFrame,
        join_cols: Optional[List[str]] = None,
        how: str = "inner",
        join_on_nulls: bool = False,
        public_df_domain: Optional[SparkDataFrameDomain] = None,
    ):
        if how not in ("inner", "left"):
            raise ValueError(f"PublicJoin how must be inner/left, got {how!r}")
        if public_df_domain is not None:
            # reference join.py:295-307: a declared public domain must
            # match the DataFrame's Spark schema, and float columns are
            # FILTERED to the declared special-value permissions so the
            # inferred output domain is actually sound
            if public_df.schema != public_df_domain.spark_schema:
                raise ValueError(
                    "public_df's Spark schema does not match public_df_domain"
                )
            for col, desc in public_df_domain.schema.items():
                if isinstance(desc, SparkFloatColumnDescriptor):
                    ref = column_ref(public_df, col)
                    if not desc.allow_inf:
                        public_df = public_df.filter(
                            ~ref.isin([float("inf"), -float("inf")])
                        )
                    if not desc.allow_nan:
                        public_df = public_df.filter(~F.isnan(ref))
        if not isinstance(metric, (SymmetricDifference, IfGroupedBy)):
            raise ValueError(f"Unsupported metric {metric!r}")
        if isinstance(metric, IfGroupedBy) and metric.inner_metric not in (
            SymmetricDifference(),
            SumOf(SymmetricDifference()),
            RootSumOfSquared(SymmetricDifference()),
        ):
            raise ValueError(
                "IfGroupedBy inner metric must be SymmetricDifference, "
                "SumOf(SymmetricDifference()), or "
                "RootSumOfSquared(SymmetricDifference())"
            )
        public_domain = (
            public_df_domain
            if public_df_domain is not None
            else SparkDataFrameDomain.from_spark_schema(public_df.schema)
        )
        on = validate_join(input_domain, public_domain, join_cols, how)
        if isinstance(metric, IfGroupedBy):
            out_cols = set(
                c
                for c, (l, _r) in columns_after_join(
                    input_domain.columns, public_domain.columns, on, how
                ).items()
                if l is not None
            )
            if metric.column not in out_cols:
                raise ValueError(
                    f"IfGroupedBy column {metric.column!r} must survive the join"
                )
        out_domain = join_output_domain(
            input_domain, public_domain, on, how, join_on_nulls
        )
        super().__init__(input_domain, metric, out_domain, metric)
        self.public_df = public_df
        self.join_cols = on
        self.how = how
        self.join_on_nulls = join_on_nulls
        # stability factor = max join-key multiplicity in the public table
        # (single scalar aggregate, no driver-side count table); factor 1
        # ONLY for the group-counting IfGroupedBy(col, SymmetricDifference)
        # inner metric — SumOf/RootSumOfSquared inners count rows and
        # multiply by the fan-out like the row-level metric does
        # (reference join.py:336-349).  Computed lazily on the first
        # stability_function call: constructing and running a join that
        # never asks for its stability (plain pipelines, benches) should
        # not pay a scan of the public table.
        if isinstance(metric, IfGroupedBy) and isinstance(
            metric.inner_metric, SymmetricDifference
        ):
            self._stability_factor: Optional[ExactNumber] = ExactNumber(1)
        else:
            self._stability_factor = None

    @property
    def stability_factor(self) -> ExactNumber:
        """Max join-key multiplicity of the public table (cached scan)."""
        if self._stability_factor is None:
            refs = [column_ref(self.public_df, c) for c in self.join_cols]
            keys = self.public_df.select(*refs)
            if not self.join_on_nulls:
                # drop only NULL-keyed rows (they can never match under
                # the null-unsafe join).  NOT dropna(): Spark's na.drop
                # also removes NaN-keyed float rows, but the join
                # treats NaN = NaN as TRUE, so those rows DO fan out —
                # dropping them understated the stability factor (noise
                # calibrated too small, a DP soundness hole).
                cond = F.lit(False)
                for ref in refs:
                    cond = cond | ref.isNull()
                keys = keys.where(~cond)
            row = (
                keys.groupBy(*refs)
                .agg(F.count(F.lit(1)).alias("__m"))
                .agg(F.max("__m").alias("m"))
                .first()
            )
            m = int(row["m"] or 0)
            if self.how == "left":
                # a left join emits every unmatched private row
                # null-extended, so one changed private row always
                # changes >= 1 output row: the factor is never 0 even
                # when the public key set is empty
                m = max(m, 1)
            self._stability_factor = ExactNumber(m)
        return self._stability_factor

    def stability_function(self, d_in: Any) -> ExactNumber:
        self.input_metric.validate(d_in)
        return ExactNumber(d_in) * self.stability_factor

    def __call__(self, data: DataFrame) -> DataFrame:
        return join(
            left=data,
            right=self.public_df,
            how=self.how,
            on=self.join_cols,
            nulls_are_equal=self.join_on_nulls,
            broadcast_right=True,
        )


class TruncationStrategy(Enum):
    TRUNCATE = 1  # hash-ordered keep-k rows per key; stability factor 2
    DROP = 2  # drop whole groups above k; stability factor k
    NO_TRUNCATION = 3  # infinite stability


def truncation_strategy_stability(
    strategy: TruncationStrategy, threshold
) -> ExactNumber:
    if strategy == TruncationStrategy.TRUNCATE:
        return ExactNumber(2)
    if strategy == TruncationStrategy.DROP:
        return ExactNumber(threshold)
    return ExactNumber(float("inf"))


class PrivateJoin(Transformation):
    """Inner join of two private tables from a dict input.

    Each side is truncated to bound join fan-out; total stability is
    ``tau_l * s_r * d_r + tau_r * s_l * d_l`` (reference
    ``join.py:739-771``).
    """

    def __init__(
        self,
        input_domain: DictDomain,
        left_key: Any,
        right_key: Any,
        left_truncation_strategy: TruncationStrategy,
        right_truncation_strategy: TruncationStrategy,
        left_truncation_threshold: Union[int, float],
        right_truncation_threshold: Union[int, float],
        join_cols: Optional[List[str]] = None,
        join_on_nulls: bool = False,
    ):
        for strat, thresh, side in (
            (left_truncation_strategy, left_truncation_threshold, "left"),
            (right_truncation_strategy, right_truncation_threshold, "right"),
        ):
            if strat == TruncationStrategy.NO_TRUNCATION:
                # reference join.py:659-666: the threshold must be
                # explicitly infinite so the infinite stability is a
                # stated choice, not an accident of a missing value
                if thresh != float("inf"):
                    raise ValueError(
                        f"The {side}_truncation_threshold must be float('inf') "
                        f"when the {side}_truncation_strategy is NO_TRUNCATION"
                    )
            elif (
                isinstance(thresh, bool)
                or not isinstance(thresh, int)
                or thresh < 0
            ):
                # bool passes isinstance(int) but ExactNumber rejects it
                # later in stability_function — fail at construction
                raise ValueError(
                    f"The {side}_truncation_threshold must be a nonnegative "
                    f"int for {strat}; got {thresh!r}"
                )
        left_domain = input_domain[left_key]
        right_domain = input_domain[right_key]
        on = validate_join(left_domain, right_domain, join_cols, "inner")
        out_domain = join_output_domain(
            left_domain, right_domain, on, "inner", join_on_nulls
        )
        input_metric = DictMetric(
            {left_key: SymmetricDifference(), right_key: SymmetricDifference()}
        )
        super().__init__(
            input_domain, input_metric, out_domain, SymmetricDifference()
        )
        self.left_key, self.right_key = left_key, right_key
        self.left_truncation_strategy = left_truncation_strategy
        self.right_truncation_strategy = right_truncation_strategy
        self.left_truncation_threshold = left_truncation_threshold
        self.right_truncation_threshold = right_truncation_threshold
        self.join_cols = on
        self.join_on_nulls = join_on_nulls

    def stability_function(self, d_in: Dict[Any, Any]) -> ExactNumber:
        self.input_metric.validate(d_in)
        tau_l = ExactNumber(self.left_truncation_threshold)
        tau_r = ExactNumber(self.right_truncation_threshold)
        s_l = truncation_strategy_stability(self.left_truncation_strategy, tau_l)
        s_r = truncation_strategy_stability(self.right_truncation_strategy, tau_r)
        d_l = ExactNumber(d_in[self.left_key])
        d_r = ExactNumber(d_in[self.right_key])
        # a zero truncation threshold on EITHER side empties the join
        # unconditionally (that side truncates to limit(0)), so the
        # output is a constant and the total stability is exactly 0 —
        # this also forecloses sympy's 0 * inf = nan when the other
        # side is NO_TRUNCATION
        if tau_l == 0 or tau_r == 0:
            return ExactNumber(0)

        # inf * 0 = 0 convention: an untouched side (d == 0)
        # contributes nothing even when the other side's strategy has
        # infinite stability (sympy would otherwise produce nan)
        term_r = tau_l * s_r * d_r if d_r != 0 else ExactNumber(0)
        term_l = tau_r * s_l * d_l if d_l != 0 else ExactNumber(0)
        return term_r + term_l

    def _truncate(
        self, df: DataFrame, strategy: TruncationStrategy, threshold
    ) -> DataFrame:
        if strategy == TruncationStrategy.TRUNCATE:
            return truncate_large_groups(df, self.join_cols, int(threshold))
        if strategy == TruncationStrategy.DROP:
            return drop_large_groups(df, self.join_cols, int(threshold))
        return df

    def __call__(self, dfs: Dict[Any, DataFrame]) -> DataFrame:
        left = self._truncate(
            dfs[self.left_key],
            self.left_truncation_strategy,
            self.left_truncation_threshold,
        )
        right = self._truncate(
            dfs[self.right_key],
            self.right_truncation_strategy,
            self.right_truncation_threshold,
        )
        return join(
            left=left,
            right=right,
            how="inner",
            on=self.join_cols,
            nulls_are_equal=self.join_on_nulls,
        )


class PrivateJoinOnKey(Transformation):
    """Join two private tables under the AddRemoveKeys metric.

    The shared key column must be among the join columns; since
    distance counts differing *keys* (not rows), no truncation is
    needed and stability is ``d_in``.
    """

    def __init__(
        self,
        input_domain: DictDomain,
        input_metric: AddRemoveKeys,
        left_key: Any,
        right_key: Any,
        new_key: Any,
        join_cols: Optional[List[str]] = None,
    ):
        left_domain = input_domain[left_key]
        right_domain = input_domain[right_key]
        on = validate_join(left_domain, right_domain, join_cols, "inner")
        key_col_l = input_metric.df_to_key_column.get(str(left_key))
        key_col_r = input_metric.df_to_key_column.get(str(right_key))
        if key_col_l is None or key_col_r is None:
            raise ValueError("Both sides must appear in the AddRemoveKeys metric")
        if key_col_l not in on or key_col_r not in on:
            raise ValueError("The AddRemoveKeys key column must be a join column")
        if new_key in input_domain.key_to_domain:
            # a reused name would silently REPLACE an existing private
            # table's domain, key column, and data mid-pipeline
            # (reference validates this too)
            raise ValueError(
                f"new_key {new_key!r} already exists in the input domain"
            )
        out_domain = join_output_domain(left_domain, right_domain, on, "inner", False)
        new_domains = dict(input_domain.key_to_domain)
        new_domains[new_key] = out_domain
        new_key_cols = dict(input_metric.df_to_key_column)
        new_key_cols[str(new_key)] = key_col_l
        super().__init__(
            input_domain,
            input_metric,
            DictDomain(new_domains),
            AddRemoveKeys(new_key_cols),
        )
        self.left_key, self.right_key, self.new_key = left_key, right_key, new_key
        self.join_cols = on

    def stability_function(self, d_in: Any) -> ExactNumber:
        self.input_metric.validate(d_in)
        return ExactNumber(d_in)

    def __call__(self, dfs: Dict[Any, DataFrame]) -> Dict[Any, DataFrame]:
        out = dict(dfs)
        out[self.new_key] = join(
            left=dfs[self.left_key],
            right=dfs[self.right_key],
            how="inner",
            on=self.join_cols,
        )
        return out
