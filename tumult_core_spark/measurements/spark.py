"""Measurements that emit Spark DataFrames.

The privacy-critical physical details (reference
``measurements/spark_measurements.py:58-894``):

* every output is **frozen exactly once**, on a branch picked by a
  row bound the measurement knows before any draw: the public-key
  count for grouped releases, the input's group count for SVT, the
  pre-noise candidate count for partition selection.  Small releases
  leave through ``utils/misc.freeze_small`` (a canonical sort of the
  collected release and a local relation), either after a driver-side
  draw over one bounded collect of the pre-noise relation
  (``freeze_noised_release``, partition selection, SVT) or from
  ``sanitize_df``'s small branch.  Large ones take ``sanitize_df``'s
  ``rand()``-keyed shuffle and single parquet write.  No branch
  observes the size of a noised relation;
* every executor-side draw goes through :func:`noise_column`, the one
  place that builds a noise UDF; it always marks the UDF
  ``asNondeterministic()``, so Catalyst never re-executes, reorders,
  or pushes a draw down.
"""

from __future__ import annotations

from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..base import Measurement
from ..domains import (
    SparkDataFrameDomain,
    SparkFloatColumnDescriptor,
    SparkGroupedDataFrameDomain,
    SparkIntegerColumnDescriptor,
)
from ..exact_number import ExactNumber, ExactNumberInput
from ..measures import ApproxDP, PureDP, RhoZCDP
from ..metrics import (
    OnColumn,
    RootSumOfSquared,
    SumOf,
    SymmetricDifference,
)
from ..utils.distributions import double_sided_geometric_cmf_exact
from ..utils import misc
from ..utils.grouped_dataframe import GroupedDataFrame
from ..utils.misc import persisted, sanitize_df
from .noise import AddGeometricNoise, AddNoiseToSeries


def noise_column(mech: AddNoiseToSeries) -> Callable[[Column], Column]:
    """The executor-side draw of ``mech`` as a ``Column -> Column``
    function, typed as the mechanism's ``release_type``.

    This is the only place a measurement builds a noise UDF: an
    Arrow-batched pandas UDF, always marked ``asNondeterministic()`` so
    Catalyst never re-executes, duplicates, reorders or pushes the draw
    down, and the column is noised exactly once per evaluation of the
    frozen plan.  A mechanism that adds no noise (scale 0) is a plain
    cast to the release type, with no Python stage.
    """
    out_type = mech.noise_mechanism.release_type
    if mech.adds_no_noise:
        return lambda col: col.cast(out_type)
    return F.pandas_udf(lambda s: mech(s), returnType=out_type).asNondeterministic()


class SparkMeasurement(Measurement):
    """Base for DataFrame-emitting measurements: the unfrozen release
    from ``call_unsanitized`` leaves through ``sanitize_df`` with the
    subclass's noise-independent ``release_rows(data)`` bound."""

    def call_unsanitized(self, data: Any) -> DataFrame:
        raise NotImplementedError

    def __call__(self, data: Any) -> DataFrame:
        return sanitize_df(
            self.call_unsanitized(data), known_rows=self.release_rows(data)
        )


class AddNoiseToColumn(SparkMeasurement):
    """Add vectorized noise to one column of a grouped-aggregate DataFrame.

    Input metric is ``OnColumn(measure_column, SumOf|RootSumOfSquared(
    AbsoluteDifference()))`` — the metric produced by CountGrouped /
    SumGrouped.  Small releases draw the noise driver-side; large ones
    noise on the executors through :func:`noise_column`.
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        measurement: AddNoiseToSeries,
        measure_column: str,
        known_release_rows: int,
    ):
        """``known_release_rows``: a-priori upper bound on the release
        row count (grouped releases: the public-key count); it picks
        the freeze branch."""
        if measure_column not in input_domain.schema:
            raise ValueError(f"Column {measure_column!r} not in domain")
        # The noise mechanism's scalar domain must match the column's
        # type (reference spark_measurements.py:190-199): integer noise
        # on a FLOAT statistic is not DP at all — the fractional part
        # passes through exactly — and float noise on an integer column
        # silently widens the release type.  The ungrouped path gets
        # this check for free from ChainTM's domain match; this is the
        # grouped path's equivalent (r16 review).
        from ..domains import (
            NumpyFloatDomain,
            NumpyIntegerDomain,
            SparkFloatColumnDescriptor,
            SparkIntegerColumnDescriptor,
        )

        desc = input_domain[measure_column]
        elem = measurement.input_domain.element_domain
        integral_col = isinstance(desc, SparkIntegerColumnDescriptor)
        float_col = isinstance(desc, SparkFloatColumnDescriptor)
        if (integral_col and not isinstance(elem, NumpyIntegerDomain)) or (
            float_col and not isinstance(elem, NumpyFloatDomain)
        ):
            from ..exceptions import DomainMismatchError

            raise DomainMismatchError(
                f"{measure_column} has descriptor {desc!r}, incompatible "
                f"with the noise measurement's element domain {elem!r}: "
                "discrete noise on a float statistic leaks the fractional "
                "part exactly"
            )
        l2 = isinstance(measurement.output_measure, RhoZCDP)
        from ..metrics import AbsoluteDifference

        metric = OnColumn(
            measure_column,
            RootSumOfSquared(AbsoluteDifference())
            if l2
            else SumOf(AbsoluteDifference()),
        )
        super().__init__(input_domain, metric, measurement.output_measure)
        self.measurement = measurement
        self.measure_column = measure_column
        self.known_release_rows = known_release_rows

    def privacy_function(self, d_in: Any) -> Any:
        return self.measurement.privacy_function(d_in)

    def __call__(self, data: DataFrame) -> DataFrame:
        """The public row bound picks the path before anything runs.
        At most ``SMALL_RELEASE_ROWS`` rows: the noise is drawn
        DRIVER-side over the collected pre-noise aggregate
        (:func:`~..utils.misc.freeze_noised_release`) — one Spark job,
        no ArrowEvalPython stage, no exchange.  Larger key sets noise
        on the executors in a pandas UDF and freeze through
        ``sanitize_df``'s parquet branch."""
        rows = self.known_release_rows
        if rows > misc.SMALL_RELEASE_ROWS:
            return sanitize_df(self.call_unsanitized(data), known_rows=rows)
        return misc.freeze_noised_release(
            data, [(self.measure_column, self.measurement)], rows
        )

    def call_unsanitized(self, data: DataFrame) -> DataFrame:
        noise = noise_column(self.measurement)
        return data.withColumn(
            self.measure_column, noise(F.col(self.measure_column))
        )


class ApplyInPandas(SparkMeasurement):
    """Run a pandas aggregation measurement on every group.

    The per-group function sees a pandas DataFrame (empty for public
    keys with no rows) and — **required contract** — must return
    exactly ``rows_per_group`` output rows per group (default 1, as
    for every factory-built aggregation; a multi-row aggregation
    passes its exact per-group row count).  The release is frozen with
    the public bound ``n_keys * rows_per_group``.  Enforcement is
    AGGREGATE-ONLY: ``sanitize_df`` raises ``AssertionError`` when the
    total exceeds that bound, so a per-group violation that nets out
    (one group over, another under) is NOT caught — honoring the
    per-group shape is the aggregation function's responsibility.
    """

    def __init__(
        self,
        input_domain: SparkGroupedDataFrameDomain,
        input_metric,
        aggregation_function,  # an Aggregate: pd.DataFrame -> pd.DataFrame
        rows_per_group: int = 1,
    ):
        super().__init__(
            input_domain, input_metric, aggregation_function.output_measure
        )
        self.aggregation_function = aggregation_function
        if rows_per_group < 1:
            raise ValueError(f"rows_per_group must be >= 1, got {rows_per_group}")
        self.rows_per_group = rows_per_group

    def privacy_function(self, d_in: Any) -> Any:
        return self.aggregation_function.privacy_function(d_in)

    def release_rows(self, data: GroupedDataFrame) -> int:
        # rows_per_group output rows per public group key: the bound is
        # a property of the keys alone
        return data.n_keys * self.rows_per_group

    def call_unsanitized(self, data: GroupedDataFrame) -> DataFrame:
        agg = self.aggregation_function
        return data.apply_in_pandas(agg, agg.output_spark_schema)


class GeometricPartitionSelection(SparkMeasurement):
    """DP discovery of frequent distinct rows.

    groupBy all columns -> count -> add two-sided geometric noise ->
    keep rows with noisy count >= threshold.  ApproxDP guarantee (for
    d_in = 1): ``(1/alpha, 1 - CMF_alpha(threshold - 2))``; larger
    d_in composes as ``(d eps, d e^{d eps} delta)`` (reference
    ``spark_measurements.py:439-495``).

    At scale this is a single map-side-combined shuffle on the
    grouping columns; the noise+filter run on the aggregated relation.
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        threshold: int,
        alpha: ExactNumberInput,
        count_column: Optional[str] = None,
    ):
        for name, desc in input_domain.schema.items():
            if isinstance(desc, SparkFloatColumnDescriptor):
                raise ValueError(f"Float column {name!r} not allowed")
        self.alpha = ExactNumber(alpha)
        if self.alpha < 0:
            raise ValueError("alpha must be >= 0")
        if int(threshold) != threshold:
            raise ValueError("threshold must be integral")
        self.threshold = int(threshold)
        self.count_column = count_column or "count"
        if self.count_column in input_domain.schema:
            raise ValueError(f"count_column {self.count_column!r} collides")
        super().__init__(input_domain, SymmetricDifference(), ApproxDP())
        out_schema = dict(input_domain.schema)
        out_schema[self.count_column] = SparkIntegerColumnDescriptor(size=64)
        self.output_domain = SparkDataFrameDomain(out_schema)

    def privacy_function(self, d_in: Any):
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if d == 0:
            return (ExactNumber(0), ExactNumber(0))
        if self.alpha == 0:
            return (ExactNumber(float("inf")), ExactNumber(0))
        import sympy as sp

        base_eps = ExactNumber(1) / self.alpha
        base_delta = ExactNumber(1) - double_sided_geometric_cmf_exact(
            self.threshold - 2, self.alpha
        )
        if d == 1:
            return (base_eps, base_delta)
        eps = d * base_eps
        delta = d * ExactNumber(sp.exp(eps.expr)) * base_delta
        if delta > 1:
            delta = ExactNumber(1)
        return (eps, delta)

    def _pre_noise_counts(self, data: DataFrame) -> DataFrame:
        cols = list(self.input_domain.schema)
        return data.groupBy(*cols).agg(F.count(F.lit(1)).alias(self.count_column))

    def _noise_and_filter(self, counts: DataFrame) -> DataFrame:
        noise = noise_column(AddNoiseToSeries(AddGeometricNoise(self.alpha)))
        noisy = counts.withColumn(
            self.count_column, noise(F.col(self.count_column))
        )
        return noisy.filter(F.col(self.count_column) >= self.threshold)

    def __call__(self, data: DataFrame) -> DataFrame:
        """Release with a noise-independent freeze branch (r14).

        The release cardinality here depends on the noise draws (only
        groups whose NOISY count clears the threshold survive), so the
        bound must come from before the draw.  ONE fused job
        (scan + map-side combine + shuffle + limit collect) freezes the
        PRE-noise candidate relation: no noise draw exists yet, so
        nothing observed here depends on any draw, the small/large
        branch below is a function of the data alone, and no mechanism
        invocation is ever discarded on either path.

        Small candidate sets (<= SMALL_RELEASE_ROWS, the overwhelmingly
        common case — candidates are group-cardinality-sized) then draw
        their noise DRIVER-side through the same
        :class:`AddNoiseToSeries` mechanism the executor path runs
        (one invocation, certified sampler) and release an immutable
        local relation — the whole measurement is one Spark job.  A
        huge candidate set forces the large parquet branch with
        ``known_rows`` = the exact candidate count (> the small
        threshold by construction, still noise-independent).
        """
        counts = self._pre_noise_counts(data)
        head = counts.limit(misc.SMALL_RELEASE_ROWS + 1).toArrow()
        if head.num_rows <= misc.SMALL_RELEASE_ROWS:
            return self._release_from_candidates(head, counts.schema)
        # Rare huge-candidate-set path: re-aggregate once into a
        # persisted relation (the raw input pays one more scan total),
        # draw noise on executors, freeze as one parquet write.
        with persisted(counts):
            return sanitize_df(
                self._noise_and_filter(counts), known_rows=counts.count()
            )

    def _release_from_candidates(self, head, schema) -> DataFrame:
        """Driver-side noise + threshold over the frozen candidate
        Arrow table: the same mechanism object the executor path wraps
        in a pandas UDF, applied once to <= SMALL_RELEASE_ROWS counts.
        The survivors freeze through :func:`~..utils.misc.freeze_small`
        like every other small release.

        The GROUP columns never round-trip through pandas: a nullable
        int64 group column (e.g. 64-bit hash ids with a null group)
        would coerce to float64 there and silently corrupt keys above
        2^53.  Only the count column — int64 and non-null by
        construction (it is ``F.count``'s output) — is handed to the
        mechanism as a pandas Series; everything else stays Arrow."""
        import pyarrow as pa

        mech = AddNoiseToSeries(AddGeometricNoise(self.alpha))
        counts = mech(head.column(self.count_column).to_pandas())
        idx = head.schema.get_field_index(self.count_column)
        tbl = head.set_column(
            idx, head.schema.field(idx), pa.array(counts, pa.int64())
        )
        tbl = tbl.filter(pa.array(counts >= self.threshold))
        return misc.freeze_small(tbl, schema)


#: Spark simpleString types SVT's driver release accepts.  Its group
#: keys round-trip through pandas (``groupby`` and ``duplicated``),
#: where struct, list and map keys are unhashable; the release's null
#: check keeps int64 keys from being coerced to float64 there.
_DRIVER_RELEASE_TYPES = frozenset(
    {
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "string", "boolean", "date", "timestamp", "timestamp_ntz",
    }
)


class SparseVectorPrefixSums(SparkMeasurement):
    """AboveThreshold / SVT over ranked per-group bin counts.

    For each group: compute the noisy total (geometric noise at scale
    ``alpha/2``), set the threshold to ``threshold_fraction`` of it,
    add geometric noise at scale ``alpha`` to every rank-ordered prefix
    sum, and release the first rank whose noisy prefix crosses the
    threshold.  PureDP: ``privacy_function(d) = 4 d / alpha``
    (reference ``spark_measurements.py:590-736``).

    Physical plan: one windowed prefix sum partitioned by group (the
    input here is already a tiny bin-count relation, <=201 rows per
    group), one per-group aggregate for totals joined back, noise via
    nondeterministic pandas UDFs, then a min() pick per group.
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        count_column: str,
        rank_column: str,
        alpha,
        grouping_columns=None,
        threshold_fraction: float = 0.95,
        known_input_rows: Optional[int] = None,
    ):
        """``known_input_rows``: a-priori upper bound on the bin-count
        input's TOTAL row count when the caller knows one — for the
        bounds factory the input is the public rank grid 0-fill-joined
        per public group key, so the bound is (#ranks) x (#keys), a
        public constant.  With the bound declared (and unique ranks
        per group, verified pre-draw), the whole SVT release runs
        DRIVER-side over one collected Arrow table: one Spark job, no
        window/join stages, no ArrowEvalPython stages, same mechanisms
        invoked once each.  ``None`` keeps the distributed path."""
        from ..metrics import AbsoluteDifference as _AD

        grouping_columns = list(grouping_columns or [])
        for c in (count_column, rank_column, *grouping_columns):
            if c not in input_domain.schema:
                raise ValueError(f"Column {c!r} not in domain")
        if count_column in grouping_columns or rank_column in grouping_columns:
            raise ValueError("Grouping columns cannot contain count/rank columns")
        self.alpha = ExactNumber(alpha)
        if self.alpha < 0:
            raise ValueError("alpha must be >= 0")
        if not 0 < threshold_fraction <= 1:
            raise ValueError("threshold_fraction must be in (0, 1]")
        super().__init__(
            input_domain,
            OnColumn(count_column, SumOf(_AD())),
            PureDP(),
        )
        self.count_column = count_column
        self.rank_column = rank_column
        self.grouping_columns = grouping_columns
        self.threshold_fraction = threshold_fraction
        self.known_input_rows = known_input_rows

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if d == 0:
            return ExactNumber(0)
        if self.alpha == 0:
            return ExactNumber(float("inf"))
        return ExactNumber(4) * d / self.alpha

    def release_rows(self, data: DataFrame) -> int:
        # exactly one released row per group PRESENT in the input — a
        # function of the data alone (no noise draw moves a group in or
        # out of the release).
        # The input here is a tiny bin-count relation by construction,
        # so the extra distinct-count job is negligible.
        if self.grouping_columns:
            return data.select(*self.grouping_columns).distinct().count()
        return 1

    def _driver_release(self, data: DataFrame) -> Optional[DataFrame]:
        """DRIVER-side SVT release over one collected Arrow table.

        Eligible when the caller declared ``known_input_rows`` (the
        bounds factory's public (#ranks) x (#keys) grid) at or below
        the small-release gate.  One Spark job (the bounded collect of
        the pre-noise bin counts) replaces the distributed plan's
        group-count job, totals-count job, window, join, REBALANCE
        exchange, and two ArrowEvalPython stages.  The release law is
        identical: the same two :class:`AddNoiseToSeries` mechanisms
        are invoked exactly once each over the same vectors (per-group
        totals; rank-ordered prefix sums), and the pick rule — the
        minimum rank whose noisy prefix crosses ``threshold_fraction``
        of the noisy total, else the maximum rank — is unchanged.

        Returns ``None`` (fall back to the distributed path, BEFORE
        any draw) when: no bound / bound over the gate, a column type
        outside :data:`_DRIVER_RELEASE_TYPES`, nulls in any used
        column, or duplicate (group, rank) pairs.  The bound and every
        bail-out condition are functions of the public grid or of the
        pre-noise data alone, never of a draw, so the branch adds no
        observation and each mechanism still runs exactly once.  The
        release freezes through :func:`~..utils.misc.freeze_small`.
        """
        bound = self.known_input_rows
        if bound is None or bound > misc.SMALL_RELEASE_ROWS:
            return None
        gcols = self.grouping_columns
        rank, cnt = self.rank_column, self.count_column
        used = [*gcols, rank, cnt]
        narrow = data.select(*used)
        for fld in narrow.schema.fields:
            if fld.dataType.simpleString() not in _DRIVER_RELEASE_TYPES:
                return None

        import numpy as np
        import pyarrow as pa

        head = misc._collect_bounded(narrow, bound, "known_input_rows")
        if any(head.column(c).null_count for c in used):
            return None
        pdf = head.to_pandas()
        # unique rank per (group,) row — guaranteed for the factory's
        # 0-filled public grid, verified pre-draw for external callers
        if pdf.duplicated(subset=[*gcols, rank]).any():
            return None
        pdf = pdf.sort_values([*gcols, rank], kind="mergesort").reset_index(
            drop=True
        )

        if gcols:
            grouped = pdf.groupby(gcols, sort=True, dropna=False)
            totals = grouped[cnt].sum()
            prefix = grouped[cnt].cumsum()
            group_codes = grouped.ngroup().to_numpy()
        else:
            import pandas as pd

            totals = pd.Series([pdf[cnt].sum()])
            prefix = pdf[cnt].cumsum()
            group_codes = np.zeros(len(pdf), dtype=np.int64)

        total_mech = AddNoiseToSeries(AddGeometricNoise(self.alpha / 2))
        prefix_mech = AddNoiseToSeries(AddGeometricNoise(self.alpha))
        noisy_totals = total_mech(totals)
        noisy_prefix = prefix_mech(prefix).to_numpy()
        thresholds = (
            float(self.threshold_fraction) * noisy_totals.to_numpy().astype("float64")
        )
        ranks = pdf[rank].to_numpy()
        crossed = noisy_prefix >= thresholds[group_codes]
        n_groups = len(thresholds)
        picked = np.empty(n_groups, dtype=ranks.dtype)
        for g in range(n_groups):
            mask = group_codes == g
            hits = ranks[mask][crossed[mask]]
            picked[g] = hits.min() if hits.size else ranks[mask].max()

        out_fields = [narrow.schema[c] for c in gcols] + [narrow.schema[rank]]
        out_schema = T.StructType(out_fields)
        arrays = []
        if gcols:
            key_rows = totals.index
            for i, c in enumerate(gcols):
                vals = (
                    key_rows.get_level_values(i)
                    if len(gcols) > 1
                    else key_rows
                )
                arrays.append(
                    pa.array(list(vals), type=head.schema.field(c).type)
                )
        arrays.append(pa.array(picked, type=head.schema.field(rank).type))
        tbl = pa.table(arrays, names=[*gcols, rank])
        return misc.freeze_small(tbl, out_schema)

    def __call__(self, data: DataFrame) -> DataFrame:
        """Sanitized release with the input persisted for the call.

        The bin-count input plan is referenced four times per release —
        the group-count job (``release_rows``), the totals size-gate
        count, and twice inside the freeze job (the totals side and the
        prefix side of the join) — and the plan BEHIND it is typically
        a full scan+aggregate of raw data (``create_bounds_measurement``
        bins the measure column upstream).  The input itself is tiny by
        construction (<= 201 bins per group), so persisting it for the
        duration of the call cuts four upstream evaluations to one at
        no memory risk; the release is already frozen when ``sanitize_df``
        returns, so the unpersist cannot unfreeze anything.

        Measured trade (sf0.1 bounds workload, idle 32-core box): the
        persist costs ~0.15 s of constant cache/job overhead per
        release (min 1.07 s vs 0.89 s unpersisted) while replacing
        three additional full scans of the upstream plan with cache
        reads — a small loss at 600k rows, the only sane plan when the
        upstream is a 100 TB scan+aggregate.

        With ``known_input_rows`` declared (r18), the whole release
        instead runs driver-side over ONE collected Arrow table — see
        :meth:`_driver_release`; ineligible inputs keep the persisted
        distributed path below unchanged.
        """
        frozen = self._driver_release(data)
        if frozen is not None:
            return frozen
        with persisted(data):
            return super().__call__(data)

    def call_unsanitized(self, data: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        gcols = self.grouping_columns
        rank, cnt = self.rank_column, self.count_column
        frac = self.threshold_fraction

        noise_total = noise_column(
            AddNoiseToSeries(AddGeometricNoise(self.alpha / 2))
        )
        noise_prefix = noise_column(AddNoiseToSeries(AddGeometricNoise(self.alpha)))

        # per-group noisy totals (one noise draw per group)
        agg_exprs = [F.sum(cnt).alias("__total")]
        if gcols:
            totals = data.groupBy(*gcols).agg(*agg_exprs)
            # size-gate the per-group totals broadcast: group count is
            # unbounded, so count the PRE-noise aggregate (no released
            # draw depends on it) and fall back to a shuffle join for
            # huge group sets instead of an unbounded broadcast
            n_groups = totals.count()
        else:
            totals = data.agg(*agg_exprs)
            n_groups = 1
        totals = totals.withColumn(
            "__noisy_threshold",
            (F.lit(frac) * noise_total(F.col("__total"))).cast("double"),
        ).drop("__total")

        w = (
            Window.partitionBy(*gcols).orderBy(rank)
            if gcols
            else Window.partitionBy().orderBy(rank)
        )
        prefixed = data.withColumn(
            "__prefix", noise_prefix(F.sum(cnt).over(w).cast("long"))
        )
        from tumult_core_spark.utils.scale import broadcast_below

        totals_hinted = broadcast_below(
            totals, n_groups, est_row_bytes=32 * len(gcols) + 48
        )
        if gcols:
            joined = prefixed.join(totals_hinted, on=gcols, how="inner")
        else:
            joined = prefixed.crossJoin(totals_hinted)

        crossing = F.when(
            F.col("__prefix") >= F.col("__noisy_threshold"), F.col(rank)
        )
        max_rank = F.max(rank)
        if gcols:
            picked = joined.groupBy(*gcols).agg(
                F.coalesce(F.min(crossing), max_rank).alias(rank)
            )
        else:
            picked = joined.agg(
                F.coalesce(F.min(crossing), max_rank).alias(rank)
            )
        return picked
