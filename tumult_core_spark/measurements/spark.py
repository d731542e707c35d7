"""Measurements that emit Spark DataFrames.

The privacy-critical physical details (reference
``measurements/spark_measurements.py:58-894``):

* every output is **frozen exactly once**, on a branch picked by a
  row bound the measurement knows before any draw: the public-key
  count for grouped releases, the public input grid for SVT, the
  pre-noise candidate count for partition selection.  Small releases
  leave through ``utils/misc.freeze_small`` (a canonical sort of the
  collected release and a local relation), either after a driver-side
  draw over one bounded collect of the pre-noise relation
  (``freeze_noised_release``, partition selection, SVT) or from
  ``sanitize_df``'s small branch.  Large ones take ``sanitize_df``'s
  ``rand()``-keyed shuffle and single parquet write.  No branch
  observes the size of a noised relation;
* every executor-side draw happens either in :func:`noise_column`, the
  one place that builds a noise UDF (always marked
  ``asNondeterministic()``, so Catalyst never re-executes, reorders,
  or pushes a draw down), or in one grouped pandas stage
  (``applyInPandas``: SVT's :func:`svt_pick`, :class:`ApplyInPandas`)
  frozen by one parquet write.
"""

from __future__ import annotations

from typing import Any, Callable, List, Optional, Tuple

import numpy as np
import pandas as pd
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
from ..utils.misc import column_ref, persisted, sanitize_df
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


def release_noised_columns(
    data: DataFrame,
    noise_specs: List[Tuple[str, AddNoiseToSeries]],
    known_rows: int,
) -> DataFrame:
    """Release ``data`` with every ``(column, mechanism)`` of
    ``noise_specs`` noised, frozen on the branch the public
    ``known_rows`` bound picks before anything runs.

    At most ``SMALL_RELEASE_ROWS`` rows: the noise is drawn DRIVER-side
    over the collected pre-noise relation
    (:func:`~..utils.misc.freeze_noised_release`): one Spark job, no
    ArrowEvalPython stage, no exchange.  Larger key sets noise on the
    executors through :func:`noise_column` and freeze through
    ``sanitize_df``'s parquet branch.
    """
    if known_rows <= misc.SMALL_RELEASE_ROWS:
        return misc.freeze_noised_release(data, noise_specs, known_rows)
    noisy = data.withColumns(
        {c: noise_column(m)(column_ref(data, c)) for c, m in noise_specs}
    )
    return misc.sanitize_df(noisy, known_rows=known_rows)


class AddNoiseToColumn(Measurement):
    """Add vectorized noise to one column of a grouped-aggregate DataFrame.

    Input metric is ``OnColumn(measure_column, SumOf|RootSumOfSquared(
    AbsoluteDifference()))`` — the metric produced by CountGrouped /
    SumGrouped.  It releases through :func:`release_noised_columns`.
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
        return release_noised_columns(
            data, [(self.measure_column, self.measurement)], self.known_release_rows
        )


class ApplyInPandas(Measurement):
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

    def __call__(self, data: GroupedDataFrame) -> DataFrame:
        agg = self.aggregation_function
        return sanitize_df(
            data.apply_in_pandas(agg, agg.output_spark_schema),
            known_rows=data.n_keys * self.rows_per_group,
        )


class GeometricPartitionSelection(Measurement):
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


def svt_pick(
    frame: pd.DataFrame, alpha: ExactNumber, threshold_fraction: float
) -> np.ndarray:
    """The SVT pick over the (group, rank, count) rows of ``frame``.

    ``frame`` has the columns ``group`` (dense group ids ``0..n-1``),
    ``rank`` and ``count``.  For every group the noisy total (geometric
    noise at scale ``alpha/2``) sets the threshold
    ``threshold_fraction * total``; the rank-ordered prefix sums get
    geometric noise at scale ``alpha``, and the pick is the lowest rank
    whose noisy prefix reaches the threshold, else the group's highest
    rank.  Both mechanisms are invoked exactly once, each over the
    vector of all groups in ``frame``.  Returns the picked rank of each
    group, indexed by group id.

    A null rank or count, or a duplicate (group, rank) pair, raises
    ``ValueError`` before any draw.
    """
    if frame[["rank", "count"]].isna().to_numpy().any():
        raise ValueError("SVT input holds a null rank or count")
    if frame.duplicated(["group", "rank"]).any():
        raise ValueError("SVT input holds a duplicate (group, rank) pair")
    frame = frame.sort_values(["group", "rank"], kind="mergesort")
    ids = frame["group"].to_numpy()
    counts = frame.groupby(ids, sort=True)["count"]
    totals = AddNoiseToSeries(AddGeometricNoise(alpha / 2))(counts.sum())
    prefix = AddNoiseToSeries(AddGeometricNoise(alpha))(counts.cumsum())
    thresholds = threshold_fraction * totals.to_numpy().astype(np.float64)
    crossed = prefix.to_numpy() >= thresholds[ids]
    # rows are sorted by rank within each group: the first crossing row
    # holds the lowest crossing rank, the group's last row its highest
    at = np.arange(len(frame))
    first_hit = pd.Series(np.where(crossed, at, len(frame))).groupby(ids).min()
    last = pd.Series(at).groupby(ids).max()
    pos = np.where(first_hit < len(frame), first_hit, last)
    return frame["rank"].to_numpy()[pos]


def _group_ids(keys) -> np.ndarray:
    """Dense per-row group ids over the columns of the Arrow table
    ``keys``, numbered in order of first appearance.  Values are
    compared as Python objects, so no key passes through a float64
    column; equality is Spark's grouping equality (every null is one
    group, every NaN is one group, ``-0.0`` equals ``0.0``), and array
    and struct values compare by their ``repr``."""

    def token(v):
        if isinstance(v, float) and v != v:
            return "NaN"
        return repr(v) if isinstance(v, (list, dict)) else v

    columns = [map(token, col.to_pylist()) for col in keys.columns]
    rows = zip(*columns) if columns else [()] * keys.num_rows
    ids: dict = {}
    return np.fromiter(
        (ids.setdefault(r, len(ids)) for r in rows), np.int64, keys.num_rows
    )


class SparseVectorPrefixSums(Measurement):
    """AboveThreshold / SVT over ranked per-group bin counts.

    For each group: compute the noisy total (geometric noise at scale
    ``alpha/2``), set the threshold to ``threshold_fraction`` of it,
    add geometric noise at scale ``alpha`` to every rank-ordered prefix
    sum, and release the first rank whose noisy prefix crosses the
    threshold.  PureDP: ``privacy_function(d) = 4 d / alpha``
    (reference ``spark_measurements.py:590-736``).

    One pick implementation, :func:`svt_pick`, runs in one of two
    places, chosen from the public ``known_input_rows`` bound alone:
    at most ``SMALL_RELEASE_ROWS`` input rows, on the driver over one
    bounded collect of the input (one Spark job), frozen by
    ``freeze_small``; above it, once per group in one
    ``groupBy(...).applyInPandas`` stage, frozen by ``sanitize_df``'s
    parquet write.  The input is read once either way, and key columns
    come back exactly as they went in (null and 64-bit keys included).
    One row is released per group present in the input.
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        count_column: str,
        rank_column: str,
        alpha,
        grouping_columns=None,
        threshold_fraction: float = 0.95,
        *,
        known_input_rows: int,
    ):
        """``known_input_rows``: a public upper bound on the bin-count
        input's total row count.  For the bounds factory the input is
        the public rank grid 0-fill-joined per public group key, so the
        bound is (#ranks) x (#keys).  It picks where the release runs;
        an input with more rows raises ``AssertionError``."""
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

    def __call__(self, data: DataFrame) -> DataFrame:
        import pyarrow as pa

        gcols, rank, cnt = self.grouping_columns, self.rank_column, self.count_column
        alpha, frac = self.alpha, float(self.threshold_fraction)
        narrow = data.select(*[column_ref(data, c) for c in (*gcols, rank, cnt)])
        out_schema = T.StructType([narrow.schema[c] for c in (*gcols, rank)])
        bound = self.known_input_rows
        if bound > misc.SMALL_RELEASE_ROWS:

            def pick_group(key, pdf):
                frame = pd.DataFrame(
                    {"group": 0, "rank": pdf[rank], "count": pdf[cnt]}
                )
                picked = svt_pick(frame, alpha, frac)
                # one key value per column, from Spark's key tuple: a
                # null key never shares a pandas column with a bigint
                # key, so no key is widened to float64
                keys = {c: pd.Series([k]) for c, k in zip(gcols, key)}
                return pd.DataFrame({**keys, rank: picked})

            grouped = narrow.groupBy(*[column_ref(narrow, c) for c in gcols])
            return sanitize_df(
                grouped.applyInPandas(pick_group, out_schema), known_rows=bound
            )
        head = misc._collect_bounded(narrow, bound, "known_input_rows")
        ids = _group_ids(head.select(gcols))
        frame = pd.DataFrame(
            {
                "group": ids,
                "rank": head.column(rank).to_pandas(),
                "count": head.column(cnt).to_pandas(),
            }
        )
        picked = svt_pick(frame, alpha, frac)
        first_rows = np.unique(ids, return_index=True)[1]
        tbl = head.take(first_rows).select(gcols).append_column(
            rank, pa.array(picked, type=head.schema.field(rank).type)
        )
        return misc.freeze_small(tbl, out_schema)
