"""DP quantile via the exponential mechanism, vectorized per group.

Mechanism (reference ``pandas_measurements/series.py:90-484``): clip
values to [lower, upper], form the n+1 gap intervals between sorted
values, score interval i by ``-eps/2 * |i - q*n|`` (rank error), weight
by ``log(width) + score``, select with the Gumbel-max trick, return a
uniform sample within the winning interval.  Scoring is NumPy-
vectorized per group inside ``applyInPandas``; the winner is decided
exactly (``exact_sampling.select_noisy_argmax``: vectorized float
shortlist + interval-arithmetic refinement, the analogue of the
reference's Arb precision-doubling loop) and the winning interval is
sampled with the exact Fraction uniform sampler.

Privacy: eps-DP per group; ``privacy_function(d) = eps * d`` under
SumOf / PureDP, ``(eps * d)^2 / 8`` under RootSumOfSquared / zCDP
(reference ``series.py:183-207``).
"""

from __future__ import annotations

from typing import Any, Optional

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from .. import exact_sampling
from ..base import Measurement
from ..domains import (
    NumpyFloatDomain,
    PandasDataFrameDomain,
    PandasSeriesDomain,
    SparkDataFrameDomain,
    SparkFloatColumnDescriptor,
    SparkGroupedDataFrameDomain,
)
from ..exact_number import ExactNumber, ExactNumberInput
from ..measures import ApproxDP, Measure, PureDP, RhoZCDP
from ..metrics import (
    Metric,
    RootSumOfSquared,
    SumOf,
    SymmetricDifference,
)


class Aggregate(Measurement):
    """Base for per-group pandas DataFrame -> one-row DataFrame measurements."""

    output_spark_schema: T.StructType
    #: series domain the aggregation expects for its measured column
    #: (used to assemble AggregateByColumn's input domain)
    expected_series_domain: Optional[PandasSeriesDomain] = None

    def __call__(self, pdf: pd.DataFrame) -> pd.DataFrame:
        raise NotImplementedError


class AggregateByColumn(Aggregate):
    """Apply per-column scalar aggregations to a pandas DataFrame
    (reference ``pandas_measurements/dataframe.py:78-160``).

    ``column_to_aggregation`` maps column names to series-level
    aggregation measurements (e.g. :class:`NoisyQuantile`); the output
    is one row with one column per aggregation.  Privacy losses add
    (sequential composition over the same group of rows).

    The input domain carries one series domain per aggregated column
    (from each aggregation's ``expected_series_domain``, as the
    reference builds it from the aggregations' input domains); passing
    an explicit ``input_domain`` validates the aggregated columns
    exist in it with the expected element types at construction time
    instead of failing inside an executor.
    """

    def __init__(self, column_to_aggregation, input_domain=None):
        if not column_to_aggregation:
            raise ValueError("No aggregations provided")
        aggs = dict(column_to_aggregation)
        first = next(iter(aggs.values()))
        fields = []
        schema = {}
        for col, agg in aggs.items():
            if not isinstance(agg, Aggregate):
                raise ValueError(f"Aggregation for {col!r} is not an Aggregate")
            if type(agg.output_measure) is not type(first.output_measure):
                raise ValueError("All aggregations must share an output measure")
            fields.extend(agg.output_spark_schema.fields)
            schema[col] = agg.expected_series_domain or PandasSeriesDomain(
                NumpyFloatDomain(size=64)
            )
        names = [f.name for f in fields]
        if len(set(names)) != len(names):
            raise ValueError(f"Duplicate output column names: {names}")
        if input_domain is not None:
            for col, expected in schema.items():
                if col not in input_domain.schema:
                    raise ValueError(
                        f"Aggregated column {col!r} is not in the input domain "
                        f"schema {list(input_domain.schema)}"
                    )
                if input_domain.schema[col] != expected:
                    raise ValueError(
                        f"Input domain for column {col!r} is "
                        f"{input_domain.schema[col]!r}, aggregation expects "
                        f"{expected!r}"
                    )
        self.column_to_aggregation = aggs
        self.output_spark_schema = T.StructType(fields)
        super().__init__(
            input_domain if input_domain is not None else PandasDataFrameDomain(schema),
            SymmetricDifference(),
            first.output_measure,
        )

    def privacy_function(self, d_in: Any):
        losses = [
            agg.privacy_function(d_in)
            for agg in self.column_to_aggregation.values()
        ]
        return sum(losses[1:], losses[0])

    def __call__(self, pdf: pd.DataFrame) -> pd.DataFrame:
        out = {}
        for col, agg in self.column_to_aggregation.items():
            sub = pdf[[col]].rename(columns={col: agg.measure_column}) if hasattr(
                agg, "measure_column"
            ) else pdf
            row = agg(sub)
            for name in row.columns:
                out[name] = row[name].iloc[0]
        return pd.DataFrame({k: [v] for k, v in out.items()})


class NoisyQuantile(Aggregate):
    """Exponential-mechanism quantile of one column of a pandas DataFrame."""

    def __init__(
        self,
        measure_column: str,
        quantile: float,
        lower: float,
        upper: float,
        epsilon: ExactNumberInput,
        output_measure: Measure,
        output_column: Optional[str] = None,
    ):
        if not 0 <= quantile <= 1:
            raise ValueError("quantile must be in [0, 1]")
        # equal bounds are legal (reference test_series.py
        # test_equal_clamping_bounds): every candidate interval is
        # zero-width and the mechanism deterministically releases the
        # bound itself
        if not lower <= upper:
            raise ValueError("need lower <= upper")
        if not isinstance(output_measure, (PureDP, RhoZCDP)):
            raise ValueError(f"Unsupported measure {output_measure!r}")
        self.epsilon = ExactNumber(epsilon)
        if self.epsilon < 0:
            raise ValueError("epsilon must be >= 0")
        self.measure_column = measure_column
        self.quantile = float(quantile)
        self.lower = float(lower)
        self.upper = float(upper)
        self.output_column = output_column or f"q{quantile}({measure_column})"
        self.output_spark_schema = T.StructType(
            [T.StructField(self.output_column, T.DoubleType(), False)]
        )
        self.expected_series_domain = PandasSeriesDomain(NumpyFloatDomain(size=64))
        super().__init__(
            PandasDataFrameDomain({measure_column: self.expected_series_domain}),
            SymmetricDifference(),
            output_measure,
        )
        self._eps_float = (
            self.epsilon.to_float(round_up=False) if self.epsilon.is_finite else float("inf")
        )

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if isinstance(self.output_measure, RhoZCDP):
            return (self.epsilon * d) ** 2 / 8
        return self.epsilon * d

    # When ``count_column`` is set, the input frame carries
    # pre-aggregated (value, count) pairs instead of raw rows — the
    # sufficient statistic for the mechanism: duplicate points only
    # create zero-width intervals, which log(0)-weight out, so the
    # weighted form is exactly equivalent while shuffling one row per
    # DISTINCT value instead of one per data row.
    count_column: Optional[str] = None

    def __call__(self, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {self.output_column: [self._quantile(np.array([]), np.array([]))]}
            )
        values = pdf[self.measure_column].to_numpy(dtype=float)
        if self.count_column is not None:
            counts = pdf[self.count_column].to_numpy(dtype=float)
        else:
            counts = np.ones(len(values))
        return pd.DataFrame(
            {self.output_column: [self._quantile(values, counts)]}
        )

    def _quantile(self, values: np.ndarray, counts: np.ndarray) -> float:
        lo, hi = self.select_interval(values, counts)
        # exact uniform within the winning interval (reference
        # random/uniform.py:34; pure-Fraction inverse CDF)
        return exact_sampling.sample_uniform(lo, hi)

    def select_interval(self, values: np.ndarray, counts: np.ndarray):
        """(lower, upper) of the selected gap interval.  Deterministic
        when epsilon is infinite — the oracle-checkable part of the
        mechanism; :meth:`_quantile` samples uniformly within it."""
        lo, hi = self.lower, self.upper
        if len(values):
            keep = ~np.isnan(values)
            values, counts = values[keep], counts[keep]
            values = np.clip(values, lo, hi)
            order = np.argsort(values)
            values, counts = values[order], counts[order]
            # merge duplicates created by clipping
            uniq, inv = np.unique(values, return_inverse=True)
            counts = np.bincount(inv, weights=counts)
            values = uniq
        n = float(counts.sum()) if len(counts) else 0.0
        edges = np.concatenate(([lo], values, [hi]))
        widths = np.diff(edges)  # m+1 intervals between distinct values
        # rank of interval i = number of data points strictly below it
        ranks = np.concatenate(([0.0], np.cumsum(counts))) if len(counts) else np.array([0.0])
        target = self.quantile * n
        eps = self._eps_float
        # Zero-width intervals are not candidates — the reference's
        # interval list only keeps gaps between *distinct* values
        # (series.py:344-372 `if left_float < right_float`), carrying
        # the raw-row rank across duplicate runs, which is exactly the
        # per-value-count form used here.
        nz = np.nonzero(widths)[0]
        if len(nz) == 0:
            return float(edges[0]), float(edges[0])
        if np.isinf(eps):
            # Reference eps=inf branch (series.py:398-407) sorts
            # (-|rank - target|, lower, upper) descending: minimum rank
            # distance wins, ties broken toward the larger lower
            # endpoint, i.e. the later interval.
            dists = np.abs(ranks[nz] - target)
            idx = int(nz[np.flatnonzero(dists == dists.min())[-1]])
        else:
            # Score scale eps / (2 * delta_u) with utility sensitivity
            # delta_u = max(q, 1-q) (reference series.py:409 delta_u);
            # one record moves |rank - target| by at most max(q, 1-q),
            # so the mechanism still satisfies eps-DP while being up to
            # 2x less noisy than the naive eps/2 scale at q=0.5.
            # Selection runs through the exact Gumbel-max (vectorized
            # float shortlist + interval-arithmetic refinement,
            # exact_sampling.select_noisy_argmax), mirroring the
            # reference's Arb precision-doubling loop
            # (series.py:409-484) without the float-rounding artifacts.
            from fractions import Fraction

            delta_u = max(self.quantile, 1.0 - self.quantile)
            coeff = eps / (2.0 * delta_u)
            dists = np.abs(ranks[nz] - target)
            eps_frac = Fraction(
                self.epsilon.expr.p, self.epsilon.expr.q
            ) if self.epsilon.is_rational else Fraction(eps)
            q_frac = Fraction(self.quantile)
            coeff_frac = eps_frac / (2 * max(q_frac, 1 - q_frac))
            target_frac = q_frac * Fraction(n)
            edges_nz = edges[nz]
            edges_nz1 = edges[nz + 1]
            ranks_nz = ranks[nz]

            def exact_width(i):
                return Fraction(float(edges_nz1[i])) - Fraction(float(edges_nz[i]))

            def exact_penalty(i):
                return coeff_frac * abs(Fraction(float(ranks_nz[i])) - target_frac)

            sel = exact_sampling.select_noisy_argmax(
                widths[nz], coeff * dists, exact_width, exact_penalty
            )
            idx = int(nz[sel])
        return float(edges[idx]), float(edges[idx + 1])


class _PreAggregatedQuantile(Measurement):
    """Per-group exponential-mechanism quantile over pre-aggregated
    (group, value) counts.

    The per-value count relation is the mechanism's sufficient
    statistic, so the applyInPandas shuffle carries one row per
    DISTINCT value per group instead of one per data row — for
    discrete/low-cardinality measure columns this collapses the
    group-task input by orders of magnitude at 100 TB.
    """

    def __init__(self, groupby, agg: NoisyQuantile):
        self.groupby = groupby
        self.agg = agg
        agg.count_column = "__cnt"
        super().__init__(
            groupby.input_domain, groupby.input_metric, agg.output_measure
        )

    def privacy_function(self, d_in: Any):
        return self.agg.privacy_function(self.groupby.stability_function(d_in))

    def __call__(self, data):
        from pyspark.sql import functions as F

        from ..utils.grouped_dataframe import GroupedDataFrame
        from ..utils.misc import sanitize_df

        gdf = self.groupby(data)
        keys = self.groupby.groupby_columns
        counts = (
            gdf.dataframe.groupBy(
                *keys, F.col(f"`{self.agg.measure_column}`")
            ).agg(F.count(F.lit(1)).alias("__cnt"))
        )
        regrouped = GroupedDataFrame(counts, gdf.group_keys, n_keys=gdf.n_keys)
        out = regrouped.apply_in_pandas(self.agg, self.agg.output_spark_schema)
        return sanitize_df(out, known_rows=gdf.n_keys)


def create_quantile_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out: ExactNumberInput,
    measure_column: str,
    quantile: float,
    lower: float,
    upper: float,
    groupby_transformation=None,
    quantile_column: Optional[str] = None,
) -> Measurement:
    """[GroupBy ->] per-group exponential-mechanism quantile over the
    per-value count sufficient statistic (see
    :class:`_PreAggregatedQuantile`).

    Ungrouped inputs are routed through a constant synthetic group so
    the data never leaves executors (the reference pulls ungrouped
    groups through ``toPandas``, ``grouped_dataframe.py:153-158``).
    """
    from ..base import ChainTM, ChainTT
    from ..transformations.groupby import GroupBy
    from .composition import PostProcess

    if isinstance(output_measure, ApproxDP):
        # delta = 0 -> PureDP core; delta > 0 -> zCDP core at the
        # Bun-Steinke-matched rho (same routing as the aggregation
        # factories; reference supports only the delta = 0 form,
        # aggregations.py:1775-1793)
        from .aggregations import _route_measure

        core, core_d_out, wrap = _route_measure(output_measure, d_out)
        return wrap(
            create_quantile_measurement(
                input_domain, input_metric, core, d_in, core_d_out,
                measure_column, quantile, lower, upper,
                groupby_transformation, quantile_column,
            )
        )

    d_in_e = ExactNumber(d_in)
    d_out_e = ExactNumber(d_out)
    quantile_column = quantile_column or f"q{quantile}({measure_column})"

    pre_t = None
    if groupby_transformation is None:
        from ..transformations.derive import DeriveColumn
        from ..domains import SparkIntegerColumnDescriptor
        from pyspark.sql import SparkSession, functions as F

        pre_t = DeriveColumn(
            input_domain,
            input_metric,
            "__g",
            "0L",
            SparkIntegerColumnDescriptor(size=64),
        )
        spark = SparkSession.active()
        keys = spark.range(1).select(F.lit(0).cast("long").alias("__g"))
        gb = GroupBy(pre_t.output_domain, input_metric, False, keys, n_keys=1)

        def post(df):
            row = df.select(F.col(f"`{quantile_column}`")).first()
            return np.float64(row[0])

    else:
        gb = groupby_transformation
        if gb.input_domain != input_domain or gb.input_metric != input_metric:
            raise ValueError("groupby_transformation does not match input")
        post = None

    stability = gb.stability_function(
        pre_t.stability_function(d_in_e) if pre_t is not None else d_in_e
    )
    if isinstance(output_measure, RhoZCDP):
        # (eps*d)^2/8 = rho  =>  eps = sqrt(8 rho)/d
        eps = (ExactNumber(8) * d_out_e).sqrt() / stability if stability > 0 else ExactNumber(0)
    else:
        eps = d_out_e / stability if stability > 0 else ExactNumber(0)

    agg = NoisyQuantile(
        measure_column,
        quantile,
        lower,
        upper,
        eps,
        output_measure,
        output_column=quantile_column,
    )
    core = _PreAggregatedQuantile(gb, agg)
    m = ChainTM(pre_t, core) if pre_t is not None else core
    if post is not None:
        m = PostProcess(m, post)
    if not m.privacy_relation(d_in_e, d_out_e):
        raise AssertionError(
            f"quantile privacy {m.privacy_function(d_in_e)} > requested {d_out_e}"
        )
    return m
