"""Noisy-aggregation factories — the user-facing query API.

Each ``create_*_measurement`` returns a fully-chained measurement whose
``privacy_function(d_in) == d_out`` is asserted at build time, mirroring
the reference factory layer (``tmlt/core/measurements/aggregations.py``):

* count / count_distinct:  [GroupBy ->] Count -> noise
* sum:                     [GroupBy ->] clipped Sum -> noise
* average:                 fused single-scan (sum-of-deviations @ d/2,
                           count @ d/2) -> postprocess
* variance / stddev:       fused single-scan (sod, sum-of-squared-
                           deviations, count, each @ d/3) -> postprocess
* quantile:                [GroupBy ->] exponential mechanism per group
* partition_selection:     exact (epsilon, delta) -> (alpha, tau) solve

ApproxDP requests with delta = 0 route through PureDP exactly as the
reference does (``aggregations.py:898-947``); delta > 0 routes through
zCDP with the Bun-Steinke-matched rho and converts back via
``RhoZCDPToApproxDP`` (a strict superset of the reference, which
raises "not yet supported" for that combination).
"""

from __future__ import annotations

from enum import Enum

import sympy as sp
from typing import Any, Callable, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..base import ChainTM, ChainTT, Measurement, Transformation
from ..domains import (
    NumpyFloatDomain,
    NumpyIntegerDomain,
    SparkDataFrameDomain,
    SparkFloatColumnDescriptor,
    SparkIntegerColumnDescriptor,
)
from ..exact_number import ExactNumber, ExactNumberInput
from ..measures import ApproxDP, Measure, PureDP, RhoZCDP
from ..metrics import HammingDistance, Metric
from ..utils.parameters import calculate_noise_scale
from ..transformations.agg import (
    Count,
    CountDistinct,
    CountDistinctGrouped,
    CountGrouped,
    Sum,
    SumGrouped,
)
from ..transformations.derive import DeriveColumn
from ..transformations.groupby import GroupBy
from .composition import Composition, PostProcess
from .converters import PureDPToApproxDP, RhoZCDPToApproxDP
from .noise import (
    AddDiscreteGaussianNoise,
    AddGaussianNoise,
    AddGeometricNoise,
    AddLaplaceNoise,
    AddNoiseToSeries,
)
from .spark import AddNoiseToColumn, noise_column


class NoiseMechanism(Enum):
    LAPLACE = "laplace"
    GEOMETRIC = "geometric"
    GAUSSIAN = "gaussian"
    DISCRETE_GAUSSIAN = "discrete_gaussian"


def _default_mechanism(measure: Measure, integral: bool) -> NoiseMechanism:
    if isinstance(measure, RhoZCDP):
        return NoiseMechanism.DISCRETE_GAUSSIAN if integral else NoiseMechanism.GAUSSIAN
    return NoiseMechanism.GEOMETRIC if integral else NoiseMechanism.LAPLACE


def _route_measure(output_measure: Measure, d_out):
    """(core measure, core d_out, wrapper) for the requested measure.

    ApproxDP with ``delta == 0`` routes through PureDP
    (Laplace/Geometric, ``PureDPToApproxDP``).  With ``delta > 0`` it
    routes through zCDP (Gaussian mechanisms) with the budget chosen
    so the Bun–Steinke conversion ``eps(rho, delta) = rho +
    2 sqrt(rho ln(1/delta))`` exactly meets the requested epsilon:
    ``rho = (sqrt(L + eps) - sqrt(L))**2`` with ``L = ln(1/delta)``,
    wrapped back by ``RhoZCDPToApproxDP``.  (The reference declares
    this routing "not yet supported" — ``aggregations.py:929-939`` —
    and raises; here it is implemented, which is a strict superset of
    the reference surface.)
    """
    if not isinstance(output_measure, ApproxDP):
        return output_measure, ExactNumber(d_out), lambda m: m
    eps, delta = ExactNumber(d_out[0]), ExactNumber(d_out[1])
    if delta == 0:
        return PureDP(), eps, PureDPToApproxDP
    if not eps.is_finite or eps == 0:
        # zero/infinite epsilon passes straight through the zCDP core
        return RhoZCDP(), eps, (lambda m: RhoZCDPToApproxDP(m, delta))
    L = sp.log(1 / delta.expr)
    rho = (sp.sqrt(L + eps.expr) - sp.sqrt(L)) ** 2
    return RhoZCDP(), ExactNumber(rho), (lambda m: RhoZCDPToApproxDP(m, delta))


def _make_mechanism(
    mechanism: NoiseMechanism, scale: ExactNumber, scalar_domain
) -> Any:
    if mechanism == NoiseMechanism.LAPLACE:
        return AddLaplaceNoise(scalar_domain, scale)
    if mechanism == NoiseMechanism.GEOMETRIC:
        return AddGeometricNoise(scale)
    if mechanism == NoiseMechanism.GAUSSIAN:
        return AddGaussianNoise(scalar_domain, scale)
    if mechanism == NoiseMechanism.DISCRETE_GAUSSIAN:
        return AddDiscreteGaussianNoise(scale)
    raise ValueError(f"Unknown mechanism {mechanism!r}")


def _check_mechanism_measure(mechanism: NoiseMechanism, core: Measure) -> None:
    pure = mechanism in (NoiseMechanism.LAPLACE, NoiseMechanism.GEOMETRIC)
    if pure != isinstance(core, PureDP):
        raise ValueError(
            f"Mechanism {mechanism.value} incompatible with measure {core!r}"
        )


def _assert_privacy(measurement: Measurement, d_in, d_out) -> Measurement:
    if not measurement.privacy_relation(d_in, d_out):
        raise AssertionError(
            f"Constructed measurement's privacy_function({d_in}) = "
            f"{measurement.privacy_function(d_in)} exceeds requested {d_out}"
        )
    return measurement


# ---------------------------------------------------------------------------
# count / count_distinct
# ---------------------------------------------------------------------------


def _create_count_like(
    transformation_factory: Callable,
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    noise_mechanism: Optional[NoiseMechanism],
    groupby_transformation: Optional[GroupBy],
    count_column: str,
) -> Measurement:
    core, eps_like, wrap = _route_measure(output_measure, d_out)
    mechanism = noise_mechanism or _default_mechanism(core, integral=True)
    _check_mechanism_measure(mechanism, core)
    d_in_e = ExactNumber(d_in)

    if groupby_transformation is None:
        count_t = transformation_factory(input_domain, input_metric)
        scale = calculate_noise_scale(
            count_t.stability_function(d_in_e), eps_like, core
        )
        mech = _make_mechanism(mechanism, scale, NumpyIntegerDomain())
        m = ChainTM(count_t, mech)
    else:
        gb = groupby_transformation
        if gb.input_domain != input_domain or gb.input_metric != input_metric:
            raise ValueError("groupby_transformation does not match input domain/metric")
        count_t = transformation_factory(
            gb.output_domain, gb.output_metric, count_column=count_column
        )
        chained = ChainTT(gb, count_t)
        scale = calculate_noise_scale(
            chained.stability_function(d_in_e), eps_like, core
        )
        mech = AddNoiseToSeries(_make_mechanism(mechanism, scale, NumpyIntegerDomain()))
        # grouped release: at most one row per public key
        noise = AddNoiseToColumn(
            count_t.output_domain, mech, count_column,
            known_release_rows=gb.n_keys,
        )
        m = ChainTM(chained, noise)
    return _assert_privacy(wrap(m), d_in_e, d_out)


def create_count_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    noise_mechanism: Optional[NoiseMechanism] = None,
    groupby_transformation: Optional[GroupBy] = None,
    count_column: str = "count",
) -> Measurement:
    def factory(domain, metric, count_column=count_column):
        if groupby_transformation is None:
            return Count(domain, metric)
        return CountGrouped(domain, metric, count_column=count_column)

    return _create_count_like(
        factory,
        input_domain,
        input_metric,
        output_measure,
        d_in,
        d_out,
        noise_mechanism,
        groupby_transformation,
        count_column,
    )


def create_count_distinct_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    noise_mechanism: Optional[NoiseMechanism] = None,
    groupby_transformation: Optional[GroupBy] = None,
    count_column: str = "count_distinct",
) -> Measurement:
    def factory(domain, metric, count_column=count_column):
        if groupby_transformation is None:
            return CountDistinct(domain, metric)
        return CountDistinctGrouped(domain, metric, count_column=count_column)

    return _create_count_like(
        factory,
        input_domain,
        input_metric,
        output_measure,
        d_in,
        d_out,
        noise_mechanism,
        groupby_transformation,
        count_column,
    )


# ---------------------------------------------------------------------------
# sum
# ---------------------------------------------------------------------------


def create_sum_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    measure_column: str,
    lower: ExactNumberInput,
    upper: ExactNumberInput,
    noise_mechanism: Optional[NoiseMechanism] = None,
    groupby_transformation: Optional[GroupBy] = None,
    sum_column: Optional[str] = None,
) -> Measurement:
    core, eps_like, wrap = _route_measure(output_measure, d_out)
    integral = isinstance(input_domain[measure_column], SparkIntegerColumnDescriptor)
    mechanism = noise_mechanism or _default_mechanism(core, integral=integral)
    _check_mechanism_measure(mechanism, core)
    d_in_e = ExactNumber(d_in)
    scalar_domain = NumpyIntegerDomain() if integral else NumpyFloatDomain()

    if groupby_transformation is None:
        sum_t = Sum(input_domain, input_metric, measure_column, lower, upper)
        scale = calculate_noise_scale(sum_t.stability_function(d_in_e), eps_like, core)
        mech = _make_mechanism(mechanism, scale, scalar_domain)
        m = ChainTM(sum_t, mech)
    else:
        gb = groupby_transformation
        if gb.input_domain != input_domain or gb.input_metric != input_metric:
            raise ValueError("groupby_transformation does not match input domain/metric")
        sum_t = SumGrouped(
            gb.output_domain, gb.output_metric, measure_column, lower, upper, sum_column
        )
        chained = ChainTT(gb, sum_t)
        scale = calculate_noise_scale(
            chained.stability_function(d_in_e), eps_like, core
        )
        mech = AddNoiseToSeries(_make_mechanism(mechanism, scale, scalar_domain))
        noise = AddNoiseToColumn(
            sum_t.output_domain, mech, sum_t.sum_column,
            known_release_rows=gb.n_keys,
        )
        m = ChainTM(chained, noise)
    return _assert_privacy(wrap(m), d_in_e, d_out)


# ---------------------------------------------------------------------------
# average / variance / stddev
# ---------------------------------------------------------------------------


def get_midpoint(lower: ExactNumber, upper: ExactNumber, integral: bool) -> ExactNumber:
    """Midpoint of the clipping range; floored for integer columns so
    deviations stay integral (geometric-noise path)."""
    mid = (lower + upper) / 2
    if integral and not mid.is_integer:
        import sympy as sp

        mid = ExactNumber(sp.floor(mid.expr))
    return mid


def create_average_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    measure_column: str,
    lower: ExactNumberInput,
    upper: ExactNumberInput,
    noise_mechanism: Optional[NoiseMechanism] = None,
    groupby_transformation: Optional[GroupBy] = None,
    average_column: Optional[str] = None,
    keep_intermediates: bool = False,
    sum_column: Optional[str] = None,
    count_column: Optional[str] = None,
) -> Measurement:
    """Noisy average = (noisy sum-of-deviations)/(max(1, noisy count))
    + midpoint, each statistic at half the budget.

    Single-pass: both statistics come from ONE aggregation scan
    (:class:`FusedMomentsMeasurement`) — the compositional reference
    recipe costs two full scans (``aggregations.py:829-1117``).

    With ``keep_intermediates`` the noisy sum-of-deviations and noisy
    count accompany the average: extra dict entries ungrouped, extra
    ``sum_column`` / ``count_column`` columns grouped (reference
    ``aggregations.py:1029-1035, 1110-1112``).
    """
    lower_e, upper_e = ExactNumber(lower), ExactNumber(upper)
    average_column = average_column or f"avg({measure_column})"
    sum_column = sum_column or f"sum({measure_column})"
    count_column = count_column or "count"
    desc = input_domain[measure_column]
    integral = isinstance(desc, SparkIntegerColumnDescriptor)
    mid_f = get_midpoint(lower_e, upper_e, integral).to_float(round_up=False)

    if groupby_transformation is None:

        def post(stats):
            average = float(stats["sod"] / max(1.0, stats["count"]) + mid_f)
            if keep_intermediates:
                return {
                    "average": average,
                    "sum_of_deviations": stats["sod"],
                    "count": stats["count"],
                    "midpoint": mid_f,
                }
            return average

    else:
        keys = groupby_transformation.groupby_columns

        def post(df):
            avg = (
                F.col("sod") / F.greatest(F.col("count"), F.lit(1)) + F.lit(mid_f)
            ).alias(average_column)
            if keep_intermediates:
                return df.select(
                    *[F.col(f"`{c}`") for c in keys],
                    avg,
                    F.col("sod").alias(sum_column),
                    F.col("count").alias(count_column),
                )
            return df.select(*[F.col(f"`{c}`") for c in keys], avg)

    m = FusedMomentsMeasurement(
        input_domain, input_metric, output_measure, d_in, d_out,
        measure_column, lower_e, upper_e, include_squares=False,
        groupby_transformation=groupby_transformation,
        postprocess=post, noise_mechanism=noise_mechanism,
    )
    return _assert_privacy(m, ExactNumber(d_in), d_out)


def create_variance_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    measure_column: str,
    lower: ExactNumberInput,
    upper: ExactNumberInput,
    noise_mechanism: Optional[NoiseMechanism] = None,
    groupby_transformation: Optional[GroupBy] = None,
    variance_column: Optional[str] = None,
    keep_intermediates: bool = False,
    sum_of_deviations_column: Optional[str] = None,
    sum_of_squared_deviations_column: Optional[str] = None,
    count_column: Optional[str] = None,
    _sqrt_output: bool = False,
) -> Measurement:
    """Noisy population variance via sod + sum-of-squared-deviations +
    count (each at d_out/3): var = sos/n - (sod/n)^2 (midpoint shifts
    cancel), clamped to >= 0 — all three statistics from ONE scan.

    With ``keep_intermediates`` the three noisy statistics accompany
    the variance: extra dict entries ungrouped, extra
    ``sum_of_deviations_column`` / ``sum_of_squared_deviations_column``
    / ``count_column`` columns grouped (reference
    ``aggregations.py:1134-1137, 1564-1567``) — the hook the noise
    distribution tests use to check each statistic against its own law
    instead of the intractable composed ratio distribution.
    """
    lower_e, upper_e = ExactNumber(lower), ExactNumber(upper)
    variance_column = variance_column or (
        f"var({measure_column})" if not _sqrt_output else f"stddev({measure_column})"
    )
    sum_of_deviations_column = (
        sum_of_deviations_column or f"sum_of_deviations({measure_column})"
    )
    sum_of_squared_deviations_column = (
        sum_of_squared_deviations_column
        or f"sum_of_squared_deviations({measure_column})"
    )
    count_column = count_column or "count"
    sqrt_out = _sqrt_output

    if groupby_transformation is None:

        def post(stats):
            n = max(1.0, stats["count"])
            var = max(0.0, stats["sos"] / n - (stats["sod"] / n) ** 2)
            out = float(var**0.5) if sqrt_out else float(var)
            if keep_intermediates:
                return {
                    ("standard_deviation" if sqrt_out else "variance"): out,
                    "sum_of_deviations": stats["sod"],
                    "sum_of_squared_deviations": stats["sos"],
                    "count": stats["count"],
                }
            return out

    else:
        keys = groupby_transformation.groupby_columns

        def post(df):
            n = F.greatest(F.col("count"), F.lit(1))
            # (sod/n) * (sod/n), not F.pow(..., 2): Math.pow is only
            # 1-ulp-accurate, a plain double multiply is exact and
            # bitwise-reproducible across engines (oracle parity)
            ratio = F.col("sod") / n
            var = F.greatest(F.col("sos") / n - ratio * ratio, F.lit(0.0))
            out = F.sqrt(var) if sqrt_out else var
            cols = [*[F.col(f"`{c}`") for c in keys], out.alias(variance_column)]
            if keep_intermediates:
                cols += [
                    F.col("sod").alias(sum_of_deviations_column),
                    F.col("sos").alias(sum_of_squared_deviations_column),
                    F.col("count").alias(count_column),
                ]
            return df.select(*cols)

    m = FusedMomentsMeasurement(
        input_domain, input_metric, output_measure, d_in, d_out,
        measure_column, lower_e, upper_e, include_squares=True,
        groupby_transformation=groupby_transformation,
        postprocess=post, noise_mechanism=noise_mechanism,
    )
    return _assert_privacy(m, ExactNumber(d_in), d_out)


def create_standard_deviation_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_in: ExactNumberInput,
    d_out,
    measure_column: str,
    lower: ExactNumberInput,
    upper: ExactNumberInput,
    noise_mechanism: Optional[NoiseMechanism] = None,
    groupby_transformation: Optional[GroupBy] = None,
    standard_deviation_column: Optional[str] = None,
    keep_intermediates: bool = False,
    sum_of_deviations_column: Optional[str] = None,
    sum_of_squared_deviations_column: Optional[str] = None,
    count_column: Optional[str] = None,
) -> Measurement:
    return create_variance_measurement(
        input_domain,
        input_metric,
        output_measure,
        d_in,
        d_out,
        measure_column,
        lower,
        upper,
        noise_mechanism,
        groupby_transformation,
        variance_column=standard_deviation_column,
        keep_intermediates=keep_intermediates,
        sum_of_deviations_column=sum_of_deviations_column,
        sum_of_squared_deviations_column=sum_of_squared_deviations_column,
        count_column=count_column,
        _sqrt_output=True,
    )


# ---------------------------------------------------------------------------
# partition selection
# ---------------------------------------------------------------------------


def create_partition_selection_measurement(
    input_domain: SparkDataFrameDomain,
    epsilon: ExactNumberInput,
    delta: ExactNumberInput,
    d_in: ExactNumberInput = 1,
    count_column: Optional[str] = None,
) -> Measurement:
    """Solve (epsilon, delta) -> (alpha, threshold) exactly, then build
    GeometricPartitionSelection (reference ``aggregations.py:1993-2045``)."""
    from ..utils.distributions import (
        double_sided_geometric_cmf_exact,
        double_sided_geometric_inverse_cmf_exact,
    )
    from .spark import GeometricPartitionSelection

    import sympy as sp

    from ..measures import ApproxDPBudget

    eps = ExactNumber(epsilon)
    dlt = ExactNumber(delta)
    d = ExactNumber(d_in)
    if eps <= 0 or dlt <= 0 or dlt > 1:
        raise ValueError("Need epsilon > 0 and 0 < delta <= 1")
    if d < 1:
        raise NotImplementedError(
            "Creating a partition selection measurement with d_in < 1 is "
            "not supported (reference aggregations.py:2024)"
        )
    if not ApproxDPBudget(eps, dlt).is_finite():
        # Infinite budget (eps = inf or delta = 1): no noise, no
        # threshold — every nonempty group is released exactly
        # (reference aggregations.py:2044-2046 returns alpha=0,
        # threshold=0 instead of attempting the CMF solve, which
        # would crash on p outside (0, 1]).
        return GeometricPartitionSelection(
            input_domain, 0, 0, count_column=count_column
        )
    alpha = d / eps
    # smallest threshold tau with 1 - CMF_alpha(tau - 2) <= delta_1,
    # where delta_1 is the d_in=1 delta whose group-privacy composition
    # (d * e^eps * delta_1, GeometricPartitionSelection.privacy_function)
    # lands exactly on the requested delta — solving with the raw delta
    # at d_in > 1 produced a measurement whose own soundness assert
    # below rejected it (r16 fix; reference aggregations.py:2033-2037)
    target = dlt if d == 1 else dlt / (d * ExactNumber(sp.exp(eps.expr)))
    k = double_sided_geometric_inverse_cmf_exact(ExactNumber(1) - target, alpha)
    threshold = k + 2
    m = GeometricPartitionSelection(
        input_domain, threshold, alpha, count_column=count_column
    )
    actual_eps, actual_delta = m.privacy_function(d)
    # explicit raise, not `assert`: the solved-threshold soundness
    # check must survive `python -O` (r17)
    if not (actual_eps <= eps and actual_delta <= dlt):
        raise AssertionError(
            f"partition selection solved wrong: ({actual_eps}, {actual_delta}) "
            f"> ({eps}, {dlt})"
        )
    return m


# ---------------------------------------------------------------------------
# bounds (magnitude estimation via SVT)
# ---------------------------------------------------------------------------


def create_bounds_measurement(
    input_domain: SparkDataFrameDomain,
    input_metric: Metric,
    output_measure: Measure,
    d_out,
    measure_column: str,
    threshold: float = 0.95,
    d_in: ExactNumberInput = 1,
    groupby_transformation: Optional[GroupBy] = None,
    upper_bound_column: Optional[str] = None,
    lower_bound_column: Optional[str] = None,
) -> Measurement:
    """DP estimate of symmetric magnitude bounds (-2^r, 2^r) for a column.

    Recipe (reference ``aggregations.py:2059-2210``): map each value to
    its power-of-two magnitude bin (``rank = ceil(log2(|x|))``,
    clamped), count per (group, rank) over the full public rank
    domain, then :class:`SparseVectorPrefixSums` releases the first
    rank whose noisy prefix sum crosses ``threshold`` of the noisy
    total; bounds are ``(-2^rank, 2^rank)``.

    The bin-index map is a JVM SQL expression here (the reference uses
    a Python row Map); everything up to the noise UDFs stays in
    WholeStageCodegen.

    zCDP / ApproxDP requests route through PureDP: ``eps =
    sqrt(2 rho)`` or ``(eps, 0)``.
    """
    import sympy as sp

    from pyspark.sql import SparkSession
    from ..domains import SparkIntegerColumnDescriptor as _Int
    from .converters import PureDPToRhoZCDP
    from .spark import SparseVectorPrefixSums

    if not isinstance(output_measure, PureDP):
        core, core_d_out, wrap = _route_measure(output_measure, d_out)
        if isinstance(core, RhoZCDP):
            # SVT is a pure-DP primitive: spend rho as eps = sqrt(2 rho)
            # (PureDPToRhoZCDP); ApproxDP delta > 0 then converts the
            # rho back via RhoZCDPToApproxDP (Bun-Steinke)
            eps = ExactNumber(sp.sqrt((2 * core_d_out).expr))
            return wrap(
                PureDPToRhoZCDP(
                    create_bounds_measurement(
                        input_domain, input_metric, PureDP(), eps, measure_column,
                        threshold, d_in, groupby_transformation,
                        upper_bound_column, lower_bound_column,
                    )
                )
            )
        return wrap(
            create_bounds_measurement(
                input_domain, input_metric, PureDP(), core_d_out, measure_column,
                threshold, d_in, groupby_transformation,
                upper_bound_column, lower_bound_column,
            )
        )

    d_in_e = ExactNumber(d_in)
    eps = ExactNumber(d_out)
    if d_in_e < 1:
        raise ValueError("bounds requires d_in >= 1")
    upper_bound_column = upper_bound_column or f"upper_bound({measure_column})"
    lower_bound_column = lower_bound_column or f"lower_bound({measure_column})"

    desc = input_domain[measure_column]
    integral = isinstance(desc, _Int)
    rank_col = "__rank"
    lo_rank, hi_rank = (0, 62) if integral else (-100, 100)

    # bin index: ceil(log2(|x|)) clamped; 0 maps to the lowest rank
    col = f"`{measure_column}`"
    expr = (
        f"cast(least(greatest(CASE WHEN {col} = 0 THEN {lo_rank} ELSE "
        f"ceil(log2(abs(cast({col} as double)))) END, {lo_rank}), {hi_rank}) as int)"
    )
    from ..transformations.derive import DeriveColumn
    from ..domains import SparkIntegerColumnDescriptor

    derive = DeriveColumn(
        input_domain,
        input_metric,
        rank_col,
        expr,
        SparkIntegerColumnDescriptor(size=32),
    )

    spark = SparkSession.active()
    from ..utils.misc import local_rows_df
    from pyspark.sql import types as _T

    # JVM-local single-partition grid: a parallelized Python row list
    # costs one Python task per core per evaluation of the rank
    # relation (utils.misc.local_rows_df), and this grid is evaluated
    # by the 0-fill join, the SVT persist, and the release freeze
    rank_keys = local_rows_df(
        spark,
        [(i,) for i in range(lo_rank, hi_rank + 1)],
        _T.StructType([_T.StructField(rank_col, _T.IntegerType(), False)]),
    )
    n_ranks = hi_rank - lo_rank + 1
    if groupby_transformation is None:
        keys = rank_keys
        group_cols: List[str] = []
        n_grid = n_ranks
    else:
        gb = groupby_transformation
        if gb.input_domain != input_domain or gb.input_metric != input_metric:
            raise ValueError("groupby_transformation does not match input")
        keys = gb.group_keys.crossJoin(rank_keys)
        group_cols = gb.groupby_columns
        # public constant (#keys) x (#ranks): feeds the SVT
        # driver-release gate below
        n_grid = gb.n_keys * n_ranks

    full_gb = GroupBy(derive.output_domain, input_metric, False, keys, n_keys=n_grid)
    count_t = CountGrouped(full_gb.output_domain, full_gb.output_metric, "__count")
    pre = ChainTT(ChainTT(derive, full_gb), count_t)
    stability = pre.stability_function(d_in_e)
    # SVT privacy = 4 d / alpha  =>  alpha = 4 d / eps
    alpha = ExactNumber(4) * stability / eps
    svt = SparseVectorPrefixSums(
        count_t.output_domain,
        count_column="__count",
        rank_column=rank_col,
        alpha=alpha,
        grouping_columns=group_cols,
        threshold_fraction=float(threshold),
        known_input_rows=n_grid,
    )
    m = ChainTM(pre, svt)

    if groupby_transformation is None:

        def post(df: DataFrame):
            r = df.first()[rank_col]
            bound = float(2**r) if not integral else int(2**r)
            return (-bound, bound)

    else:

        def post(df: DataFrame):
            bound = F.pow(F.lit(2.0), F.col(rank_col))
            if integral:
                bound = bound.cast("long")
            return df.select(
                *[F.col(c) for c in group_cols],
                (-bound).alias(lower_bound_column),
                bound.alias(upper_bound_column),
            )

    result = PostProcess(m, post)
    return _assert_privacy(result, d_in_e, eps)


# ---------------------------------------------------------------------------
# fused single-pass moments (average / variance at scale)
# ---------------------------------------------------------------------------


class FusedMomentsMeasurement(Measurement):
    """Noisy (sum-of-deviations [, sum-of-squared-deviations], count) in
    ONE aggregation pass, with independent noise per statistic.

    The compositional recipe (reference ``aggregations.py:829-1330``)
    runs one measurement per statistic — i.e. 2-3 full scans of the
    input.  Here a single groupBy computes all clipped moments at once
    (map-side combined), then per-column nondeterministic noise UDFs
    run over the group-cardinality relation.  The privacy analysis is
    unchanged: the statistics receive independent noise, so the total
    loss is the sum of the per-statistic losses at their assigned
    budget shares.

    ``postprocess(noisy_df_or_row) -> output`` shapes the final result
    (average / variance / stddev).
    """

    def __init__(
        self,
        input_domain: SparkDataFrameDomain,
        input_metric: Metric,
        output_measure: Measure,
        d_in: ExactNumberInput,
        d_out,
        measure_column: str,
        lower: ExactNumberInput,
        upper: ExactNumberInput,
        include_squares: bool,
        groupby_transformation: Optional[GroupBy],
        postprocess,
        noise_mechanism: Optional[NoiseMechanism] = None,
    ):
        core, eps_like, _ = _route_measure(output_measure, d_out)
        self._delta = (
            ExactNumber(d_out[1]) if isinstance(output_measure, ApproxDP) else None
        )
        n_stats = 3 if include_squares else 2
        share = eps_like / n_stats
        d_in_e = ExactNumber(d_in)
        lower_e, upper_e = ExactNumber(lower), ExactNumber(upper)
        # nulls would be skipped by sum() but counted by count(1),
        # silently biasing the ratio — reject them like Sum does
        # (reference _check_measure_column discipline)
        from ..transformations.agg import _check_measure_column

        desc = _check_measure_column(input_domain, measure_column)
        integral = isinstance(desc, SparkIntegerColumnDescriptor)
        mid = get_midpoint(lower_e, upper_e, integral)
        dev_lo, dev_hi = lower_e - mid, upper_e - mid
        mechanism = noise_mechanism or _default_mechanism(core, integral=integral)
        _check_mechanism_measure(mechanism, core)

        gb = groupby_transformation
        if gb is not None and (
            gb.input_domain != input_domain or gb.input_metric != input_metric
        ):
            raise ValueError("groupby_transformation does not match input")
        super().__init__(input_domain, input_metric, output_measure)
        self.groupby = gb
        # per-statistic sensitivity per unit of stability: the noise
        # scales below and privacy_function both read it
        self._unit_sens = {
            "sod": max(abs(dev_lo), abs(dev_hi)),
            "count": ExactNumber(1),
        }
        if include_squares:
            self._unit_sens["sos"] = max(dev_lo**2, dev_hi**2)
        stability = self._stability(d_in_e)
        stat_domain = NumpyIntegerDomain() if integral else NumpyFloatDomain()
        count_mechanism = (
            NoiseMechanism.GEOMETRIC
            if isinstance(core, PureDP)
            else NoiseMechanism.DISCRETE_GAUSSIAN
        )
        self._mechs = {
            s: _make_mechanism(
                count_mechanism if s == "count" else mechanism,
                calculate_noise_scale(stability * unit, share, core),
                NumpyIntegerDomain() if s == "count" else stat_domain,
            )
            for s, unit in self._unit_sens.items()
        }
        self.measure_column = measure_column
        self.include_squares = include_squares
        self.postprocess = postprocess
        self._integral = integral
        self._lower, self._upper, self._mid = lower_e, upper_e, mid
        self._core = core
        self._output_measure_outer = output_measure

    def _stability(self, d: ExactNumber) -> ExactNumber:
        if self.groupby is not None:
            return self.groupby.stability_function(d)
        return d * (2 if isinstance(self.input_metric, HammingDistance) else 1)

    def privacy_function(self, d_in: Any):
        stability = self._stability(ExactNumber(d_in))
        total = ExactNumber(0)
        for s, mech in self._mechs.items():
            unit = self._unit_sens[s]
            total = total + ExactNumber(mech.privacy_function(stability * unit))
        if isinstance(self._output_measure_outer, ApproxDP):
            if self._delta is None or self._delta == 0:
                return (total, ExactNumber(0))
            # core ran under zCDP: convert the summed rho back to
            # (eps, delta) exactly as RhoZCDPToApproxDP does
            if not total.is_finite or total == 0:
                return (total, self._delta)
            eps = total.expr + 2 * sp.sqrt(total.expr * sp.log(1 / self._delta.expr))
            return (ExactNumber(eps), self._delta)
        return total

    def _agg_exprs(self):
        from ..transformations.agg import _clip_expr

        clip = _clip_expr(self.measure_column, self._lower, self._upper, self._integral)
        if self._integral:
            mid = int(self._mid.expr)
            dev = clip - F.lit(mid)
            cast_t = "long"
        else:
            mid = self._mid.to_float(round_up=False)
            dev = clip - F.lit(mid)
            # subtracting the rounded-down float midpoint can push a
            # boundary value one ulp past the EXACT deviation bounds
            # the sensitivities were computed from — clamp inward, the
            # same invariant the reference enforces by running its
            # deviations column through a clipped Sum
            dev_lo_f = (self._lower - self._mid).to_float(round_up=True)
            dev_hi_f = (self._upper - self._mid).to_float(round_up=False)
            if dev_lo_f > dev_hi_f:
                dev_hi_f = dev_lo_f
            dev = F.least(F.greatest(dev, F.lit(dev_lo_f)), F.lit(dev_hi_f))
            cast_t = "double"
        exprs = [
            F.sum(dev).cast(cast_t).alias("sod"),
            F.count(F.lit(1)).alias("count"),
        ]
        if self.include_squares:
            exprs.insert(1, F.sum(dev * dev).cast(cast_t).alias("sos"))
        return exprs

    def __call__(self, data: DataFrame):
        from ..utils import misc

        exprs = self._agg_exprs()
        if self.groupby is not None:
            gdf = self.groupby(data)
            # one row per public key, every statistic 0-filled
            joined = gdf.agg(*exprs, fill_value=0)
            mechs = [(s, AddNoiseToSeries(m)) for s, m in self._mechs.items()]
            known_rows = gdf.n_keys
            # small public-key bound: draw all three statistics' noise
            # driver-side over the pre-noise aggregate — one job, no
            # ArrowEvalPython stages (utils.misc.freeze_noised_release);
            # large key sets noise on the executors
            if known_rows <= misc.SMALL_RELEASE_ROWS:
                return self.postprocess(
                    misc.freeze_noised_release(joined, mechs, known_rows)
                )
            noisy = joined.withColumns(
                {s: noise_column(m)(joined[s]) for s, m in mechs}
            )
            return self.postprocess(
                misc.sanitize_df(noisy, known_rows=known_rows)
            )
        row = data.agg(*exprs).first()
        stats = {}
        for s in ("sod", "sos", "count"):
            if s in row.asDict():
                mech = self._mechs.get(s)
                val = row[s] or 0
                stats[s] = float(mech(val)) if mech else float(val)
        return self.postprocess(stats)
