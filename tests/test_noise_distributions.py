"""Distributional tests: sampler outputs match the analytic PMFs/CDFs
(chi-squared for discrete, Kolmogorov-Smirnov for continuous), plus one
full-Spark-path check drawing many iid noisy counts via a grouped
query (the reference's FixedGroupDataSet technique)."""

import math

import numpy as np
import pytest

from tumult_core_spark import samplers
from tumult_core_spark.utils.distributions import (
    discrete_gaussian_cmf,
    discrete_gaussian_pmf,
    double_sided_geometric_cmf,
    double_sided_geometric_pmf,
)

# 200k-sample distribution sweeps: full lane only (fast lane = -m "not slow")
pytestmark = pytest.mark.slow

N = 200_000
P_THRESHOLD = 1e-4  # reject only on overwhelming evidence


def ks_statistic(samples: np.ndarray, cdf) -> float:
    x = np.sort(samples)
    n = len(x)
    d_plus = np.max(np.arange(1, n + 1) / n - cdf(x))
    d_minus = np.max(cdf(x) - np.arange(0, n) / n)
    return max(d_plus, d_minus)


def ks_pvalue(d: float, n: int) -> float:
    # asymptotic Kolmogorov distribution
    t = (math.sqrt(n) + 0.12 + 0.11 / math.sqrt(n)) * d
    s = 0.0
    for k in range(1, 101):
        s += (-1) ** (k - 1) * math.exp(-2 * k * k * t * t)
    return max(0.0, min(1.0, 2 * s))


def chi2_pvalue(observed, expected):
    mask = expected > 5
    stat = float(((observed[mask] - expected[mask]) ** 2 / expected[mask]).sum())
    dof = int(mask.sum()) - 1
    # Wilson-Hilferty approximation of the chi-squared tail
    if dof <= 0:
        return 1.0
    z = ((stat / dof) ** (1 / 3) - (1 - 2 / (9 * dof))) / math.sqrt(2 / (9 * dof))
    return 0.5 * math.erfc(z / math.sqrt(2))


class TestSamplerDistributions:
    def test_exact_vec_geometric_chi2(self):
        from fractions import Fraction

        s = samplers.two_sided_geometric_exact_vec(Fraction(3), N)
        support = np.arange(-30, 31)
        observed = np.array([(s == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, 3.0) * N
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_exact_vec_geometric_irrational_scale_chi2(self):
        # non-dyadic, non-integer scale exercises the enclosure margins
        from fractions import Fraction

        scale = Fraction(31415926535897932, 10**16)  # ~pi
        s = samplers.two_sided_geometric_exact_vec(scale, N)
        support = np.arange(-35, 36)
        observed = np.array([(s == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, float(scale)) * N
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_exact_vec_discrete_gaussian_chi2(self):
        from fractions import Fraction

        s = samplers.discrete_gaussian_exact_vec(Fraction(6), N)
        support = np.arange(-15, 16)
        observed = np.array([(s == k).sum() for k in support], dtype=float)
        expected = discrete_gaussian_pmf(support, 6.0) * N
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_resolve_band_index_agrees_with_certified(self):
        # the rigorous per-value fallback and the certified float pass
        # must implement the same map u -> floor(-scale ln u)
        import mpmath
        from fractions import Fraction

        scale = Fraction(5)
        g = samplers.rng()
        for m in map(int, g.integers(1, 1 << 53, size=50)):
            r = samplers._resolve_band_index(m, 53, scale)
            with mpmath.workprec(200):
                a = -mpmath.log(mpmath.mpf(m) / 2**53) * 5
                b = -mpmath.log((mpmath.mpf(m) + 1) / 2**53) * 5
            ka, kb = int(mpmath.floor(a)), int(mpmath.floor(b))
            # interval [b, a]; if it straddles band boundaries the
            # resolution may land in any straddled band
            assert kb <= r <= ka, (m, r, kb, ka)

    def test_exact_geometric_matches_distribution(self):
        from fractions import Fraction

        from tumult_core_spark.measurements.noise import AddGeometricNoise

        mech = AddGeometricNoise(Fraction(2))
        s = np.array([mech(0) for _ in range(4000)])
        support = np.arange(-8, 9)
        observed = np.array([(s == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, 2.0) * len(s)
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_exact_discrete_gaussian_matches_distribution(self):
        from fractions import Fraction

        from tumult_core_spark.measurements.noise import AddDiscreteGaussianNoise

        mech = AddDiscreteGaussianNoise(Fraction(3))
        s = np.array([mech(0) for _ in range(4000)])
        support = np.arange(-8, 9)
        observed = np.array([(s == k).sum() for k in support], dtype=float)
        expected = discrete_gaussian_pmf(support, 3.0) * len(s)
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_exact_laplace_ks(self):
        from fractions import Fraction

        from tumult_core_spark.domains import NumpyFloatDomain
        from tumult_core_spark.measurements.noise import AddLaplaceNoise

        scale = 2.5
        n = 3000
        mech = AddLaplaceNoise(NumpyFloatDomain(), Fraction(scale))
        s = np.array([mech(0.0) for _ in range(n)])

        def cdf(x):
            x = np.asarray(x, dtype=float)
            return np.where(
                x < 0, 0.5 * np.exp(x / scale), 1 - 0.5 * np.exp(-x / scale)
            )

        p = ks_pvalue(ks_statistic(s, cdf), n)
        assert p > P_THRESHOLD, f"KS p={p}"

    def test_exact_gaussian_ks(self):
        from tumult_core_spark.domains import NumpyFloatDomain
        from tumult_core_spark.measurements.noise import AddGaussianNoise

        n = 400
        mech = AddGaussianNoise(NumpyFloatDomain(), 4)
        s = np.array([mech(0.0) for _ in range(n)])

        def cdf(x):
            return 0.5 * (
                1 + np.vectorize(math.erf)(np.asarray(x) / (2 * math.sqrt(2)))
            )

        p = ks_pvalue(ks_statistic(s, cdf), n)
        assert p > P_THRESHOLD, f"KS p={p}"

    def test_exact_vec_laplace_ks(self):
        from tumult_core_spark import exact_sampling as es

        scale = 2.5
        n = 100_000
        s = es.laplace_exact_vec(np.zeros(n), scale)

        def cdf(x):
            x = np.asarray(x, dtype=float)
            return np.where(
                x < 0, 0.5 * np.exp(x / scale), 1 - 0.5 * np.exp(-x / scale)
            )

        p = ks_pvalue(ks_statistic(s, cdf), n)
        assert p > P_THRESHOLD, f"KS p={p}"
        # nonzero location: the value sits INSIDE the certification
        s2 = es.laplace_exact_vec(np.full(n, 1234.5), scale)
        p = ks_pvalue(ks_statistic(s2 - 1234.5, cdf), n)
        assert p > P_THRESHOLD, f"shifted KS p={p}"

    def test_exact_vec_gaussian_ks(self):
        from tumult_core_spark import exact_sampling as es

        n = 100_000
        s = es.gaussian_exact_vec(np.zeros(n), 4.0)

        def cdf(x):
            return 0.5 * (
                1 + np.vectorize(math.erf)(np.asarray(x) / (2 * math.sqrt(2)))
            )

        p = ks_pvalue(ks_statistic(s, cdf), n)
        assert p > P_THRESHOLD, f"KS p={p}"

    def test_exact_vec_correctly_rounded(self):
        """Every vectorized draw must be the CORRECTLY-ROUNDED image of
        its revealed 106-bit uniform prefix: re-derive the prefixes
        from a seeded generator and compare against 300-bit mpmath
        evaluations of the same transform at the prefix midpoint (for
        a certified element, the whole prefix interval rounds to the
        output double, so the midpoint image must equal it)."""
        import os

        import mpmath

        from tumult_core_spark import exact_sampling as es

        n = 400
        b, mu = 1.75, 42.0
        seed = 987654321

        def seeded():
            samplers._GENERATOR = np.random.default_rng(seed)
            samplers._GENERATOR_PID = os.getpid()

        try:
            seeded()
            lap = es.laplace_exact_vec(np.full(n, mu), b)
            seeded()
            g = samplers.rng()
            m1 = g.integers(0, 1 << 53, size=n, dtype=np.int64)
            m2 = g.integers(0, 1 << 53, size=n, dtype=np.int64)
            with mpmath.workprec(300):
                for i in range(n):
                    # midpoint of [bits, bits+1)/2^106 as exact dyadic
                    num = ((int(m1[i]) << 53) | int(m2[i])) * 2 + 1
                    p = mpmath.mpf(num) / mpmath.mpf(1 << 107)
                    d = p - mpmath.mpf("0.5")
                    want = float(
                        mpmath.mpf(mu)
                        - mpmath.mpf(b)
                        * mpmath.sign(d)
                        * mpmath.log(1 - 2 * abs(d))
                    )
                    assert lap[i] == want, (i, lap[i], want)

            sigma_sq = 3.0
            seeded()
            gau = es.gaussian_exact_vec(np.zeros(n), sigma_sq)
            seeded()
            g = samplers.rng()
            nc = (n + 1) // 2  # one (u, v) pair per TWO outputs
            u1 = g.integers(0, 1 << 53, size=nc, dtype=np.int64)
            u2 = g.integers(0, 1 << 53, size=nc, dtype=np.int64)
            v1 = g.integers(0, 1 << 53, size=nc, dtype=np.int64)
            v2 = g.integers(0, 1 << 53, size=nc, dtype=np.int64)
            with mpmath.workprec(300):
                sig = mpmath.sqrt(mpmath.mpf(sigma_sq))
                for i in range(nc):
                    un = (((int(u1[i]) << 53) | int(u2[i])) * 2 + 1)
                    vn = (((int(v1[i]) << 53) | int(v2[i])) * 2 + 1)
                    u = mpmath.mpf(un) / mpmath.mpf(1 << 107)
                    v = mpmath.mpf(vn) / mpmath.mpf(1 << 107)
                    radius = sig * mpmath.sqrt(-2 * mpmath.log(u))
                    want_c = float(radius * mpmath.cos(2 * mpmath.pi * v))
                    assert gau[i] == want_c, (i, gau[i], want_c)
                    if nc + i < n:
                        want_s = float(radius * mpmath.sin(2 * mpmath.pi * v))
                        assert gau[nc + i] == want_s, (i, gau[nc + i], want_s)
        finally:
            samplers._GENERATOR = None  # reseed from urandom next use

    def test_exact_vec_fallback_resolver_agrees(self):
        """The scalar resolvers must return the same double the fast
        path certifies, given the same prefix (they are two
        evaluations of one function)."""
        import os

        from tumult_core_spark import exact_sampling as es

        seed = 24680
        samplers._GENERATOR = np.random.default_rng(seed)
        samplers._GENERATOR_PID = os.getpid()
        try:
            n = 200
            vec = es.laplace_exact_vec(np.zeros(n), 3.25)
            samplers._GENERATOR = np.random.default_rng(seed)
            g = samplers.rng()
            m1 = g.integers(0, 1 << 53, size=n, dtype=np.int64)
            m2 = g.integers(0, 1 << 53, size=n, dtype=np.int64)
            for i in range(n):
                got = es._resolve_laplace(
                    0.0, 3.25, (int(m1[i]) << 53) | int(m2[i]), 106
                )
                assert got == vec[i], (i, got, vec[i])
        finally:
            samplers._GENERATOR = None

    def test_exact_uniform_ks(self):
        from tumult_core_spark import exact_sampling as es

        n = 5000
        s = np.array([es.sample_uniform(-1.5, 2.5) for _ in range(n)])
        p = ks_pvalue(
            ks_statistic(s, lambda x: np.clip((np.asarray(x) + 1.5) / 4.0, 0, 1)), n
        )
        assert p > P_THRESHOLD, f"KS p={p}"

    def test_exact_argmax_selection_stable_under_ties(self):
        # Float-rounding regression: two intervals with *identical* exact
        # scores must be decided by the refinement loop (never an
        # arbitrary float comparison) and picked ~uniformly.
        from fractions import Fraction

        from tumult_core_spark import exact_sampling as es

        picks = [
            es.select_noisy_argmax(
                np.array([1.0, 1.0]),
                np.array([0.25, 0.25]),
                lambda i: Fraction(1),
                lambda i: Fraction(1, 4),
            )
            for _ in range(600)
        ]
        r = sum(p == 0 for p in picks) / len(picks)
        assert 0.4 < r < 0.6
        # Near-tie below float resolution: still terminates, still valid
        tiny = Fraction(1, 10**40)
        picks2 = {
            es.select_noisy_argmax(
                np.array([1.0, 1.0]),
                np.array([0.0, 0.0]),
                lambda i: Fraction(1),
                lambda i: tiny if i else Fraction(0),
            )
            for _ in range(20)
        }
        assert picks2 <= {0, 1}

    def test_exact_samplers_huge_denominators(self):
        # Fraction(float) parameters have ~2^52 denominators, squared to
        # ~2^104 inside the acceptance gamma; the exact acceptance test
        # must handle arbitrary-precision denominators (regression:
        # NumPy integers() raised ValueError past int64).
        from fractions import Fraction

        from tumult_core_spark.measurements.noise import (
            AddDiscreteGaussianNoise,
            AddGeometricNoise,
        )

        s2 = Fraction(2.3456789012345)  # denominator ~2^51
        dgauss = AddDiscreteGaussianNoise(s2)
        draws = [dgauss(0) for _ in range(50)]
        assert all(isinstance(d, np.int64) for d in draws)
        assert any(d != 0 for d in draws)
        geo = AddGeometricNoise(Fraction(1.9999999999991))
        g = [geo(0) for _ in range(50)]
        assert any(x != 0 for x in g)


class TestFullSparkPathNoise:
    def test_grouped_count_noise_is_geometric(self, spark):
        """Draw 2000 iid noisy counts through the complete measurement
        path (one group per sample) and chi-square them against the
        two-sided geometric law."""
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_count_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        n_groups = 2000
        rows_per_group = 3
        df = spark.createDataFrame(
            [(g,) for g in range(n_groups) for _ in range(rows_per_group)],
            "g long",
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [(g,) for g in range(n_groups)]
        )
        m = create_count_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1,
            groupby_transformation=gb,
        )
        noise = np.array(
            [r["count"] - rows_per_group for r in m(df).collect()]
        )
        support = np.arange(-8, 9)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, 1.0) * n_groups
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_grouped_count_noise_is_discrete_gaussian(self, spark):
        """Same technique under zCDP: the grouped-count column noise
        must follow the discrete Gaussian (exact certified-rejection
        sampler on the column path)."""
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.measures import RhoZCDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_count_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        n_groups = 2000
        rows_per_group = 3
        df = spark.createDataFrame(
            [(g,) for g in range(n_groups) for _ in range(rows_per_group)],
            "g long",
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), True, ["g"], [(g,) for g in range(n_groups)]
        )
        # rho = d_in^2 / (2 sigma^2) = 1/8 -> sigma^2 = 4
        m = create_count_measurement(
            dom, SymmetricDifference(), RhoZCDP(), 1, "1/8",
            groupby_transformation=gb,
        )
        noise = np.array(
            [r["count"] - rows_per_group for r in m(df).collect()]
        )
        support = np.arange(-10, 11)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = discrete_gaussian_pmf(support, 4.0) * n_groups
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def _grouped_float_sum_noise(self, spark, measure, d_out, use_l2):
        """iid noisy FLOAT-sum noise through the complete measurement
        path (one group per sample) — exercises the certified
        double-double continuous samplers inside executor pandas UDFs."""
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_sum_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        n_groups = 2000
        df = spark.createDataFrame(
            [(g, 2.5) for g in range(n_groups)], "g long, x double"
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), use_l2, ["g"], [(g,) for g in range(n_groups)]
        )
        m = create_sum_measurement(
            dom, SymmetricDifference(), measure, 1, d_out, "x", 0, 10,
            groupby_transformation=gb,
        )
        return np.array([r["sum(x)"] - 2.5 for r in m(df).collect()])

    def test_grouped_float_sum_noise_is_laplace(self, spark):
        from tumult_core_spark.measures import PureDP

        noise = self._grouped_float_sum_noise(spark, PureDP(), 1, False)
        scale = 10.0  # sensitivity 10 / eps 1

        def cdf(x):
            x = np.asarray(x, dtype=float)
            return np.where(
                x < 0, 0.5 * np.exp(x / scale), 1 - 0.5 * np.exp(-x / scale)
            )

        p = ks_pvalue(ks_statistic(noise, cdf), len(noise))
        assert p > P_THRESHOLD, f"KS p={p}"

    def test_grouped_float_sum_noise_is_gaussian(self, spark):
        from tumult_core_spark.measures import RhoZCDP

        noise = self._grouped_float_sum_noise(spark, RhoZCDP(), "1/2", True)
        sigma = 10.0  # sigma^2 = sens^2 / (2 rho) = 100 / 1

        def cdf(x):
            return 0.5 * (
                1 + np.vectorize(math.erf)(np.asarray(x) / (sigma * math.sqrt(2)))
            )

        p = ks_pvalue(ks_statistic(noise, cdf), len(noise))
        assert p > P_THRESHOLD, f"KS p={p}"

    def _grouped_int_sum_noise(self, spark, measure, d_out, use_l2):
        """iid noisy INTEGER-sum noise through the complete measurement
        path — the r16 grid cells the float-sum tests above miss: an
        integral measure column defaults to the DISCRETE mechanism
        (geometric under PureDP, discrete Gaussian under zCDP),
        matching reference test_sum.py's GEOMETRIC / DISCRETE_GAUSSIAN
        cases."""
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_sum_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        n_groups = 2000
        df = spark.createDataFrame(
            [(g, 1) for g in range(n_groups)], "g long, x long"
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), use_l2, ["g"], [(g,) for g in range(n_groups)]
        )
        m = create_sum_measurement(
            dom, SymmetricDifference(), measure, 1, d_out, "x", 0, 2,
            groupby_transformation=gb,
        )
        return np.array([r["sum(x)"] - 1 for r in m(df).collect()])

    def test_grouped_int_sum_noise_is_geometric(self, spark):
        from tumult_core_spark.measures import PureDP

        noise = self._grouped_int_sum_noise(spark, PureDP(), 1, False)
        scale = 2.0  # sensitivity 2 / eps 1
        support = np.arange(-24, 25)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, scale) * len(noise)
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_grouped_int_sum_noise_is_discrete_gaussian(self, spark):
        from tumult_core_spark.measures import RhoZCDP

        noise = self._grouped_int_sum_noise(spark, RhoZCDP(), "1/2", True)
        sigma2 = 4.0  # sens^2 / (2 rho) = 4 / 1
        support = np.arange(-16, 17)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = discrete_gaussian_pmf(support, sigma2) * len(noise)
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"

    def test_grouped_count_distinct_noise_is_geometric(self, spark):
        """count_distinct's noise path (reference
        test_count_distinct.py): the grouped distinct count is an
        integer statistic, so under PureDP it must carry the same
        two-sided geometric law as count — drawn through the complete
        CountDistinctGrouped + AddNoiseToColumn path."""
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_count_distinct_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        n_groups = 2000
        # 3 distinct values per group, one duplicated (distinct = 3)
        df = spark.createDataFrame(
            [(g, v) for g in range(n_groups) for v in (1, 2, 3, 3)],
            "g long, x long",
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [(g,) for g in range(n_groups)]
        )
        m = create_count_distinct_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1,
            groupby_transformation=gb,
        )
        rows = m(df).collect()
        col = [c for c in rows[0].asDict() if c != "g"][0]
        noise = np.array([r[col] - 3 for r in rows])
        support = np.arange(-8, 9)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, 1.0) * n_groups
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"chi2 p={p}"


def laplace_cdf(scale):
    def cdf(x):
        x = np.asarray(x, dtype=float)
        return np.where(
            x < 0, 0.5 * np.exp(x / scale), 1 - 0.5 * np.exp(-x / scale)
        )

    return cdf


def gaussian_cdf(sigma):
    def cdf(x):
        return 0.5 * (
            1 + np.vectorize(math.erf)(np.asarray(x) / (sigma * math.sqrt(2)))
        )

    return cdf


class TestComposedMeasurementDistributions:
    """End-to-end noise laws of the COMPOSED avg/var/stddev measurements
    (reference test/system/noise_distribution_tests/test_average.py,
    test_variance.py, test_standard_deviation.py).

    The composed outputs are ratios of noisy statistics with no
    tractable closed form, so — exactly like the reference — the
    measurements run with ``keep_intermediates`` and each noisy
    statistic is tested against ITS expected law at ITS budget share
    (d/2 + d/2 for average, d/3 x 3 for variance/stddev), drawn iid
    through the complete Spark path with one group per sample.  The
    composed column itself is then checked to be the exact
    deterministic postprocess of those same intermediates.

    GRID PARITY vs the reference's (mechanism x aggregation) matrix
    (r16 audit; reference runs every aggregation under LAPLACE,
    GEOMETRIC, GAUSSIAN, DISCRETE_GAUSSIAN).  create_standard_deviation
    delegates to the variance core + sqrt postprocess
    (aggregations.py:489) and ApproxDP(delta>0) routes through the
    zCDP core, so each CODE PATH cell needs one full-Spark-path draw:

    | reference cell | covered by |
    |---|---|
    | count GEOMETRIC / DISC_GAUSS | TestFullSparkPathNoise::test_grouped_count_noise_is_{geometric,discrete_gaussian} |
    | count_distinct GEOMETRIC | TestFullSparkPathNoise::test_grouped_count_distinct_noise_is_geometric (r16; same AddNoiseToColumn path as count for the zCDP cell) |
    | sum LAPLACE / GAUSSIAN (float col) | TestFullSparkPathNoise::test_grouped_float_sum_noise_is_{laplace,gaussian} |
    | sum GEOMETRIC / DISC_GAUSS (int col) | TestFullSparkPathNoise::test_grouped_int_sum_noise_is_{geometric,discrete_gaussian} (r16) |
    | average LAPLACE+GEOMETRIC | test_average_intermediates_laplace_and_geometric |
    | average GEOMETRIC (int col: sod also discrete) | test_int_average_intermediates_all_geometric (r16) |
    | average GAUSSIAN+DISC_GAUSS | test_approxdp_delta_pos_average_intermediates (zCDP core at matched rho) |
    | variance LAPLACE+GEOMETRIC | test_variance_intermediates_laplace_and_geometric |
    | variance GAUSSIAN+DISC_GAUSS | test_stddev_intermediates_gaussian_and_discrete_gaussian (same variance core, aggregations.py:489) |
    | stddev (all mechanisms) | variance rows above + the sqrt-postprocess identity asserted in the stddev test |
    | quantile (exp. mechanism) | TestQuantileMechanismDistribution |
    | base mechanisms / samplers | TestSamplerDistributions (KS/chi2 vs 300-bit mpmath) |
    """

    N_GROUPS = 2000
    VALUE = 2.5  # one row per group, bounds [0, 10] -> midpoint 5
    # true per-group stats: sod = -2.5, sos = 6.25, count = 1
    TRUE_SOD = VALUE - 5.0
    TRUE_SOS = (VALUE - 5.0) ** 2

    def _dataset(self, spark):
        return spark.createDataFrame(
            [(g, self.VALUE) for g in range(self.N_GROUPS)], "g long, x double"
        )

    def _domain_and_groupby(self, df, use_l2):
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), use_l2, ["g"],
            [(g,) for g in range(self.N_GROUPS)],
        )
        return dom, gb

    def _check_geometric(self, noise, scale):
        lim = int(10 * scale) + 6
        support = np.arange(-lim, lim + 1)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, scale) * len(noise)
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"count chi2 p={p} (scale {scale})"

    def _check_discrete_gaussian(self, noise, sigma2):
        lim = int(6 * math.sqrt(sigma2)) + 4
        support = np.arange(-lim, lim + 1)
        observed = np.array([(noise == k).sum() for k in support], dtype=float)
        expected = discrete_gaussian_pmf(support, sigma2) * len(noise)
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"count chi2 p={p} (sigma2 {sigma2})"

    def test_average_intermediates_laplace_and_geometric(self, spark):
        """avg at eps=1: sod Laplace at scale sens/(eps/2)=10, count
        two-sided geometric at scale 1/(eps/2)=2, composed column ==
        exact postprocess of the intermediates."""
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_average_measurement,
        )

        df = self._dataset(spark)
        dom, gb = self._domain_and_groupby(df, use_l2=False)
        m = create_average_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0, 10,
            groupby_transformation=gb, keep_intermediates=True,
            average_column="avg_x", sum_column="sod_x", count_column="n",
        )
        rows = m(df).collect()
        assert len(rows) == self.N_GROUPS
        sod_noise = np.array([r["sod_x"] - self.TRUE_SOD for r in rows])
        cnt_noise = np.array([r["n"] - 1 for r in rows])
        p = ks_pvalue(ks_statistic(sod_noise, laplace_cdf(10.0)), len(sod_noise))
        assert p > P_THRESHOLD, f"sod KS p={p}"
        self._check_geometric(cnt_noise, 2.0)
        for r in rows:
            expect = r["sod_x"] / max(1, r["n"]) + 5.0
            assert r["avg_x"] == pytest.approx(expect, abs=1e-9)

    def test_variance_intermediates_laplace_and_geometric(self, spark):
        """var at eps=1: sod Laplace scale 5/(1/3)=15, sos Laplace scale
        25/(1/3)=75, count geometric scale 3; var column == clamped
        exact postprocess."""
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_variance_measurement,
        )

        df = self._dataset(spark)
        dom, gb = self._domain_and_groupby(df, use_l2=False)
        m = create_variance_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0, 10,
            groupby_transformation=gb, keep_intermediates=True,
            variance_column="var_x", sum_of_deviations_column="sod_x",
            sum_of_squared_deviations_column="sos_x", count_column="n",
        )
        rows = m(df).collect()
        assert len(rows) == self.N_GROUPS
        sod_noise = np.array([r["sod_x"] - self.TRUE_SOD for r in rows])
        sos_noise = np.array([r["sos_x"] - self.TRUE_SOS for r in rows])
        cnt_noise = np.array([r["n"] - 1 for r in rows])
        p = ks_pvalue(ks_statistic(sod_noise, laplace_cdf(15.0)), len(sod_noise))
        assert p > P_THRESHOLD, f"sod KS p={p}"
        p = ks_pvalue(ks_statistic(sos_noise, laplace_cdf(75.0)), len(sos_noise))
        assert p > P_THRESHOLD, f"sos KS p={p}"
        self._check_geometric(cnt_noise, 3.0)
        for r in rows:
            n = max(1, r["n"])
            expect = max(0.0, r["sos_x"] / n - (r["sod_x"] / n) ** 2)
            assert r["var_x"] == pytest.approx(expect, abs=1e-9)

    def test_stddev_intermediates_gaussian_and_discrete_gaussian(self, spark):
        """stddev at rho=1/2 (share rho/3 each): sod Gaussian
        sigma^2=25/(2/6)=75, sos sigma^2=625/(1/3)=1875, count discrete
        Gaussian sigma^2=3; stddev column == sqrt of clamped
        postprocess."""
        from tumult_core_spark.measures import RhoZCDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_standard_deviation_measurement,
        )

        df = self._dataset(spark)
        dom, gb = self._domain_and_groupby(df, use_l2=True)
        m = create_standard_deviation_measurement(
            dom, SymmetricDifference(), RhoZCDP(), 1, "1/2", "x", 0, 10,
            groupby_transformation=gb, keep_intermediates=True,
            standard_deviation_column="std_x", sum_of_deviations_column="sod_x",
            sum_of_squared_deviations_column="sos_x", count_column="n",
        )
        rows = m(df).collect()
        assert len(rows) == self.N_GROUPS
        sod_noise = np.array([r["sod_x"] - self.TRUE_SOD for r in rows])
        sos_noise = np.array([r["sos_x"] - self.TRUE_SOS for r in rows])
        cnt_noise = np.array([r["n"] - 1 for r in rows])
        p = ks_pvalue(
            ks_statistic(sod_noise, gaussian_cdf(math.sqrt(75.0))), len(sod_noise)
        )
        assert p > P_THRESHOLD, f"sod KS p={p}"
        p = ks_pvalue(
            ks_statistic(sos_noise, gaussian_cdf(math.sqrt(1875.0))), len(sos_noise)
        )
        assert p > P_THRESHOLD, f"sos KS p={p}"
        self._check_discrete_gaussian(cnt_noise, 3.0)
        for r in rows:
            n = max(1, r["n"])
            expect = max(0.0, r["sos_x"] / n - (r["sod_x"] / n) ** 2) ** 0.5
            assert r["std_x"] == pytest.approx(expect, abs=1e-9)

    def test_int_average_intermediates_all_geometric(self, spark):
        """Average over an INTEGER measure column (reference
        test_average.py GEOMETRIC case): the sum-of-deviations is an
        integer statistic, so BOTH intermediates must be two-sided
        geometric — sod at scale sens/(eps/2)=2 (bounds [0,2], mid 1),
        count at scale 2 — and the composed column stays the exact
        postprocess."""
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_average_measurement,
        )
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        df = spark.createDataFrame(
            [(g, 1) for g in range(self.N_GROUPS)], "g long, x long"
        )
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"],
            [(g,) for g in range(self.N_GROUPS)],
        )
        m = create_average_measurement(
            dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0, 2,
            groupby_transformation=gb, keep_intermediates=True,
            average_column="avg_x", sum_column="sod_x", count_column="n",
        )
        rows = m(df).collect()
        assert len(rows) == self.N_GROUPS
        sod_noise = np.array([r["sod_x"] - 0 for r in rows])  # x - mid = 0
        cnt_noise = np.array([r["n"] - 1 for r in rows])
        self._check_geometric(sod_noise, 2.0)
        self._check_geometric(cnt_noise, 2.0)
        for r in rows:
            expect = r["sod_x"] / max(1, r["n"]) + 1.0
            assert r["avg_x"] == pytest.approx(expect, abs=1e-9)

    def test_ungrouped_keep_intermediates_dict(self, spark):
        """Ungrouped keep_intermediates returns the dict surface with
        every intermediate present (noise-off so values are exact)."""
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_variance_measurement,
        )

        df = self._dataset(spark)
        dom, _ = self._domain_and_groupby(df, use_l2=False)
        m = create_variance_measurement(
            dom, SymmetricDifference(), PureDP(), 1, float("inf"), "x", 0, 10,
            keep_intermediates=True,
        )
        out = m(df)
        assert set(out) == {
            "variance", "sum_of_deviations", "sum_of_squared_deviations", "count",
        }
        assert out["count"] == self.N_GROUPS
        assert out["sum_of_deviations"] == pytest.approx(
            self.TRUE_SOD * self.N_GROUPS
        )
        assert out["sum_of_squared_deviations"] == pytest.approx(
            self.TRUE_SOS * self.N_GROUPS
        )
        assert out["variance"] == pytest.approx(0.0)

    def test_approxdp_delta_pos_average_intermediates(self, spark):
        """ApproxDP with delta>0 routes the composed average through
        the zCDP core at rho = (sqrt(L+eps)-sqrt(L))^2, L = ln(1/delta)
        (Bun-Steinke matched). End-to-end check of the ACTUAL noise:
        sod must be Gaussian at sigma^2 = sens^2/(2*(rho/2)) and count
        discrete Gaussian at sigma^2 = 1/rho — drawn through the full
        Spark path, not just asserted on the privacy function."""
        from tumult_core_spark.measures import ApproxDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            create_average_measurement,
        )

        eps, delta = 1.0, 1e-5
        L = math.log(1 / delta)
        rho = (math.sqrt(L + eps) - math.sqrt(L)) ** 2

        df = self._dataset(spark)
        dom, gb = self._domain_and_groupby(df, use_l2=True)
        m = create_average_measurement(
            dom, SymmetricDifference(), ApproxDP(), 1, (1, "1/100000"),
            "x", 0, 10,
            groupby_transformation=gb, keep_intermediates=True,
            average_column="avg_x", sum_column="sod_x", count_column="n",
        )
        rows = m(df).collect()
        assert len(rows) == self.N_GROUPS
        sod_noise = np.array([r["sod_x"] - self.TRUE_SOD for r in rows])
        cnt_noise = np.array([r["n"] - 1 for r in rows])
        sigma_sod = math.sqrt(25.0 / rho)  # sens 5, share rho/2
        p = ks_pvalue(
            ks_statistic(sod_noise, gaussian_cdf(sigma_sod)), len(sod_noise)
        )
        assert p > P_THRESHOLD, f"sod KS p={p} (sigma {sigma_sod:.2f})"
        self._check_discrete_gaussian(cnt_noise, 1.0 / rho)


class TestQuantileMechanismDistribution:
    """Reference test_quantile.py analogue: the exponential mechanism's
    interval-selection frequencies must match the analytic law
    P(i) ∝ width_i * exp(-eps/(2*max(q,1-q)) * |rank_i - q*n|), and the
    within-interval draw must be uniform."""

    def test_selection_probabilities_and_uniformity(self):
        import pandas as pd

        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.measurements.quantile import NoisyQuantile

        q, eps, lower, upper = 0.5, 1.0, 0.0, 10.0
        data = pd.DataFrame({"x": [2.0, 4.0]})
        m = NoisyQuantile("x", q, lower, upper, 1, PureDP())
        assert m.privacy_function(1) == 1

        # analytic: intervals [0,2],[2,4],[4,10]; ranks 0,1,2; target 1
        widths = np.array([2.0, 2.0, 6.0])
        dists = np.array([1.0, 0.0, 1.0])
        coeff = eps / (2 * max(q, 1 - q))
        weights = widths * np.exp(-coeff * dists)
        probs = weights / weights.sum()

        n = 3000
        samples = np.array([m(data)[m.output_column].iloc[0] for _ in range(n)])
        assert ((samples >= lower) & (samples <= upper)).all()
        edges = np.array([0.0, 2.0, 4.0, 10.0])
        observed = np.histogram(samples, bins=edges)[0].astype(float)
        p = chi2_pvalue(observed, probs * n)
        assert p > P_THRESHOLD, f"selection chi2 p={p}: {observed} vs {probs*n}"

        # uniform within the modal interval [2, 4]
        inside = samples[(samples >= 2.0) & (samples < 4.0)]
        u = (inside - 2.0) / 2.0
        p = ks_pvalue(ks_statistic(u, lambda x: np.clip(x, 0, 1)), len(u))
        assert p > P_THRESHOLD, f"within-interval KS p={p}"


class TestPartitionSelectionDistribution:
    """GeometricPartitionSelection through the full Spark path: each
    group of true count c must be released with analytic probability
    P(c + Geom_alpha >= tau) = 1 - CMF_alpha(tau - 1 - c), and the
    released noisy counts, conditioned on release, must follow the
    truncated two-sided geometric."""

    def test_release_probability_and_truncated_counts(self, spark):
        from tumult_core_spark.domains import (
            SparkDataFrameDomain,
            SparkIntegerColumnDescriptor,
        )
        from tumult_core_spark.measurements.spark import (
            GeometricPartitionSelection,
        )
        from tumult_core_spark.utils.distributions import (
            double_sided_geometric_cmf,
        )

        alpha, tau, c = 2.0, 5, 3
        n_groups = 3000
        df = spark.createDataFrame(
            [(g,) for g in range(n_groups) for _ in range(c)], "g long"
        )
        dom = SparkDataFrameDomain({"g": SparkIntegerColumnDescriptor(size=64)})
        m = GeometricPartitionSelection(dom, tau, 2)
        out = {r["g"]: r["count"] for r in m(df).collect()}

        # release probability: noise >= tau - c
        p_release = float(1 - double_sided_geometric_cmf(tau - 1 - c, alpha))
        k = len(out)
        # normal approximation of the binomial, generous 5-sigma band
        sigma = math.sqrt(n_groups * p_release * (1 - p_release))
        assert abs(k - n_groups * p_release) < 5 * sigma, (
            f"released {k}, expected {n_groups * p_release:.1f} ± {5*sigma:.1f}"
        )

        counts = np.array(list(out.values()))
        assert (counts >= tau).all()
        # conditional law: P(count = v | released) for v >= tau
        support = np.arange(tau, tau + 15)
        pmf = double_sided_geometric_pmf(support - c, alpha) / p_release
        observed = np.array([(counts == v).sum() for v in support], dtype=float)
        p = chi2_pvalue(observed, pmf * k)
        assert p > P_THRESHOLD, f"truncated-count chi2 p={p}"


class TestStreamingDPNoiseDistribution:
    """End-to-end distribution check of the streaming DP path
    (streaming/ops.py:364+): noise drawn through a REAL micro-batch
    run — watermarked windowed counts, foreachBatch, executor-side
    mapInPandas — must follow the two-sided geometric law with scale
    1/epsilon, exactly like the batch measurement path.  One event
    per 1-minute tumbling window gives thousands of iid residuals
    (noisy_count - 1) from a single streaming query."""

    def test_dp_windowed_counts_chi2(self, spark, tmp_path):
        import datetime as dt

        import pandas as pd

        from tumult_core_spark.streaming import read_stream_parquet
        from tumult_core_spark.streaming.ops import dp_windowed_counts

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        n_windows = 6000
        base = dt.datetime(2026, 1, 1, 0, 0, 0)
        rows = [
            (base + dt.timedelta(minutes=m),) for m in range(n_windows)
        ]
        src = str(tmp_path / "dp_chi2_src")
        spark.createDataFrame(rows, "ts timestamp").coalesce(4).write.parquet(
            src
        )

        collected = []

        def sink(pdf, batch_id):
            collected.append(pdf)

        stream = read_stream_parquet(spark, src, nanos_ts_cols=["ts"])
        start = dp_windowed_counts(
            stream, "ts", epsilon_per_window=1.0,
            window_duration="1 minute", watermark="0 seconds",
        )
        q = start(sink, output_mode="complete")
        q.awaitTermination(300)
        out = pd.concat(collected, ignore_index=True)
        assert len(out) == n_windows
        residuals = out["noisy_count"].to_numpy() - 1  # exact count is 1

        support = np.arange(-8, 9)
        observed = np.array(
            [(residuals == k).sum() for k in support], dtype=float
        )
        # epsilon 1 -> scale 1 -> two-sided geometric with alpha = 1
        expected = double_sided_geometric_pmf(support, 1.0) * n_windows
        p = chi2_pvalue(observed, expected)
        assert p > P_THRESHOLD, f"streaming DP chi2 p={p}"
        # unbiasedness sanity: mean residual ~ 0 (sd of mean ~ alpha-ish)
        assert abs(residuals.mean()) < 0.1


class TestMechanismColumnTypeGuard:
    """r16 review pin: the GROUPED noise path must reject a discrete
    mechanism on a float statistic at construction (reference
    spark_measurements.py:190-199).  Integer noise on a float sum is
    not DP at all — the fractional part passes through exactly.  The
    ungrouped path was already safe via ChainTM's domain match."""

    def test_geometric_on_float_sum_rejected(self, spark):
        from tumult_core_spark.domains import SparkDataFrameDomain
        from tumult_core_spark.exceptions import DomainMismatchError
        from tumult_core_spark.measures import PureDP
        from tumult_core_spark.metrics import SymmetricDifference
        from tumult_core_spark.measurements.aggregations import (
            NoiseMechanism,
            create_sum_measurement,
        )
        from tumult_core_spark.transformations.groupby import (
            create_groupby_from_list_of_keys,
        )

        df = spark.createDataFrame([(0, 2.5)], "g long, x double")
        dom = SparkDataFrameDomain.from_spark_schema(df.schema, strict=True)
        gb = create_groupby_from_list_of_keys(
            dom, SymmetricDifference(), False, ["g"], [(0,)]
        )
        with pytest.raises(DomainMismatchError, match="fractional"):
            create_sum_measurement(
                dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0, 10,
                noise_mechanism=NoiseMechanism.GEOMETRIC,
                groupby_transformation=gb,
            )
        # ungrouped stays structurally safe (ChainTM domain mismatch)
        with pytest.raises(DomainMismatchError):
            create_sum_measurement(
                dom, SymmetricDifference(), PureDP(), 1, 1, "x", 0, 10,
                noise_mechanism=NoiseMechanism.GEOMETRIC,
            )
