"""Opt-in per-draw CSPRNG backend (samplers.CSPRNG_ENV).

The reference prefers hardware RDRAND and falls back to drawing every
64-bit word from ``os.urandom`` (reference ``random/rng.py:13-26``).
With ``TUMULT_CORE_SPARK_CSPRNG=1`` this rebuild matches that
fallback's WORD SOURCE: every random word consumed by any sampler
comes from ``os.urandom``, so there is no generator state to infer
from released noise.  The shim implements only ``integers`` — every
certified sampler builds its uniforms from integer words.  These tests
pin the shim's Generator-API compatibility and run the certified
samplers end-to-end through it.
"""

from fractions import Fraction

import numpy as np
import pytest

from tumult_core_spark import samplers
from tumult_core_spark.samplers import CSPRNG_ENV, _UrandomGenerator


@pytest.fixture()
def csprng_on(monkeypatch):
    monkeypatch.setenv(CSPRNG_ENV, "1")


class TestUrandomGenerator:
    def test_rng_dispatch(self, monkeypatch):
        monkeypatch.delenv(CSPRNG_ENV, raising=False)
        assert isinstance(samplers.rng(), np.random.Generator)
        monkeypatch.setenv(CSPRNG_ENV, "1")
        assert isinstance(samplers.rng(), _UrandomGenerator)
        monkeypatch.setenv(CSPRNG_ENV, "0")
        assert isinstance(samplers.rng(), np.random.Generator)

    @pytest.mark.parametrize("high", [1, 2, 3, 5, 1 << 53, (1 << 53) - 7, 1 << 63])
    def test_integers_scalar_bounds(self, high):
        g = _UrandomGenerator()
        vals = {int(g.integers(0, high)) for _ in range(50)}
        assert all(0 <= v < high for v in vals)
        if high > 10:
            assert len(vals) > 1  # not constant

    @pytest.mark.parametrize(
        "high,dtype",
        [(1 << 53, np.int64), (1 << 63, np.uint64), (1 << 64, np.uint64), (1000, np.int64)],
    )
    def test_integers_array_bounds(self, high, dtype):
        g = _UrandomGenerator()
        a = g.integers(0, high, size=4096, dtype=dtype)
        assert a.shape == (4096,) and a.dtype == np.dtype(dtype)
        assert int(a.min()) >= 0
        assert int(a.max()) < high
        assert len(np.unique(a)) > 1

    def test_integers_rejects_range_exceeding_dtype(self):
        """Mirror numpy's Generator bounds check: a span that cannot
        fit the output dtype raises instead of silently wrapping
        through the unsigned->signed astype (e.g. integers(0, 1<<64,
        dtype=int64) used to yield negative values)."""
        g = _UrandomGenerator()
        with pytest.raises(ValueError, match="out of bounds"):
            g.integers(0, 1 << 64, size=8, dtype=np.int64)
        with pytest.raises(ValueError, match="out of bounds"):
            g.integers(0, 1 << 64, dtype=np.int64)  # scalar path too
        with pytest.raises(ValueError, match="out of bounds"):
            g.integers(-1, 10, size=8, dtype=np.uint64)
        with pytest.raises(ValueError, match="out of bounds"):
            g.integers(0, 300, size=8, dtype=np.int8)
        # numpy itself agrees this is an error
        with pytest.raises(ValueError):
            np.random.default_rng(0).integers(0, 1 << 64, size=8, dtype=np.int64)
        # the legal extremes still work
        a = g.integers(0, 1 << 64, size=8, dtype=np.uint64)
        assert a.dtype == np.uint64
        assert int(g.integers(-(1 << 63), (1 << 63), dtype=np.int64)) is not None

    def test_integers_non_power_of_two_uniform(self):
        # chi-squared over [0, 6): df=5, crit(0.999) ~ 20.5
        g = _UrandomGenerator()
        n = 60_000
        a = np.asarray(g.integers(0, 6, size=n))
        counts = np.bincount(a.astype(np.int64), minlength=6)
        exp = n / 6
        chi2 = float(((counts - exp) ** 2 / exp).sum())
        assert chi2 < 30, counts


class TestSamplersThroughCSPRNG:
    def test_two_sided_geometric_exact_vec_chi2(self, csprng_on):
        # P[X=k] = (1-q)/(1+q) q^|k|, q = e^{-1/scale}; df ~ 12
        scale = Fraction(2)
        n = 40_000
        x = samplers.two_sided_geometric_exact_vec(scale, n)
        q = float(np.exp(-1.0 / float(scale)))
        lo, hi = -6, 6
        counts = np.bincount(np.clip(x, lo, hi) - lo, minlength=hi - lo + 1)
        k = np.arange(lo, hi + 1)
        p = (1 - q) / (1 + q) * q ** np.abs(k).astype(float)
        p[0] = q ** abs(lo) / (1 + q)  # tail mass folded into the clip bins
        p[-1] = q ** abs(hi) / (1 + q)
        exp = n * p
        chi2 = float(((counts - exp) ** 2 / exp).sum())
        assert chi2 < 40, (counts, exp)

    def test_scalar_exact_samplers_run(self, csprng_on):
        from tumult_core_spark.measurements.noise import (
            AddDiscreteGaussianNoise,
            AddGeometricNoise,
        )

        geo = AddGeometricNoise(Fraction(3, 2))
        vals = [geo(0) for _ in range(20)]
        assert all(isinstance(v, np.int64) for v in vals)  # two-sided: any sign
        dgauss = AddDiscreteGaussianNoise(Fraction(4))
        dg = [dgauss(0) for _ in range(20)]
        assert all(isinstance(v, np.int64) for v in dg)

    def test_discrete_gaussian_exact_vec_runs(self, csprng_on):
        x = samplers.discrete_gaussian_exact_vec(Fraction(2), 5_000)
        assert len(x) == 5_000
        assert abs(float(np.mean(x))) < 0.2
