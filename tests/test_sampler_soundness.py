"""r17 adversarial review of the samplers/exact-arithmetic core.

This hunts the float-artifact vulnerability class the reference
vendored Arb to kill (reference ``utils/arb.py``,
``random/laplace.py:12-49``, known-vulnerabilities doc), plus the
extreme-scale and RNG-lifecycle corners:

* **Replay verification** (the strongest probe): seed the process
  generator, run the vectorized certified samplers, then REPLAY the
  same generator to recover each element's revealed uniform prefix and
  recompute the transform over the exact prefix interval in 300-bit
  mpmath — every emitted double must be the correct rounding of the
  true real-valued sample (or, where the prefix alone does not settle
  the rounding, must lie inside the rigorous image interval).  This is
  a bit-level proof that the dd fast path + certification margins
  never emit a wrongly-rounded value, the exact property Mironov-style
  attacks exploit in naive samplers.
* **Low-order-bit structure**: within one binade the emitted doubles'
  low mantissa bits must look uniform (parity balance + pattern
  coverage) — naive ``scale * log(u)`` samplers concentrate on a
  sparse achievable set.
* **Extreme scales**: subnormal/near-subnormal sigma^2 must route
  through the interval-arithmetic resolver (the r17-fixed guard: the old
  ``sigma_squared < _EXTREME_SCALE**2`` underflowed to 0.0 and never
  fired, while dd.sqrt's error at 1e-300 is 2^-79 — above the 2^-88
  certification budget); huge scales must fail closed (OverflowError)
  rather than emit int64-wrapped noise.
* **Scalar mechanism calls at large scale**: the r17 band-inversion
  rewrite must draw in O(1) for any scale (the old Bernoulli-counting
  loop cost O(scale) and tripped a 1e7 magnitude cap, a ~37%-per-draw
  crash at scale 1e7); a scalar call is the vector sampler's first
  draw for a one-element batch.
* **RNG independence across fork** (executor workers): forked children
  must reseed, never continue the parent's PCG64 stream.
"""

import os
import struct
from fractions import Fraction

import numpy as np
import pytest

from tumult_core_spark import exact_sampling, samplers

SEED = 0xC0FFEE


def _seeded(seed=SEED):
    """Pin the process generator to a known seed; return a replay rng."""
    samplers._GENERATOR = np.random.default_rng(seed)
    samplers._GENERATOR_PID = os.getpid()
    return np.random.default_rng(seed)


@pytest.fixture(autouse=True)
def _restore_rng():
    yield
    samplers._GENERATOR = None
    samplers._GENERATOR_PID = None


def _draw53(replay, n):
    return replay.integers(0, 1 << 53, size=n, dtype=np.int64)


class TestReplayVerification:
    """Every certified output must be the correct rounding of the true
    real sample determined by its revealed uniform prefix."""

    @pytest.mark.parametrize("b,mu_kind", [
        (1.0, "zero"), (1e-3, "mixed"), (1e6, "mixed"), (0.125, "large"),
    ])
    def test_laplace_vec_rounds_true_real(self, b, mu_kind):
        import mpmath

        n = 1200
        if mu_kind == "zero":
            mu = np.zeros(n)
        elif mu_kind == "large":
            mu = np.full(n, 1e12)
        else:
            mu = np.linspace(-5.0, 5.0, n)
        replay = _seeded()
        out = exact_sampling.laplace_exact_vec(mu, b)
        m1, m2 = _draw53(replay, n), _draw53(replay, n)

        def icdf(p):  # mpmath.mpf p in (0, 1)
            d = p - mpmath.mpf(1) / 2
            if d == 0:
                return mpmath.mpf(mu_i)
            s = 1 if d > 0 else -1
            return mpmath.mpf(mu_i) - mpmath.mpf(b) * s * mpmath.log(
                1 - 2 * abs(d)
            )

        checked = undetermined = 0
        with mpmath.workprec(300):
            for i in range(n):
                mu_i = float(mu[i])
                bits = (int(m1[i]) << 53) | int(m2[i])
                p_lo = mpmath.mpf(bits) / mpmath.mpf(1 << 106)
                p_hi = mpmath.mpf(bits + 1) / mpmath.mpf(1 << 106)
                if p_lo == 0:
                    continue
                x_lo, x_hi = icdf(p_lo), icdf(p_hi)  # icdf increasing
                f_lo, f_hi = float(x_lo), float(x_hi)
                if f_lo == f_hi:
                    assert out[i] == f_lo, (
                        f"i={i}: emitted {out[i]!r} but every real in the "
                        f"prefix image rounds to {f_lo!r}"
                    )
                    checked += 1
                else:
                    # resolver extended the prefix: the true sample still
                    # lies in [x_lo, x_hi], so its rounding does too
                    assert f_lo <= out[i] <= f_hi
                    undetermined += 1
        # the fast path certifies all but ~1e-11 of draws: virtually
        # every element must have been bit-exactly checked
        assert checked >= n - 5, (checked, undetermined)

    @pytest.mark.parametrize("mu_kind", ["small", "large"])
    def test_gaussian_vec_rounds_true_real(self, mu_kind):
        import mpmath

        n = 800
        sigma_squared = 2.5
        # "large": |mu| >> sigma exercises the dd add at extreme
        # magnitude imbalance, where a naive margin would miss the
        # mu-rounding term (arith margin carries |x|)
        mu = (
            np.linspace(-3.0, 3.0, n)
            if mu_kind == "small"
            else np.full(n, 1e9) + np.linspace(0.0, 7.0, n)
        )
        replay = _seeded()
        out = exact_sampling.gaussian_exact_vec(mu, sigma_squared)
        nc = (n + 1) // 2
        u1, u2 = _draw53(replay, nc), _draw53(replay, nc)
        v1, v2 = _draw53(replay, nc), _draw53(replay, nc)

        iv = mpmath.iv
        old = iv.prec
        checked = 0
        try:
            iv.prec = 300
            sig = iv.sqrt(iv.mpf(sigma_squared))
            for i in range(nc):
                ub = (int(u1[i]) << 53) | int(u2[i])
                vb = (int(v1[i]) << 53) | int(v2[i])
                if ub == 0:
                    continue
                u_iv = iv.mpf([ub, ub + 1]) / iv.mpf(1 << 106)
                v_iv = iv.mpf([vb, vb + 1]) / iv.mpf(1 << 106)
                r = iv.sqrt(iv.mpf(-2) * iv.log(u_iv)) * sig
                theta = iv.mpf(2) * iv.pi * v_iv
                for trig, ix in ((iv.cos, i), (iv.sin, nc + i)):
                    if ix >= n:
                        continue
                    x = iv.mpf(float(mu[ix])) + r * trig(theta)
                    lo = float(mpmath.mpf(x.a))
                    hi = float(mpmath.mpf(x.b))
                    if lo == hi:
                        assert out[ix] == lo, (
                            f"ix={ix}: emitted {out[ix]!r}, true rounding {lo!r}"
                        )
                        checked += 1
                    else:
                        assert lo <= out[ix] <= hi
        finally:
            iv.prec = old
        assert checked >= n - 6

    def test_geometric_vec_band_is_true_band(self):
        import mpmath

        n = 1500
        scale = Fraction(7, 2)
        replay = _seeded()
        out = samplers._geometric_failures_exact_vec(scale, n)
        m = _draw53(replay, n)
        checked = 0
        with mpmath.workprec(300):
            s = mpmath.mpf(scale.numerator) / mpmath.mpf(scale.denominator)
            for i in range(n):
                mi = int(m[i])
                if mi == 0:
                    continue
                k_at_lo = mpmath.floor(-s * mpmath.log(mpmath.mpf(mi) / 2**53))
                k_at_hi = mpmath.floor(
                    -s * mpmath.log(mpmath.mpf(mi + 1) / 2**53)
                )
                if k_at_lo == k_at_hi:
                    assert out[i] == int(k_at_lo), (
                        f"i={i}: emitted band {out[i]}, true band {int(k_at_lo)}"
                    )
                    checked += 1
                else:
                    assert int(k_at_hi) <= out[i] <= int(k_at_lo)
        assert checked >= n - 10


class TestLowOrderBitStructure:
    """Mironov-style probe: emitted doubles within one binade must use
    the full mantissa lattice, not a sparse achievable set."""

    @staticmethod
    def _mantissas(values, lo, hi):
        sel = values[(values >= lo) & (values < hi)]
        return np.array(
            [struct.unpack("<Q", struct.pack("<d", v))[0] for v in sel],
            dtype=np.uint64,
        )

    def _check_structure(self, mants):
        assert len(mants) >= 2000, "not enough in-binade samples"
        # LSB parity balance: z-score under Bernoulli(1/2)
        ones = int((mants & np.uint64(1)).sum())
        nn = len(mants)
        z = abs(ones - nn / 2) / np.sqrt(nn / 4)
        assert z < 4.5, f"LSB parity z={z:.2f} ({ones}/{nn})"
        # low-10-bit pattern coverage: ~all 1024 patterns must appear
        pats = np.unique(mants & np.uint64(0x3FF))
        expect_missing = 1024 * (1 - 1 / 1024) ** nn
        assert len(pats) >= 1024 - max(40, 8 * expect_missing), len(pats)

    def test_laplace_binade_lsb_uniform(self):
        _seeded(1234)
        out = exact_sampling.laplace_exact_vec(np.zeros(60_000), 1.0)
        self._check_structure(self._mantissas(out, 0.5, 1.0))

    def test_gaussian_binade_lsb_uniform(self):
        _seeded(5678)
        out = exact_sampling.gaussian_exact_vec(np.zeros(40_000), 1.0)
        self._check_structure(self._mantissas(out, 0.5, 1.0))


class TestExtremeScales:
    def test_gaussian_subnormal_sigma_routes_scalar(self):
        """The r17-fixed guard: sigma^2 below dd.sqrt's 1e-290 accuracy
        floor (including subnormals) takes the scalar interval path.
        The old guard compared against _EXTREME_SCALE**2 == 0.0 and
        never fired; dd.sqrt's rel error at 1e-300 is 2^-79, above the
        2^-88 budget the certification margins assume."""
        assert exact_sampling._EXTREME_SCALE**2 == 0.0  # why 1e-290 exists
        for s2 in (1e-300, 5e-324, 1e-291):
            out = exact_sampling.gaussian_exact_vec(np.zeros(16), s2)
            assert np.all(np.isfinite(out))
            # magnitudes consistent with sigma = sqrt(s2); the spread
            # check runs in sigma-normalized space — np.std(out) itself
            # UNDERFLOWS for s2 = 5e-324 (each out ~ 1e-162, so the
            # variance ~ 1e-324 rounds subnormally to 0 on some draws,
            # making the raw-space assertion a coin flip)
            sigma = np.sqrt(s2)
            assert np.all(np.abs(out) < 10 * sigma)
            assert np.std(out / sigma) > 0.2

    def test_gaussian_just_above_guard_certifies(self):
        out = exact_sampling.gaussian_exact_vec(np.zeros(64), 1e-289)
        sigma = np.sqrt(1e-289)
        assert np.all(np.abs(out) < 10 * sigma) and np.std(out) > 0.3 * sigma

    def test_laplace_extreme_scales(self):
        for b in (1e-285, 1e-279, 1e300):
            out = exact_sampling.laplace_exact_vec(np.zeros(16), b)
            assert np.all(np.isfinite(out))
            # normalize BEFORE the moment computation: squares of
            # ~1e-285 underflow and of ~1e300 overflow
            norm = out / b
            assert np.all(np.abs(norm) < 50) and np.std(norm) > 0.05

    def test_huge_discrete_scale_fails_closed(self):
        """Band indices beyond int64 must raise, never wrap: at scale
        1e20 a silently-wrapped astype would release garbage negative
        noise (the float candidate k ~ 7e19 > 2^53 can never certify,
        and the exact resolver's Python-int band overflows the int64
        output slot with a loud OverflowError)."""
        with pytest.raises(OverflowError):
            samplers.two_sided_geometric_exact_vec(Fraction(10**20), 4)

    def test_tiny_discrete_scale(self):
        # scale 1e-6: P[X != 0] ~ 2 exp(-1e6) — all zeros, instantly
        out = samplers.two_sided_geometric_exact_vec(Fraction(1, 10**6), 256)
        assert np.all(out == 0)


class TestScalarSamplersAtScale:
    """The mechanisms' scalar call at large scale.  It draws through the
    certified vector samplers (a one-element batch), so these pin that
    path's O(1)-per-draw cost at any scale."""

    def test_geometric_exact_large_scale_terminates_fast(self):
        """r17: band inversion replaced the O(scale) Bernoulli loop —
        a single draw at scale 1e7 previously crashed the 1e7 magnitude
        cap with probability ~e^-1 and cost minutes otherwise."""
        import time

        from tumult_core_spark.measurements.noise import AddGeometricNoise

        mech = AddGeometricNoise(10**7)
        t0 = time.time()
        vals = [mech(0) for _ in range(20)]
        assert time.time() - t0 < 10.0
        mags = np.abs(np.array(vals, dtype=float))
        assert mags.max() > 1e6  # typical |k| ~ scale
        assert mags.max() < 40 * 1e7

    def test_geometric_exact_distribution_unchanged(self):
        """chi^2 pin that the inversion rewrite preserves the law."""
        from tests.test_noise_distributions import (
            chi2_pvalue,
            double_sided_geometric_pmf,
        )
        from tumult_core_spark.measurements.noise import AddGeometricNoise

        mech = AddGeometricNoise(Fraction(2))
        s = np.array([mech(0) for _ in range(4000)])
        support = np.arange(-8, 9)
        observed = np.array([(s == k).sum() for k in support], dtype=float)
        expected = double_sided_geometric_pmf(support, 2.0) * len(s)
        assert chi2_pvalue(observed, expected) > 1e-4

    def test_discrete_gaussian_exact_large_sigma_fast(self):
        import time

        from tumult_core_spark.measurements.noise import AddDiscreteGaussianNoise

        mech = AddDiscreteGaussianNoise(Fraction(10**12))
        t0 = time.time()
        vals = [mech(0) for _ in range(10)]
        assert time.time() - t0 < 20.0
        mags = np.abs(np.array(vals, dtype=float))
        assert mags.max() > 1e5 and mags.max() < 10 * 1e6  # sigma = 1e6


class TestScalarCallIsVectorPath:
    """``mech(v)`` is the vector sampler's first draw for ``[v]``: under
    the same pinned seed both consume the same words and return the
    same value, with the scalar call's numpy return type."""

    V_FLOAT = 12.375
    V_INT = 41

    @pytest.mark.parametrize("seed", [1, 7, 2024])
    def test_each_mechanism_matches_its_vector_sampler(self, seed):
        from tumult_core_spark.domains import NumpyFloatDomain
        from tumult_core_spark.measurements.noise import (
            AddDiscreteGaussianNoise,
            AddGaussianNoise,
            AddGeometricNoise,
            AddLaplaceNoise,
        )

        vf, vi = self.V_FLOAT, self.V_INT
        cases = [
            (
                AddLaplaceNoise(NumpyFloatDomain(), 3),
                vf,
                lambda: exact_sampling.laplace_exact_vec(np.array([vf]), 3.0),
                np.float64,
            ),
            (
                AddGaussianNoise(NumpyFloatDomain(), 5),
                vf,
                lambda: exact_sampling.gaussian_exact_vec(np.array([vf]), 5.0),
                np.float64,
            ),
            (
                AddGeometricNoise(Fraction(7, 2)),
                vi,
                lambda: np.array([vi])
                + samplers.two_sided_geometric_exact_vec(Fraction(7, 2), 1),
                np.int64,
            ),
            (
                AddDiscreteGaussianNoise(6),
                vi,
                lambda: np.array([vi])
                + samplers.discrete_gaussian_exact_vec(Fraction(6), 1),
                np.int64,
            ),
        ]
        for mech, value, vector, dtype in cases:
            _seeded(seed)
            got = mech(value)
            _seeded(seed)
            want = vector()[0]
            assert type(got) is dtype, (type(mech).__name__, type(got))
            assert got == want, (type(mech).__name__, got, want)


def _child_draws(_):
    from tumult_core_spark import samplers as s

    return s.rng().integers(0, 1 << 62, size=8).tolist()


class TestRngLifecycle:
    def test_fork_reseeds_children(self):
        """Forked executor workers must never continue the parent's
        PCG64 stream (the PID check in samplers.rng)."""
        import multiprocessing as mp

        parent_state_draws = samplers.rng().integers(0, 1 << 62, size=8).tolist()
        ctx = mp.get_context("fork")
        with ctx.Pool(2) as pool:
            kids = pool.map(_child_draws, [0, 1])
        assert kids[0] != kids[1], "two forked children share a stream"
        assert kids[0] != parent_state_draws and kids[1] != parent_state_draws

    def test_to_float_beyond_double_range(self):
        """r17: a finite ExactNumber beyond double range converts with
        directed rounding (inf away from zero, DBL_MAX toward zero)
        instead of crashing in Fraction(inf)."""
        import sys

        from tumult_core_spark.exact_number import ExactNumber

        big = ExactNumber(10) ** 500
        assert big.to_float(round_up=True) == float("inf")
        assert big.to_float(round_up=False) == sys.float_info.max
        neg = -big
        assert neg.to_float(round_up=True) == -sys.float_info.max
        assert neg.to_float(round_up=False) == float("-inf")

    def test_resolve_gaussian_pair_restores_iv_prec(self):
        """r18 ADVICE: _resolve_gaussian_pair must restore the global
        mpmath iv.prec it mutates (the other resolvers got try/finally
        in r17; this one is reachable from gaussian_exact_vec's
        extreme-scale fallback since the _DD_SQRT_MIN gate fix)."""
        import mpmath

        from tumult_core_spark.exact_sampling import _resolve_gaussian_pair

        old = mpmath.iv.prec
        try:
            z, none = _resolve_gaussian_pair(1.5, None, 1e-300, 0, 0, 0, 0)
            assert none is None and abs(z - 1.5) < 1e-100
            assert mpmath.iv.prec == old
            z_cos, z_sin = _resolve_gaussian_pair(0.0, 0.0, 1.0, 0, 0, 0, 0)
            assert z_sin is not None
            assert mpmath.iv.prec == old
        finally:
            mpmath.iv.prec = old
