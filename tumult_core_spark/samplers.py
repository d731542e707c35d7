"""Certified integer noise samplers and the process RNG.

One sampler per integer noise distribution, each drawing a whole
NumPy batch at once:

* :func:`two_sided_geometric_exact_vec` — discrete Laplace,
  P[X=k] ∝ exp(-|k|/scale), the geometric mechanism's noise;
* :func:`discrete_gaussian_exact_vec` — N_Z(0, sigma^2), by the
  rejection construction of Canonne, Kapralov & Steinke, "The Discrete
  Gaussian for Differential Privacy" (arXiv:2004.00010, Algorithm 3).

Both are exact: a whole-batch float pass proposes each draw and
certifies it against margin-widened enclosures, and the ~1e-15 of
draws it cannot certify are finished per value in rigorous
``mpmath.iv`` arithmetic by extending the SAME uniform prefix
(:func:`_resolve_band_index`, :func:`_resolve_bernoulli_exp`), so
every infinite-precision uniform maps to its true output.  They
replace the reference's per-value ``Series.apply`` loops
(``pandas_measurements/series.py:305-309``) and exact scalar samplers
(``tmlt/core/random/discrete_gaussian.py``) at near-NumPy throughput.
The continuous (Laplace, Gaussian) samplers live in
:mod:`tumult_core_spark.exact_sampling`.  A single noisy value is a
one-element batch (``_NoiseMechanism.__call__``).

Every sampler treats ``scale == 0`` as "no noise" — the deterministic
mode used by correctness oracles.

RNG: one ``numpy.random.Generator`` per process, seeded from
``os.urandom`` so executor workers never share a seed.
"""

from __future__ import annotations

import os
from fractions import Fraction
from typing import Optional, Union

import numpy as np

_GENERATOR: Optional[np.random.Generator] = None
_GENERATOR_PID: Optional[int] = None

#: Set to ``1``/``true`` to draw EVERY random word from ``os.urandom``
#: instead of a urandom-seeded PCG64 — the reference's no-RDRAND
#: fallback behavior (reference ``random/rng.py:13-26``).  On a
#: cluster, propagate to workers with
#: ``spark.executorEnv.TUMULT_CORE_SPARK_CSPRNG=1``.
CSPRNG_ENV = "TUMULT_CORE_SPARK_CSPRNG"


class _UrandomGenerator:
    """``numpy.random.Generator``-compatible shim whose every 64-bit
    word comes from ``os.urandom`` (a per-draw CSPRNG, no generator
    state to infer).  Implements exactly the Generator surface the
    samplers in this package use: ``integers``, scalar and array.
    Every certified sampler builds its uniforms from those integer
    words, so with :data:`CSPRNG_ENV` set each released value's noise
    is a function of ``os.urandom`` output alone.  Stateless, hence
    trivially fork-safe.

    ~20-60x slower than PCG64 per word (syscall + no buffering), which
    is irrelevant for noise draws (a few words per released value) but
    is why this is opt-in via :data:`CSPRNG_ENV` rather than the
    default.
    """

    @staticmethod
    def _words(n: int) -> np.ndarray:
        return np.frombuffer(os.urandom(8 * int(n)), dtype=np.uint64)

    def integers(self, low, high=None, size=None, dtype=np.int64, endpoint=False):
        if high is None:
            low, high = 0, low
        low = int(low)
        span = int(high) - low + (1 if endpoint else 0)
        if span <= 0:
            raise ValueError("low >= high")
        # mirror numpy.random.Generator.integers' bounds check: a
        # range that cannot fit the output dtype must error, never
        # silently wrap through the unsigned->signed astype below
        info = np.iinfo(np.dtype(dtype))
        if low < info.min or low + span - 1 > info.max:
            raise ValueError(
                f"low/high are out of bounds for {np.dtype(dtype).name}"
            )
        bits = (span - 1).bit_length() if span > 1 else 1
        if bits > 64:
            raise ValueError("span exceeds 64 bits")
        mask = np.uint64((1 << bits) - 1)
        if size is None:
            # scalar path: masked rejection, expected <2 rounds
            while True:
                r = int(self._words(1)[0] & mask)
                if r < span:
                    return np.dtype(dtype).type(low + r)
        out = np.empty(int(size), dtype=np.uint64)
        filled = 0
        while filled < out.size:
            need = out.size - filled
            # overdraw so one round usually suffices (acceptance > 1/2)
            cand = self._words(need * 2 + 8) & mask
            cand = cand[cand < np.uint64(span)] if span < (1 << bits) else cand
            take = min(need, cand.size)
            out[filled : filled + take] = cand[:take]
            filled += take
        res = out.astype(dtype, copy=False)
        if low:
            res = res + np.dtype(dtype).type(low)
        return res


_URANDOM_GENERATOR = _UrandomGenerator()


def rng() -> np.random.Generator:
    """Process-local CSPRNG-seeded generator (fork-safe); with
    :data:`CSPRNG_ENV` set, the per-draw ``os.urandom`` generator."""
    if os.environ.get(CSPRNG_ENV, "").strip().lower() in ("1", "true", "yes"):
        return _URANDOM_GENERATOR  # type: ignore[return-value]
    global _GENERATOR, _GENERATOR_PID
    pid = os.getpid()
    if _GENERATOR is None or _GENERATOR_PID != pid:
        _GENERATOR = np.random.default_rng(
            np.frombuffer(os.urandom(32), dtype=np.uint64)
        )
        _GENERATOR_PID = pid
    return _GENERATOR


# ---------------------------------------------------------------------------
# Certified integer samplers
# ---------------------------------------------------------------------------
#
# Certified inversion: each draw starts as a 53-bit uniform prefix
# ``u in [m, m+1) / 2^53``.  A whole-batch float pass computes the
# candidate inverse-CDF band and *certifies* it against rigorous
# (margin-widened) enclosures of the band boundaries ``exp(-k/scale)``;
# the rare draws whose prefix interval straddles a boundary (or falls
# inside the enclosure margin, ~1e-15 of the mass) are finished
# per-value by extending the SAME prefix with fresh bits under
# ``mpmath.iv`` interval arithmetic until the band is unambiguous.
# Because every infinite-precision uniform is mapped to its true band,
# the output distribution is exactly geometric — the float pass is an
# accelerator, not an approximation.  This is the column analogue of
# the reference's per-value exact samplers
# (``pandas_measurements/series.py:305-309`` applying
# ``noise_mechanisms.py``; ``random/discrete_gaussian.py``), at
# vectorized-NumPy throughput.
#
# Margin accounting (r17 re-derivation): the enclosure of exp(-arg)
# widens by relative 1e-15*(1+arg).  The propagated argument rounding
# (one correctly-rounded int/int division for inv_s plus the j*inv_s
# product) contributes <= 2u*arg ~ 8.4e-15 at the worst certifiable
# argument (arg <= 53 ln 2 + 1 ~ 37.7, since certification requires
# m > 0), where the margin is 3.9e-14 — leaving ~135 ulps of
# tolerance for libm ``exp``'s own error (every mainstream libm is
# <= 1 ulp, so the real slack is two orders); at small arguments the
# tolerance is ~4 ulps on top of the fully-covered propagation.  A
# draw inside the widened band just takes the rigorous per-value
# path, so an overestimate only costs speed.

_PREFIX_BITS = 53
_TWO53 = float(1 << 53)


def _resolve_band_index(m: int, bits: int, scale: Fraction) -> int:
    """Finish one certified-inversion geometric draw exactly.

    ``u in [m, m+1)/2^bits`` is the revealed uniform prefix; the band
    index is ``floor(-scale * ln u)``.  Extend the prefix with fresh
    bits and raise ``mpmath.iv`` working precision until the floor is
    the same over the whole enclosure.
    """
    import mpmath

    iv = mpmath.iv
    g = rng()
    prec = 96
    while True:
        while m == 0:  # all-zero prefix: u < 2^-bits, keep revealing
            m = (m << _PREFIX_BITS) | int(g.integers(0, 1 << _PREFIX_BITS))
            bits += _PREFIX_BITS
        old_prec = iv.prec
        try:
            iv.prec = max(prec, bits + 64)
            u = iv.mpf([m, m + 1]) / iv.mpf(1 << bits)
            s_iv = iv.mpf(scale.numerator) / iv.mpf(scale.denominator)
            k_iv = -s_iv * iv.log(u)
            lo = int(mpmath.floor(mpmath.mpf(k_iv.a)))
            hi = int(mpmath.floor(mpmath.mpf(k_iv.b)))
            if lo == hi:
                return lo
        finally:
            iv.prec = old_prec
        m = (m << _PREFIX_BITS) | int(g.integers(0, 1 << _PREFIX_BITS))
        bits += _PREFIX_BITS
        prec += 64


def _geometric_failures_exact_vec(scale: Fraction, size: int) -> np.ndarray:
    """Exact geometric number-of-failures, P[X=k] = (1-q) q^k with
    q = exp(-1/scale), by certified inversion (see module note above)."""
    g = rng()
    m = g.integers(0, 1 << _PREFIX_BITS, size=size, dtype=np.int64)
    u_lo = m / _TWO53  # both exact: m < 2^53 and /2^53 is a scaling
    u_hi = (m + 1) / _TWO53
    s_float = scale.numerator / scale.denominator
    inv_s = scale.denominator / scale.numerator

    with np.errstate(divide="ignore"):
        k = np.floor(-np.log((u_lo + u_hi) * 0.5) * s_float)
    k = np.maximum(k, 0.0)

    def bounds(j):
        # enclosure of exp(-j/scale): relative margin covers the float
        # rounding of j*inv_s and libm exp's ulp; absolute 1e-300
        # covers subnormal/underflow truncation (u >= 2^-53 >> 1e-300)
        arg = j * inv_s
        v = np.exp(-arg)
        marg = 1e-15 * (1.0 + arg)
        return np.maximum(v * (1.0 - marg) - 1e-300, 0.0), v * (1.0 + marg) + 1e-300

    bk_lo, _ = bounds(k)
    _, bk1_hi = bounds(k + 1.0)
    # certified iff the whole prefix interval sits inside [B(k+1), B(k))
    ok = (m > 0) & (u_lo >= bk1_hi) & (u_hi <= bk_lo)
    # a certified k is always < 2^53 (k and k+1 must differ as floats
    # for the band test to be satisfiable), so this cast is exact for
    # every kept entry; clamping first keeps huge uncertified
    # candidates (scale > ~2.5e17) from tripping numpy's invalid-cast
    # warning before the exact resolver overwrites them (or fails
    # closed with OverflowError on assignment)
    out = np.minimum(k, 2.0**62).astype(np.int64)
    for i in np.flatnonzero(~ok):
        out[i] = _resolve_band_index(int(m[i]), _PREFIX_BITS, scale)
    return out


def two_sided_geometric_exact_vec(
    scale: Union[int, Fraction], size: int
) -> np.ndarray:
    """Exact vectorized discrete Laplace, P[X=k] ∝ exp(-|k|/scale), as
    the difference of two iid exact geometric number-of-failures."""
    scale = Fraction(scale)
    if scale == 0:
        return np.zeros(size, dtype=np.int64)
    if scale < 0:
        raise ValueError("scale must be >= 0")
    return _geometric_failures_exact_vec(scale, size) - _geometric_failures_exact_vec(
        scale, size
    )


def _resolve_bernoulli_exp(m: int, bits: int, gamma: Fraction) -> bool:
    """Exactly decide ``u < exp(-gamma)`` for the revealed uniform
    prefix ``u in [m, m+1)/2^bits``, extending the prefix and raising
    interval precision until the comparison is unambiguous."""
    import mpmath

    iv = mpmath.iv
    g = rng()
    prec = 96
    while True:
        old_prec = iv.prec
        try:
            iv.prec = max(prec, bits + 64)
            u = iv.mpf([m, m + 1]) / iv.mpf(1 << bits)
            p = iv.exp(-iv.mpf(gamma.numerator) / iv.mpf(gamma.denominator))
            if mpmath.mpf(u.b) < mpmath.mpf(p.a):
                return True
            if mpmath.mpf(u.a) > mpmath.mpf(p.b):
                return False
        finally:
            iv.prec = old_prec
        m = (m << _PREFIX_BITS) | int(g.integers(0, 1 << _PREFIX_BITS))
        bits += _PREFIX_BITS
        prec += 64


def discrete_gaussian_exact_vec(
    sigma_squared: Union[int, Fraction], size: int
) -> np.ndarray:
    """Exact vectorized discrete Gaussian N_Z(0, sigma^2).

    CKS'20 Algorithm 3 rejection from the exact discrete-Laplace
    proposal (scale t = floor(sigma)+1), with the Bernoulli
    ``exp(-gamma)`` acceptance decided by certified float comparison:
    the uniform's 53-bit prefix is compared against a margin-widened
    enclosure of ``exp(-gamma)``, and only prefix intervals inside the
    margin fall back to the rigorous per-value comparison with the
    exact rational gamma.
    """
    import math

    s2 = Fraction(sigma_squared)
    if s2 == 0:
        return np.zeros(size, dtype=np.int64)
    if s2 < 0:
        raise ValueError("sigma_squared must be >= 0")
    t = math.isqrt(int(s2)) + 1
    t_frac = Fraction(t)
    mu = s2 / t  # exact rational
    mu_f = mu.numerator / mu.denominator
    s2_f = s2.numerator / s2.denominator
    g = rng()
    out = np.empty(size, dtype=np.int64)
    filled = 0
    overdraw = 2.2
    while filled < size:
        n = max(1024, int((size - filled) * overdraw))
        y = two_sided_geometric_exact_vec(t_frac, n)
        m = g.integers(0, 1 << _PREFIX_BITS, size=n, dtype=np.int64)
        u_lo = m / _TWO53
        u_hi = (m + 1) / _TWO53
        d = np.abs(y).astype(np.float64) - mu_f
        gamma = d * d / (2.0 * s2_f)
        p = np.exp(-gamma)
        # margin: |y| is exact, mu_f/s2_f carry eps relative error that
        # the |d|*mu/s2 term bounds through the cancellation, plus
        # gamma's own rounding and exp's ulp
        marg = 1e-15 * (np.abs(d) * mu_f / s2_f + 3.0 * gamma + 1.0)
        p_lo = np.maximum(p * (1.0 - marg) - 1e-300, 0.0)
        p_hi = p * (1.0 + marg) + 1e-300
        accept = u_hi <= p_lo
        uncertain = ~accept & ~(u_lo >= p_hi)
        for i in np.flatnonzero(uncertain):
            g_exact = (abs(Fraction(int(y[i]))) - mu) ** 2 / (2 * s2)
            accept[i] = _resolve_bernoulli_exp(int(m[i]), _PREFIX_BITS, g_exact)
        keep = y[accept]
        if len(keep):
            acc = len(keep) / n
            overdraw = min(20.0, 1.2 / max(acc, 0.05))
        take = min(len(keep), size - filled)
        out[filled : filled + take] = keep[:take]
        filled += take
    return out
