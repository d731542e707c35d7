"""Floating-point-safe continuous samplers and exponential-mechanism
selection.

Port of the reference's Arb-based design (``random/laplace.py:12-49``,
``random/continuous_gaussian.py:13-97``, ``random/uniform.py:34``,
``random/inverse_cdf.py``, ``pandas_measurements/series.py:374-484``)
onto ``mpmath.iv`` interval arithmetic (mpmath ships with sympy, which
is already a dependency) instead of vendored GMP/MPFR/Arb ctypes.

The common pattern — inverse transform sampling with progressively
refined randomness:

1. draw ``step`` more random bits, defining the dyadic probability
   interval ``p in [bits/2^n, (bits+1)/2^n]``;
2. evaluate the (monotone) transform at both endpoints in rigorous
   interval arithmetic at ~n bits of working precision;
3. if every real in the image interval rounds to the same IEEE double,
   return it; otherwise draw more bits and repeat.

Because the returned double is determined by the true real-valued
sample, the result carries none of the float-artifact structure that
naive ``scale * log(u)``-style samplers leak (the vulnerability class
in the reference's ``doc/topic-guides/known-vulnerabilities.rst``).

Uniform needs no transcendental functions, so :func:`sample_uniform`
runs entirely in exact ``Fraction`` arithmetic.  Laplace and Gaussian
have ONE sampler each, vectorized: :func:`laplace_exact_vec` and
:func:`gaussian_exact_vec` evaluate the transform over a 106-bit
uniform prefix in double-double arithmetic (``dd.py``) and certify the
rounding with a rigorous margin; the rare draws the margin cannot
certify continue the same prefix through the interval-arithmetic
resolvers :func:`_resolve_laplace` and :func:`_resolve_gaussian_pair`.
A single noisy value is a one-element batch.  The certified
``erf``/``erfinv`` enclosures (:func:`_iv_erf`,
:func:`_erfinv_enclosure`) serve the PRDP sampler in ``prdp.py``.

``select_noisy_argmax`` is the exponential-mechanism selection: a
vectorized NumPy pass brackets every candidate's Gumbel-noised score
between its p-interval endpoints (plus a float-rounding slack) and
eliminates dominated candidates; the few survivors are re-scored in
interval arithmetic with progressively more Gumbel bits until exactly
one remains — the same elimination loop as the reference's
``_select_quantile_interval``, with a vectorized shortlist in front.
"""

from __future__ import annotations

from fractions import Fraction
from typing import List, Optional, Tuple

import numpy as np

from . import samplers


def _randbits(n: int) -> int:
    """n uniform random bits from the process CSPRNG-seeded generator."""
    g = samplers.rng()
    out = 0
    while n > 0:
        take = min(n, 63)
        out = (out << take) | int(g.integers(0, 1 << take))
        n -= take
    return out


# ---------------------------------------------------------------------------
# Uniform: exact Fraction arithmetic, no transcendentals
# ---------------------------------------------------------------------------


def sample_uniform(lower: float, upper: float, step_size: int = 63) -> float:
    """Uniform draw from [lower, upper], exact.

    The inverse CDF ``l + p (u - l)`` is rational, so the image of the
    dyadic p-interval is computed exactly with ``Fraction`` and the
    loop stops as soon as both endpoints round to the same double
    (``float(Fraction)`` rounds correctly).  Reference:
    ``random/uniform.py:34``.
    """
    if not lower <= upper:
        raise ValueError(f"need lower <= upper, got {lower} > {upper}")
    if lower == upper:
        return float(lower)
    lo_f, span = Fraction(lower), Fraction(upper) - Fraction(lower)
    n = 0
    bits = 0
    while True:
        bits = (bits << step_size) | _randbits(step_size)
        n += step_size
        denom = 1 << n
        a = float(lo_f + span * Fraction(bits, denom))
        b = float(lo_f + span * Fraction(bits + 1, denom))
        if a == b:
            return a


# ---------------------------------------------------------------------------
# Interval-arithmetic building blocks (Laplace resolver, erf/erfinv)
# ---------------------------------------------------------------------------


def _iv_dyadic(iv, num: int, log2_den: int):
    """Exact iv.mpf for num / 2**log2_den (binary scaling is lossless
    as long as iv.prec >= bit_length(num))."""
    return iv.mpf(num) / iv.mpf(1 << log2_den)


def _endpoint_float(x) -> float:
    """Round-to-NEAREST double of an interval endpoint.

    ``float()`` on an ``ivmpf`` truncates toward zero, so two
    endpoints can truncate to the same double while the enclosed reals
    round to its neighbour — certifying a 1-ulp-off sample.  Routing
    through ``mpmath.mpf`` (whose float conversion rounds to nearest,
    which is monotone) restores the 'both endpoints round to the same
    double => every real in between does' argument.
    """
    import mpmath

    return float(mpmath.mpf(x))


def _laplace_icdf_enclosure(mu: float, b: float, num: int, n: int, iv):
    """Rigorous enclosure of the Laplace(mu, b) inverse CDF at the
    exact dyadic point num/2^n:  mu - b sgn(p-1/2) log(1-2|p-1/2|)."""
    if num * 2 == (1 << n):
        return iv.mpf(mu)
    p = _iv_dyadic(iv, num, n)
    d = p - iv.mpf("0.5")
    sign = 1.0 if num * 2 > (1 << n) else -1.0
    inner = iv.mpf(1) - iv.mpf(2) * abs(d)
    return iv.mpf(mu) - iv.mpf(b) * iv.mpf(sign) * iv.log(inner)


def _resolve_laplace(
    mu: float, b: float, bits: int, n: int, step_size: int = 63
) -> float:
    """Finish a Laplace draw whose uniform prefix ``bits/2^n`` is
    already revealed: extend the SAME prefix until the icdf image
    interval rounds to a unique double.  (Continuing the prefix — not
    resampling — is what keeps every draw of
    :func:`laplace_exact_vec` the correct rounding of the icdf at one
    infinite-precision uniform.)  ``n == 0`` starts from no revealed
    bits."""
    import mpmath

    iv = mpmath.iv
    old_prec = iv.prec
    try:
        while True:
            if n and not (bits == 0 or bits + 1 == (1 << n)):
                # p touching {0,1} leaves the icdf unbounded: refine first
                iv.prec = n + 20
                lo = _laplace_icdf_enclosure(mu, b, bits, n, iv)
                hi = _laplace_icdf_enclosure(mu, b, bits + 1, n, iv)
                a, c = _endpoint_float(lo.a), _endpoint_float(hi.b)
                if a == c:
                    return a
            bits = (bits << step_size) | _randbits(step_size)
            n += step_size
    finally:
        # iv.prec is GLOBAL mpmath state: restore so a raised/returned
        # path never leaks an inflated working precision (r17 hygiene)
        iv.prec = old_prec


def _iv_erf(y, iv):
    """Rigorous interval enclosure of erf(y).

    ``mpmath.iv.erf`` (hypergeometric 1F1) fails to converge for
    moderate arguments, so this uses the cancellation-free series

        erf(y) = (2/sqrt(pi)) y e^{-y^2} sum_k (2y^2)^k / (1*3*...*(2k+1))

    whose terms are all positive; the truncation error is enclosed by
    a geometric tail bound once the term ratio 2y^2/(2k+3) < 1/2.
    Everything runs in iv arithmetic, so the result is certified.
    """
    two_y2 = iv.mpf(2) * y * y
    term = iv.mpf(1)
    total = iv.mpf(1)
    k = 0
    tiny = iv.mpf(1) / iv.mpf(1 << (iv.prec + 5))
    while True:
        k += 1
        term = term * two_y2 / iv.mpf(2 * k + 1)
        total = total + term
        ratio = two_y2 / iv.mpf(2 * k + 3)
        if ratio.b < 0.5 and term.b < tiny.a:
            # tail <= term * ratio / (1 - ratio) <= term (since ratio < 1/2)
            total = total + iv.mpf([0, term.b])
            break
        if k > 10000:
            raise RuntimeError("erf series failed to converge")
    return (iv.mpf(2) / iv.sqrt(iv.pi)) * y * iv.exp(-y * y) * total


def _erfinv_enclosure(x_num: int, x_den_log2: int, prec: int, iv, mpmath):
    """Certified enclosure of erfinv(x) for the exact dyadic
    x = x_num/2^x_den_log2 in (-1, 1).

    Candidate from scalar mpmath.erfinv at working precision, then
    verified through the rigorous series erf enclosure: by
    monotonicity, erfinv(x) ∈ [ylo, yhi] iff erf(ylo) <= x <=
    erf(yhi).  The margin doubles until both one-sided checks certify.
    """
    x = _iv_dyadic(iv, x_num, x_den_log2)
    # all candidate arithmetic at full working precision — at default
    # (53-bit) precision y±eps collapses onto y for eps < ulp(y) and
    # the certification can never move past y's own rounding error
    with mpmath.workprec(prec + 30):
        y = mpmath.erfinv(mpmath.mpf(x_num) / mpmath.mpf(1 << x_den_log2))
        eps = mpmath.ldexp(1, -prec - 5) * (abs(y) + 1)
        for _ in range(64):
            ylo, yhi = y - eps, y + eps
            lo_ok = _iv_erf(iv.mpf(ylo), iv).b <= x.a
            hi_ok = _iv_erf(iv.mpf(yhi), iv).a >= x.b
            if lo_ok and hi_ok:
                return iv.mpf([ylo, yhi])
            eps = eps * 2
    raise RuntimeError("erfinv enclosure failed to certify")


# ---------------------------------------------------------------------------
# Vectorized certified continuous samplers (the column hot path)
# ---------------------------------------------------------------------------
#
# The returned double is determined by the true real-valued sample
# (rounding pushforward of the continuous distribution), over a whole
# NumPy array at once:
#
# 1. reveal a 106-bit uniform prefix per element (two 53-bit draws,
#    exactly representable as a double-double);
# 2. evaluate the monotone transform in vectorized double-double
#    arithmetic (dd.py, ~2^-95 worst-case error) and bound the image
#    of the whole prefix interval with a rigorous margin
#    (derivative-over-interval + arithmetic error);
# 3. accept elements whose margin-widened enclosure rounds to a unique
#    double (all but ~1e-11 of draws); the rest CONTINUE THE SAME
#    PREFIX through the interval-arithmetic resolver, so the output
#    law is exact, not an approximation of it.

_TWO53F = float(1 << 53)
_H106 = 2.0**-106  # prefix interval width
_ARITH_REL = 2.0**-88  # conservative dd pipeline error budget
_SLOP = 1.000001  # absorbs float rounding of the margin arithmetic itself
# below this scale the double-double error-free transformations start
# underflowing into subnormals and the 2^-88 budget no longer holds;
# such (absurd, but legal) scales route every draw through the
# interval-arithmetic resolver instead of the double-double fast path
_EXTREME_SCALE = 1e-280
# dd.sqrt's separate floor: its internal two_prod(s0, s0) error leg
# underflows once the ARGUMENT (sigma^2, not sigma) nears the
# subnormal range — measured rel error 2^-79 at 1e-300 and 2^-53 at
# 1e-310, both above the 2^-88 budget, vs 2^-107 at 1e-290 (r17; see
# the accuracy note on dd.sqrt).  The gaussian guard compares sigma^2
# against THIS constant: the previous `sigma_squared <
# _EXTREME_SCALE**2` underflowed to 0.0 and never fired, so a
# subnormal sigma^2 reached the dd pipeline with a sqrt error the
# certification margin does not cover.
_DD_SQRT_MIN = 1e-290
_CHUNK = 1 << 18  # dd pipelines are memory-bound; stay cache-resident


def _chunked(core):
    """Run an (array, scalar)->array sampler core in cache-sized
    chunks: the dd pipeline makes ~300 passes over its arrays, so
    keeping each working set ~2 MB instead of ~16 MB is a ~3x win at
    multi-million-element batches."""

    def wrapper(mu, param):
        mu = np.asarray(mu, dtype=np.float64)
        if len(mu) <= _CHUNK:
            return core(mu, param)
        out = np.empty(len(mu), dtype=np.float64)
        for s in range(0, len(mu), _CHUNK):
            out[s : s + _CHUNK] = core(mu[s : s + _CHUNK], param)
        return out

    wrapper.__name__ = core.__name__
    wrapper.__doc__ = core.__doc__
    return wrapper


def _uniform_prefix_dd(n: int):
    """(dd value, int bits) of n iid 106-bit uniform prefixes: the dd
    pair is EXACTLY m1/2^53 + m2/2^106, the lower endpoint of the
    dyadic interval [bits, bits+1)/2^106."""
    from . import dd as _dd

    g = samplers.rng()
    m1 = g.integers(0, 1 << 53, size=n, dtype=np.int64)
    m2 = g.integers(0, 1 << 53, size=n, dtype=np.int64)
    p = _dd.two_sum(m1 / _TWO53F, m2 / (_TWO53F * _TWO53F))
    return p, m1, m2


def _certify_round(x, marg):
    """Mask of elements where every real in [x_dd - marg, x_dd + marg]
    rounds to x's head double."""
    c = x[0]
    with np.errstate(invalid="ignore"):
        up_gap = 0.5 * (np.nextafter(c, np.inf) - c)
        down_gap = 0.5 * (c - np.nextafter(c, -np.inf))
        return (
            np.isfinite(c)
            & np.isfinite(marg)
            & (x[1] + marg < up_gap)
            & (marg - x[1] < down_gap)
        )


@_chunked
def laplace_exact_vec(mu: np.ndarray, b: float) -> np.ndarray:
    """Certified Laplace(mu_i, b) draws, one per element of ``mu``.

    Inverse CDF ``mu - b sgn(p-1/2) log(1-2|p-1/2|)`` evaluated in
    double-double (reference ``random/laplace.py:12-49``); each output
    is the correct rounding of the true Laplace(mu_i, b) real.
    """
    from . import dd as _dd

    mu = np.asarray(mu, dtype=np.float64)
    if not b >= 0:
        raise ValueError("scale must be >= 0")
    if b == 0:
        return mu.copy()
    if b < _EXTREME_SCALE:
        return np.array([_resolve_laplace(float(m), b, 0, 0) for m in mu])
    p, m1, m2 = _uniform_prefix_dd(len(mu))
    d = _dd.add_d(p, -0.5)
    sign_pos = (d[0] > 0.0) | ((d[0] == 0.0) & (d[1] >= 0.0))
    absd = (np.where(sign_pos, d[0], -d[0]), np.where(sign_pos, d[1], -d[1]))
    inner = _dd.add_d(_dd.mul_d(absd, -2.0), 1.0)  # 1 - 2|d| in (0, 1]
    with np.errstate(divide="ignore", invalid="ignore"):
        L = _dd.log(inner)
        x = _dd.add(_dd.dd(mu), _dd.mul_d(L, np.where(sign_pos, -b, b)))
        # |dx/dp| = 2b/inner over the width-2^-106 prefix interval
        inner_min = inner[0] * (1.0 - 1e-15) - 3e-32
        deriv_marg = np.where(
            inner_min > 0.0, (2.0 * b) * _H106 / inner_min, np.inf
        )
        arith_marg = (np.abs(x[0]) + b + np.abs(mu)) * _ARITH_REL
        marg = (deriv_marg + arith_marg) * _SLOP + 1e-300
        ok = _certify_round(x, marg)
    out = x[0].copy()
    for i in np.flatnonzero(~ok):
        out[i] = _resolve_laplace(
            float(mu[i]), b, (int(m1[i]) << 53) | int(m2[i]), 106
        )
    return out


def _resolve_gaussian_pair(
    mu_cos: float,
    mu_sin: Optional[float],
    sigma_squared: float,
    u_bits: int,
    u_n: int,
    v_bits: int,
    v_n: int,
    step_size: int = 63,
) -> Tuple[float, Optional[float]]:
    """Finish BOTH Box-Muller outputs of one (u, v) pair from their
    revealed prefixes: ``mu + sqrt(sigma^2) sqrt(-2 ln u) {cos,sin}
    (2 pi v)`` in rigorous interval arithmetic.

    Both coordinates share ONE extension sequence of the same (u, v)
    prefixes — extending them independently would make the pair the
    image of two different points of the square, breaking the exact
    joint law.  Once a coordinate certifies, further refinement cannot
    change its rounded value (the image interval only shrinks), so
    looping until both certify is sound.  ``mu_sin=None`` resolves
    only the cos output (the unpaired last element of an odd batch).
    """
    import mpmath

    iv = mpmath.iv
    z_cos: Optional[float] = None
    z_sin: Optional[float] = None if mu_sin is not None else float("nan")
    old_prec = iv.prec
    try:
        while True:
            if u_bits != 0:
                iv.prec = max(u_n, v_n) + 30
                u_iv = iv.mpf([u_bits, u_bits + 1]) / iv.mpf(1 << u_n)
                v_iv = iv.mpf([v_bits, v_bits + 1]) / iv.mpf(1 << v_n)
                r = iv.sqrt(iv.mpf(-2) * iv.log(u_iv)) * iv.sqrt(
                    iv.mpf(sigma_squared)
                )
                theta = iv.mpf(2) * iv.pi * v_iv
                if z_cos is None:
                    out = iv.mpf(mu_cos) + r * iv.cos(theta)
                    a, b2 = _endpoint_float(out.a), _endpoint_float(out.b)
                    if a == b2:
                        z_cos = a
                if z_sin is None:
                    out = iv.mpf(mu_sin) + r * iv.sin(theta)
                    a, b2 = _endpoint_float(out.a), _endpoint_float(out.b)
                    if a == b2:
                        z_sin = a
                if z_cos is not None and z_sin is not None:
                    return z_cos, (z_sin if mu_sin is not None else None)
            u_bits = (u_bits << step_size) | _randbits(step_size)
            u_n += step_size
            v_bits = (v_bits << step_size) | _randbits(step_size)
            v_n += step_size
    finally:
        iv.prec = old_prec


@_chunked
def gaussian_exact_vec(mu: np.ndarray, sigma_squared: float) -> np.ndarray:
    """Certified N(mu_i, sigma^2) draws, one per element of ``mu``.

    Box-Muller ``mu + sigma sqrt(-2 ln u) cos(2 pi v)`` in double-
    double.  The transform differs from the reference's erfinv
    inverse CDF (``random/continuous_gaussian.py:13-97``), but the
    OUTPUT law is the same: the double-rounding pushforward of a true
    N(mu, sigma^2) real (erfinv has no vectorizable certified form;
    Box-Muller needs only log/sqrt/cos, which dd.py provides with
    rigorous error bounds).
    """
    from . import dd as _dd

    mu = np.asarray(mu, dtype=np.float64)
    if not sigma_squared >= 0:
        raise ValueError("sigma_squared must be >= 0")
    if sigma_squared == 0:
        return mu.copy()
    if sigma_squared < _DD_SQRT_MIN:
        return np.array([
            _resolve_gaussian_pair(float(m), None, float(sigma_squared), 0, 0, 0, 0)[0]
            for m in mu
        ])
    n = len(mu)
    # one (u, v) pair yields TWO independent normals (R cos, R sin) —
    # the joint law of the rounded pair is the product of its exact
    # marginals, so pairing halves the dd pipeline cost per sample
    nc = (n + 1) // 2
    u, u1, u2 = _uniform_prefix_dd(nc)
    v, v1, v2 = _uniform_prefix_dd(nc)
    sig = _dd.sqrt(_dd.dd(np.float64(sigma_squared)))
    sig_f = float(np.sqrt(sigma_squared))
    out = np.empty(n, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        lu = _dd.log(u)
        R = _dd.sqrt(_dd.mul_d(lu, -2.0))
        theta = _dd.mul((np.float64(_dd.TWO_PI[0]), np.float64(_dd.TWO_PI[1])), v)
        S, C = _dd.sincos(theta)
        # |dx/du| <= sigma/(u R);  |dx/dv| <= 2 pi sigma R (either trig).
        # The u-margin needs inf(u R) over the prefix interval, and R
        # DECREASES in u, so bounding with R(u_lo) alone understates it
        # near u -> 1.  R(u_hi)^2 = R_lo^2 - 2h/u* >= R_lo^2/2 whenever
        # R_lo^2 * u_lo >= 4h, giving inf(u R) >= u_lo R_lo / sqrt(2);
        # outside that (astronomically rare, u within ~2h of 1) the
        # draw is marked uncertain and resolved rigorously.
        u_r = u[0] * R[0]
        r2u = R[0] * R[0] * u[0]
        marg_u = np.where(
            (u_r > 0.0) & (r2u >= 4.0 * _H106),
            1.4142135623730951 * sig_f * _H106 / u_r,
            np.inf,
        )
        marg_v = sig_f * 6.2831853071795872 * np.abs(R[0]) * _H106
        base_marg = 1.1 * (marg_u + marg_v)
        ns = n - nc  # sin outputs (== nc, or nc-1 for odd n)
        bad = np.zeros(nc, dtype=bool)
        for trig, lo_ix, hi_ix in (("cos", 0, nc), ("sin", nc, n)):
            k = hi_ix - lo_ix
            T = C if trig == "cos" else S
            noise = _dd.mul(_dd.mul((R[0][:k], R[1][:k]), (T[0][:k], T[1][:k])), sig)
            x = _dd.add(_dd.dd(mu[lo_ix:hi_ix]), noise)
            arith = (np.abs(x[0]) + sig_f * (np.abs(R[0][:k]) + 1.0)) * _ARITH_REL
            marg = (base_marg[:k] + arith) * _SLOP + 1e-300
            ok = _certify_round(x, marg)
            out[lo_ix:hi_ix] = x[0]
            bad[:k] |= ~ok
    # a pair with ANY uncertain coordinate resolves BOTH from one
    # shared prefix extension (see _resolve_gaussian_pair)
    for i in np.flatnonzero(bad):
        z_cos, z_sin = _resolve_gaussian_pair(
            float(mu[i]),
            float(mu[nc + i]) if i < ns else None,
            float(sigma_squared),
            (int(u1[i]) << 53) | int(u2[i]),
            106,
            (int(v1[i]) << 53) | int(v2[i]),
            106,
        )
        out[i] = z_cos
        if i < ns:
            out[nc + i] = z_sin
    return out


# ---------------------------------------------------------------------------
# Exact exponential-mechanism selection (Gumbel-max with refinement)
# ---------------------------------------------------------------------------


def select_noisy_argmax(
    widths: np.ndarray,
    penalties: np.ndarray,
    exact_width=None,
    exact_penalty=None,
    step_size: int = 63,
    refine_step: int = 15,
    float_slack: Optional[float] = None,
) -> int:
    """Index of argmax_i of ``log(w_i) - c_i + G_i`` with iid standard
    Gumbel noise, decided exactly.

    ``widths`` / ``penalties`` are float arrays for the vectorized
    shortlist; ``exact_width(i)`` / ``exact_penalty(i)`` return the
    exact ``Fraction`` values for the interval-arithmetic refinement
    (defaulting to exact conversion of the float entries, which is
    correct when the floats are themselves the exact inputs).  Mirrors
    the reference's precision-doubling elimination loop
    (``series.py:409-484``) with a vectorized float shortlist in
    front: each candidate's score is bracketed between its Gumbel
    p-interval endpoints (widened by ``float_slack``), dominated
    candidates are dropped vectorized, and only the survivors enter
    the exact mpmath loop — so the per-group cost stays O(m) NumPy
    plus O(survivors) arbitrary precision.
    """
    m = len(widths)
    if m == 0:
        raise ValueError("no candidates")
    if m == 1:
        return 0
    if exact_width is None:
        exact_width = lambda i: Fraction(float(widths[i]))  # noqa: E731
    if exact_penalty is None:
        exact_penalty = lambda i: Fraction(float(penalties[i]))  # noqa: E731
    g = samplers.rng()
    n = step_size
    bits = g.integers(0, 1 << step_size, size=m, dtype=np.uint64)

    # --- vectorized float shortlist ---
    # The shortlist must never eliminate the true argmax, so every
    # float bound is directed: the 63-bit ``bits`` round when cast to
    # float64 (>2^53), so the dyadic p-interval is widened by that
    # rounding error first; a p-interval touching 0 or 1 keeps its TRUE
    # infinite Gumbel endpoint (a clipped finite stand-in could
    # eliminate the real winner — the derivative of -log(-log p) blows
    # up at both ends, where no finite slack is sound); and the
    # residual slack is the propagated log-chain rounding bound
    # ~2*eps*(1+|value|) per log, widened 64x, not a fixed heuristic.
    with np.errstate(divide="ignore", invalid="ignore"):
        log_w = np.log(np.asarray(widths, dtype=float))
        pen = np.asarray(penalties, dtype=float)
        base = log_w - pen
        bits_f = bits.astype(np.float64)
        err_b = bits_f * 2.0**-52 + 2.0
        den = float(1 << n)
        p_lo = (bits_f - err_b) / den
        p_hi = (bits_f + 1.0 + err_b) / den
        # clipping p downward only lowers a lower bound (monotone), and
        # upward only raises an upper bound — both directions stay sound
        g_lo = np.where(
            p_lo > 0.0,
            -np.log(-np.log(np.minimum(p_lo, 1.0 - 1e-17))),
            -np.inf,
        )
        g_hi = np.where(
            p_hi < 1.0,
            -np.log(-np.log(np.maximum(p_hi, 1e-300))),
            np.inf,
        )
    mult = 64.0 * float(np.finfo(float).eps) if float_slack is None else float_slack
    # scale with |log w| and |penalty| separately, not |base|: their
    # rounding errors survive even when the subtraction cancels
    with np.errstate(invalid="ignore"):
        slack = mult * (
            1.0
            + np.abs(np.where(np.isfinite(log_w), log_w, 0.0))
            + np.abs(pen)
            + np.abs(g_lo)
            + np.abs(g_hi)
        )
    with np.errstate(invalid="ignore"):
        score_lo = base + g_lo - slack
        score_hi = base + g_hi + slack
    # an infinite endpoint makes its own slack infinite and can NaN the
    # sum; a zero-width candidate (base = -inf) truly scores -inf, any
    # other NaN resolves conservatively to +inf
    score_lo = np.where(np.isnan(score_lo), -np.inf, score_lo)
    score_hi = np.where(
        np.isnan(score_hi), np.where(np.isneginf(base), -np.inf, np.inf), score_hi
    )
    best_lo = float(np.nanmax(score_lo))
    survivors: List[int] = [int(i) for i in np.flatnonzero(score_hi >= best_lo)]
    if len(survivors) == 1:
        return survivors[0]

    # --- exact refinement on the survivors ---
    import mpmath

    iv = mpmath.iv
    big_bits = {i: int(bits[i]) for i in survivors}
    while True:
        extra = _randbits_array(g, len(survivors), refine_step)
        for k, i in enumerate(survivors):
            big_bits[i] = (big_bits[i] << refine_step) + extra[k]
        n += refine_step
        iv.prec = n + 20
        intervals = []
        for i in survivors:
            b_i = big_bits[i]
            base_iv = iv.log(_exact_to_iv(iv, exact_width(i))) - _exact_to_iv(
                iv, exact_penalty(i)
            )
            glo = _gumbel_at(iv, b_i, n, lower=True)
            ghi = _gumbel_at(iv, b_i + 1, n, lower=False)
            intervals.append(base_iv + iv.mpf([glo, ghi]))
        best = max(intervals, key=lambda s: s.a)
        keep = [i for i, s in zip(survivors, intervals) if not (s.b < best.a)]
        if len(keep) == 1:
            return keep[0]
        survivors = keep


def _randbits_array(g, count: int, width: int) -> List[int]:
    return [int(x) for x in g.integers(0, 1 << width, size=count, dtype=np.uint64)]


def _exact_to_iv(iv, x: Fraction):
    x = Fraction(x)
    return iv.mpf(x.numerator) / iv.mpf(x.denominator)


def _gumbel_at(iv, num: int, log2_den: int, lower: bool):
    """One endpoint of -log(-log(p)) at the exact dyadic p=num/2^den.

    p=0 maps to -inf, p=1 to +inf (valid one-sided bounds)."""
    import mpmath

    if num <= 0:
        return mpmath.mpf("-inf")
    if num >= (1 << log2_den):
        return mpmath.mpf("+inf")
    p = _iv_dyadic(iv, num, log2_den)
    val = -iv.log(-iv.log(p))
    return val.a if lower else val.b
