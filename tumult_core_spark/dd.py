"""Vectorized double-double (~106-bit) arithmetic for certified
continuous sampling.

A double-double (dd) number is an unevaluated sum ``hi + lo`` of two
IEEE doubles with ``|lo| <= ulp(hi)/2``, giving ~32 significant
digits.  All operations below are branch-free NumPy array expressions
(error-free transformations: Knuth two-sum, Dekker split two-prod), so
they vectorize over millions of elements — this is what lets the
continuous noise samplers keep interval arithmetic's correct-rounding
guarantee (exact_sampling.py) without a per-value Python loop.

Error model used by callers: each dd primitive has relative error
<= 2^-102; the transcendental kernels (exp/log/sqrt/cos) below are
implemented to <= 2^-95 relative, and callers budget a conservative
2^-88 in their certification margins.  The margin only has to be an
UPPER bound on the true error — overestimating it merely sends a few
more draws to the rigorous per-value fallback.

All public techniques: this is the standard QD/Dekker construction
(Dekker 1971; Hida, Li & Bailey 2001) plus textbook argument-reduced
Taylor kernels.
"""

from __future__ import annotations

import math
from fractions import Fraction
from typing import Tuple

import numpy as np

Array = np.ndarray
DD = Tuple[Array, Array]

_SPLITTER = 134217729.0  # 2^27 + 1 (Dekker split constant)


# ---------------------------------------------------------------------------
# Error-free transformations
# ---------------------------------------------------------------------------


def two_sum(a, b) -> DD:
    """a + b = s + err exactly (Knuth)."""
    s = a + b
    bb = s - a
    err = (a - (s - bb)) + (b - bb)
    return s, err


def quick_two_sum(a, b) -> DD:
    """a + b = s + err exactly, REQUIRES |a| >= |b| (or a == 0)."""
    s = a + b
    err = b - (s - a)
    return s, err


def two_prod(a, b) -> DD:
    """a * b = p + err exactly (Dekker split; no FMA in NumPy)."""
    p = a * b
    ah = _SPLITTER * a
    ah = ah - (ah - a)
    al = a - ah
    bh = _SPLITTER * b
    bh = bh - (bh - b)
    bl = b - bh
    err = ((ah * bh - p) + ah * bl + al * bh) + al * bl
    return p, err


# ---------------------------------------------------------------------------
# dd ring operations
# ---------------------------------------------------------------------------


def dd(a) -> DD:
    """Lift a double (array or scalar) to dd."""
    a = np.asarray(a, dtype=np.float64)
    return a, np.zeros_like(a)


def add(x: DD, y: DD) -> DD:
    s, e = two_sum(x[0], y[0])
    t, f = two_sum(x[1], y[1])
    e = e + t
    s, e = quick_two_sum(s, e)
    e = e + f
    return quick_two_sum(s, e)


def add_d(x: DD, a) -> DD:
    s, e = two_sum(x[0], a)
    e = e + x[1]
    return quick_two_sum(s, e)


def neg(x: DD) -> DD:
    return -x[0], -x[1]


def sub(x: DD, y: DD) -> DD:
    return add(x, neg(y))


def mul(x: DD, y: DD) -> DD:
    p, e = two_prod(x[0], y[0])
    e = e + (x[0] * y[1] + x[1] * y[0])
    return quick_two_sum(p, e)


def mul_d(x: DD, a) -> DD:
    p, e = two_prod(x[0], a)
    e = e + x[1] * a
    return quick_two_sum(p, e)


def sqr(x: DD) -> DD:
    p, e = two_prod(x[0], x[0])
    e = e + 2.0 * (x[0] * x[1])
    return quick_two_sum(p, e)


def ldexp(x: DD, k) -> DD:
    """x * 2^k, exact."""
    return np.ldexp(x[0], k), np.ldexp(x[1], k)


# ---------------------------------------------------------------------------
# dd constants
# ---------------------------------------------------------------------------


def _const(fr: Fraction) -> Tuple[float, float]:
    hi = float(fr)
    lo = float(fr - Fraction(hi))
    return hi, lo


def _const_str(decimal: str) -> Tuple[float, float]:
    # high-precision decimal literal -> dd pair, via Fraction
    from decimal import Decimal

    return _const(Fraction(Decimal(decimal)))


# 40+ digit literals (public mathematical constants)
LN2 = _const_str("0.69314718055994530941723212145817656807550013436026")
PI = _const_str("3.14159265358979323846264338327950288419716939937511")
PI_2 = _const_str("1.57079632679489661923132169163975144209858469968755")
TWO_PI = _const_str("6.28318530717958647692528676655900576839433879875021")

_INV_FACT = [_const(Fraction(1, math.factorial(i))) for i in range(32)]
_EXP_TERMS = 13  # |r|<=0.0217: term 13 ~ 4e-32, x16 squaring amp -> ~6e-31


# ---------------------------------------------------------------------------
# Transcendental kernels
# ---------------------------------------------------------------------------


def exp_d(z: Array) -> DD:
    """exp(z) for a DOUBLE argument array, z in [-670, 700], to ~2^-99.

    Reduction ``z = k ln2 + r`` (|r| <= ln2/2), then ``r/16`` Taylor,
    squared back 4 times, scaled by 2^k.  Below z ~ -680 the result's
    lo leg goes subnormal and relative accuracy degrades to ~1e-21;
    the only in-package caller is :func:`log`, whose argument range
    (dd values >= 2^-106) keeps z in [0, 74].
    """
    z = np.asarray(z, dtype=np.float64)
    k = np.rint(z / LN2[0])
    # r = z - k*ln2 in dd (k*ln2 via two_prod on both legs)
    t_hi, t_lo = two_prod(k, LN2[0])
    r = two_sum(z, -t_hi)
    r = add_d(r, -t_lo)
    r = add_d(r, -(k * LN2[1]))
    r = ldexp(r, -4)  # r/16
    # Taylor sum_{i=0..14} r^i/i!  (|r| <= 0.0217 -> term 14 ~ 1e-34)
    acc: DD = (
        np.full_like(z, _INV_FACT[_EXP_TERMS][0]),
        np.full_like(z, _INV_FACT[_EXP_TERMS][1]),
    )
    for i in range(_EXP_TERMS - 1, -1, -1):
        acc = mul(acc, r)
        acc = add(acc, (np.float64(_INV_FACT[i][0]), np.float64(_INV_FACT[i][1])))
    for _ in range(4):  # square back: exp(r) = exp(r/16)^16
        acc = sqr(acc)
    return ldexp(acc, k.astype(np.int64))


def log(a: DD) -> DD:
    """log(a) for dd a > 0, to ~2^-100 absolute (~2^-100 relative away
    from 1).  One step of ``log a = y0 + log(a e^{-y0})`` with the
    residual series ``log(1+d) ~ d - d^2/2`` (d ~ 1e-16)."""
    y0 = np.log(a[0])
    e = exp_d(-y0)
    r = mul(a, e)
    d = add_d(r, -1.0)
    corr = sub(d, mul_d(sqr(d), 0.5))
    return add(two_sum(y0, 0.0), corr)


def sqrt(a: DD) -> DD:
    """sqrt(a) for dd a >= 0, to ~2^-104 relative (one dd Newton).

    Accuracy holds for NORMAL-range inputs (|a| in [1e-290, 1e290]):
    near the subnormal boundary the error-free transformations'
    correction legs underflow and accuracy degrades to plain double.
    Callers with smaller scales must route through the interval-
    arithmetic resolvers instead (see exact_sampling._EXTREME_SCALE).
    """
    s0 = np.sqrt(a[0])
    s0sq = two_prod(s0, s0)
    diff = sub(a, s0sq)
    with np.errstate(divide="ignore", invalid="ignore"):
        corr = diff[0] / (2.0 * s0)
        corr = np.where(s0 > 0.0, corr, 0.0)
    return two_sum(s0, corr)


def _poly_even(u: DD, coeffs) -> DD:
    """Horner over even-power coefficients: sum coeffs[j] * u^j."""
    acc: DD = (
        np.full_like(u[0], coeffs[-1][0]),
        np.full_like(u[0], coeffs[-1][1]),
    )
    for j in range(len(coeffs) - 2, -1, -1):
        acc = mul(acc, u)
        acc = add(acc, (np.float64(coeffs[j][0]), np.float64(coeffs[j][1])))
    return acc


# 13 terms: tail (pi/4)^26/26! ~ 5e-30, inside the 2^-88 caller budget
_COS_COEFFS = [
    _const(Fraction((-1) ** k, math.factorial(2 * k))) for k in range(13)
]
_SIN_COEFFS = [
    _const(Fraction((-1) ** k, math.factorial(2 * k + 1))) for k in range(13)
]


def sincos(x: DD) -> Tuple[DD, DD]:
    """(sin(x), cos(x)) for dd x in [-4pi, 4pi], to ~2^-98 absolute.

    Quadrant reduction by pi/2 then 13-term even/odd Taylor on
    |t| <= pi/4 (+ tiny reduction slop).  Both values come from the
    same two polynomial evaluations, so asking for the pair costs the
    same as asking for one — which is what lets Box-Muller emit two
    normals per uniform pair.
    """
    q = np.rint(x[0] / PI_2[0])
    t_hi, t_lo = two_prod(q, PI_2[0])
    t = sub(x, (t_hi, t_lo))
    u_hi, u_lo = two_prod(q, PI_2[1])
    t = sub(t, (u_hi, u_lo))
    usq = sqr(t)
    c = _poly_even(usq, _COS_COEFFS)
    s = mul(_poly_even(usq, _SIN_COEFFS), t)
    quad = q.astype(np.int64) % 4
    cos_hi = np.choose(quad, [c[0], -s[0], -c[0], s[0]])
    cos_lo = np.choose(quad, [c[1], -s[1], -c[1], s[1]])
    sin_hi = np.choose(quad, [s[0], c[0], -s[0], -c[0]])
    sin_lo = np.choose(quad, [s[1], c[1], -s[1], -c[1]])
    return (sin_hi, sin_lo), (cos_hi, cos_lo)


def cos(x: DD) -> DD:
    """cos(x) for dd x in [-4pi, 4pi], to ~2^-98 absolute."""
    return sincos(x)[1]
