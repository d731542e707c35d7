"""Additive noise mechanisms.

``AddLaplaceNoise`` / ``AddGeometricNoise`` / ``AddGaussianNoise`` /
``AddDiscreteGaussianNoise`` each have ONE sampling path,
``add_noise_to_array``, which draws from the certified vector sampler
of its distribution.  ``mech(value)`` is that path on a one-element
array; ``AddNoiseToSeries`` lifts it over a ``pd.Series`` — the body
of the Arrow-batched pandas UDF used by
:class:`~.spark.AddNoiseToColumn` and of the driver-side draw of
:func:`~..utils.misc.freeze_noised_release`.

Privacy functions (reference ``measurements/noise_mechanisms.py:38-560``):

* Laplace(b):  ``epsilon = d_in / b`` (PureDP)
* Geometric(alpha): ``epsilon = d_in / alpha`` (PureDP; integer support)
* Gaussian(sigma^2) / DiscreteGaussian(sigma^2): ``rho = d_in^2 /
  (2 sigma^2)`` (RhoZCDP)

``scale == 0`` short-circuits to the identity — the deterministic mode
correctness oracles rely on.  All four samplers are exact: the integer
mechanisms use certified-inversion / certified-rejection samplers
(``samplers.py``), the continuous mechanisms certified double-double
samplers (``exact_sampling.py`` / ``dd.py``) — the returned double is
always the rounding of the true real-valued sample, so no float
artifact reaches a release.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Any

import numpy as np
import pandas as pd

from .. import samplers
from ..base import Measurement
from ..domains import (
    NumpyFloatDomain,
    NumpyIntegerDomain,
    PandasSeriesDomain,
)
from ..exact_number import ExactNumber, ExactNumberInput
from ..measures import PureDP, RhoZCDP
from ..metrics import AbsoluteDifference


class _NoiseMechanism(Measurement):
    """Shared noise-mechanism plumbing."""

    #: Spark SQL type of a noised release column: ``"double"`` for the
    #: continuous mechanisms, ``"long"`` for the integer ones.
    release_type: str

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        """Noise over a float/int array: the mechanism's only sampler."""
        raise NotImplementedError

    def __call__(self, value):
        """One noisy value, drawn through :meth:`add_noise_to_array`
        (``np.float64`` for continuous, ``np.int64`` for integer
        noise)."""
        return self.add_noise_to_array(np.asarray([value]))[0]


class AddLaplaceNoise(_NoiseMechanism):
    """value + Laplace(scale); epsilon = d_in / scale."""

    release_type = "double"

    def __init__(self, input_domain, scale: ExactNumberInput):
        self.scale = ExactNumber(scale)
        if self.scale < 0:
            raise ValueError("scale must be >= 0")
        if not isinstance(input_domain, (NumpyIntegerDomain, NumpyFloatDomain)):
            raise ValueError(f"Unsupported domain {input_domain!r}")
        super().__init__(input_domain, AbsoluteDifference(), PureDP())
        # round the sampling scale UP (reference noise_mechanisms.py:140):
        # the privacy claim is computed from the exact scale, so the
        # implemented sampler must never use LESS noise than claimed
        self._scale_float = self.scale.to_float(round_up=True)

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if self.scale == 0:
            return ExactNumber(float("inf")) if d > 0 else ExactNumber(0)
        if not self.scale.is_finite:
            return ExactNumber(0)  # data-independent output; see AddGeometricNoise
        return d / self.scale

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.scale == 0:
            return values.astype(np.float64)
        # certified vectorized sampler (value inside the enclosure, so
        # the final float addition is certified too, not rounded on top)
        from .. import exact_sampling

        return exact_sampling.laplace_exact_vec(
            values.astype(np.float64), self._scale_float
        )


class AddGeometricNoise(_NoiseMechanism):
    """value + two-sided geometric(alpha); integer in, integer out."""

    release_type = "long"

    def __init__(self, alpha: ExactNumberInput):
        self.alpha = ExactNumber(alpha)
        if self.alpha < 0:
            raise ValueError("alpha must be >= 0")
        super().__init__(NumpyIntegerDomain(), AbsoluteDifference(), PureDP())
        # round UP: never less noise than the exact-alpha claim
        # (reference noise_mechanisms.py:280)
        self._alpha_float = self.alpha.to_float(round_up=True)
        # Non-finite alpha (eps=0 budgets via calculate_noise_scale)
        # must stay constructible for composition/accounting; there is
        # no two-sided-geometric with infinite scale to sample from, so
        # sampling raises instead (matching the scale==0 special-case
        # pattern rather than crashing in Fraction()).
        self._alpha_frac = (
            None
            if not self.alpha.is_finite
            else Fraction(self.alpha.expr.p, self.alpha.expr.q)
            if self.alpha.is_rational
            else Fraction(self._alpha_float)
        )

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if self.alpha == 0:
            return ExactNumber(float("inf")) if d > 0 else ExactNumber(0)
        if not self.alpha.is_finite:
            # infinite scale: output is data-independent (sampling
            # raises; the continuous analogues emit +-inf), so the
            # privacy loss is 0 for every d_in -- avoids oo/oo = nan
            return ExactNumber(0)
        return d / self.alpha

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.alpha == 0:
            return values.astype(np.int64)
        if self._alpha_frac is None:
            raise ValueError(
                "Cannot sample two-sided geometric noise with infinite alpha "
                "(an epsilon=0 budget admits no data-dependent integer output)"
            )
        # exact certified-inversion sampler
        return values.astype(np.int64) + samplers.two_sided_geometric_exact_vec(
            self._alpha_frac, len(values)
        )


class AddGaussianNoise(_NoiseMechanism):
    """value + N(0, sigma^2); rho = d_in^2 / (2 sigma^2) (zCDP)."""

    release_type = "double"

    def __init__(self, input_domain, sigma_squared: ExactNumberInput):
        self.sigma_squared = ExactNumber(sigma_squared)
        if self.sigma_squared < 0:
            raise ValueError("sigma_squared must be >= 0")
        if not isinstance(input_domain, (NumpyIntegerDomain, NumpyFloatDomain)):
            raise ValueError(f"Unsupported domain {input_domain!r}")
        super().__init__(input_domain, AbsoluteDifference(), RhoZCDP())
        # round UP: never less noise than the exact-sigma^2 claim
        # (reference noise_mechanisms.py:427,571)
        self._ss_float = self.sigma_squared.to_float(round_up=True)

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if self.sigma_squared == 0:
            return ExactNumber(float("inf")) if d > 0 else ExactNumber(0)
        if not self.sigma_squared.is_finite:
            return ExactNumber(0)  # data-independent output; see AddGeometricNoise
        return d**2 / (self.sigma_squared * 2)

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.sigma_squared == 0:
            return values.astype(np.float64)
        # certified vectorized sampler (see AddLaplaceNoise)
        from .. import exact_sampling

        return exact_sampling.gaussian_exact_vec(
            values.astype(np.float64), self._ss_float
        )


class AddDiscreteGaussianNoise(_NoiseMechanism):
    """value + discrete Gaussian(sigma^2); integer support (zCDP)."""

    release_type = "long"

    def __init__(self, sigma_squared: ExactNumberInput):
        self.sigma_squared = ExactNumber(sigma_squared)
        if self.sigma_squared < 0:
            raise ValueError("sigma_squared must be >= 0")
        super().__init__(NumpyIntegerDomain(), AbsoluteDifference(), RhoZCDP())
        # round UP: never less noise than the exact-sigma^2 claim
        # (reference noise_mechanisms.py:427,571)
        self._ss_float = self.sigma_squared.to_float(round_up=True)
        # see AddGeometricNoise: infinite scale (rho=0 budgets) stays
        # constructible; sampling raises a clear error instead
        self._ss_frac = (
            None
            if not self.sigma_squared.is_finite
            else Fraction(self.sigma_squared.expr.p, self.sigma_squared.expr.q)
            if self.sigma_squared.is_rational
            else Fraction(self._ss_float)
        )

    def privacy_function(self, d_in: Any) -> ExactNumber:
        d = ExactNumber(d_in)
        if d < 0:
            raise ValueError("d_in must be >= 0")
        if self.sigma_squared == 0:
            return ExactNumber(float("inf")) if d > 0 else ExactNumber(0)
        if not self.sigma_squared.is_finite:
            return ExactNumber(0)  # data-independent output; see AddGeometricNoise
        return d**2 / (self.sigma_squared * 2)

    def add_noise_to_array(self, values: np.ndarray) -> np.ndarray:
        if self.sigma_squared == 0:
            return values.astype(np.int64)
        if self._ss_frac is None:
            raise ValueError(
                "Cannot sample discrete Gaussian noise with infinite sigma^2 "
                "(a rho=0 budget admits no data-dependent integer output)"
            )
        # exact certified-rejection sampler
        return values.astype(np.int64) + samplers.discrete_gaussian_exact_vec(
            self._ss_frac, len(values)
        )


class AddNoiseToSeries(Measurement):
    """Vectorize a noise mechanism over a pandas Series."""

    def __init__(self, noise_mechanism: _NoiseMechanism):
        self.noise_mechanism = noise_mechanism
        elem = noise_mechanism.input_domain
        super().__init__(
            PandasSeriesDomain(elem),
            AbsoluteDifference(),
            noise_mechanism.output_measure,
        )

    @property
    def adds_no_noise(self) -> bool:
        m = self.noise_mechanism
        for attr in ("scale", "alpha", "sigma_squared"):
            if hasattr(m, attr):
                return getattr(m, attr) == 0
        return False

    def privacy_function(self, d_in: Any) -> Any:
        return self.noise_mechanism.privacy_function(d_in)

    def __call__(self, values: pd.Series) -> pd.Series:
        out = self.noise_mechanism.add_noise_to_array(values.to_numpy())
        return pd.Series(out)
