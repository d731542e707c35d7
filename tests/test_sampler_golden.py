"""Golden pinned-seed outputs of the four certified vector samplers.

Each batch is drawn with ``samplers._GENERATOR`` pinned to
``np.random.default_rng(SEED)`` and hashed (sha256 of the output
bytes).  The certified samplers are deterministic functions of the
uniform words they consume, so any rewrite of a sampler kernel (a
faster double-double pipeline, a different certification margin, a
reordered fallback) must reproduce these digests bit for bit.  A
changed digest means the output law or the word consumption changed,
not just the speed.

The extreme-scale Laplace batch (``b < _EXTREME_SCALE``) routes every
draw through the per-value interval resolver, so the fallback loop is
pinned too.
"""

import hashlib
import os
from fractions import Fraction

import numpy as np
import pytest

from tumult_core_spark import exact_sampling, samplers

SEED = 20240611
N = 257  # odd: the Box-Muller batch has an unpaired last element

BATCHES = {
    "laplace": lambda: exact_sampling.laplace_exact_vec(
        np.linspace(-50.0, 50.0, N), 2.5
    ),
    "gaussian": lambda: exact_sampling.gaussian_exact_vec(
        np.linspace(-50.0, 50.0, N), 3.0
    ),
    "geometric": lambda: samplers.two_sided_geometric_exact_vec(Fraction(7, 3), N),
    "discrete_gaussian": lambda: samplers.discrete_gaussian_exact_vec(
        Fraction(5), N
    ),
    "laplace_extreme_scale": lambda: exact_sampling.laplace_exact_vec(
        np.array([0.0, 1.5, -2.0, 1e-300, 0.0, 3.25, -1e-295, 7.0]), 1e-290
    ),
}

GOLDEN = {
    "laplace": "b72edc37b90df9b8fe88f31da594d65ec22c101c2dc390d659929d7916c59af1",
    "gaussian": "667a0d721024a52e4b756f8609f6bcb30065c61f206bfcaf46e3b69ad3a47aea",
    "geometric": "a3173cf50077549941e147dace41e6d647c683a1d9114e830ae16071efb0aa76",
    "discrete_gaussian": "5beeae0675a6988e79b98420ffbc60c4eae2d0d81fdf0bf4b3adb53ab389960d",
    "laplace_extreme_scale": "23b7ddff00268d977ff383f9c162adaa6793f3b9b0995d664c370f4518929994",
}


@pytest.fixture()
def pinned_rng(monkeypatch):
    monkeypatch.delenv(samplers.CSPRNG_ENV, raising=False)
    samplers._GENERATOR = np.random.default_rng(SEED)
    samplers._GENERATOR_PID = os.getpid()
    yield
    samplers._GENERATOR = None  # reseed from urandom on next use


@pytest.mark.parametrize("name", sorted(BATCHES))
def test_vector_sampler_golden_digest(name, pinned_rng):
    assert exact_sampling._EXTREME_SCALE > 1e-290
    out = np.ascontiguousarray(BATCHES[name]())
    digest = hashlib.sha256(out.tobytes()).hexdigest()
    assert digest == GOLDEN[name], (name, digest)
