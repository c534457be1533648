"""Frozen configuration for the MinHash dedup engine.

Mirrors the reference's ``minhash_configuration`` struct
(/root/reference/include/configuration.h:13-23): ``sketch_size`` is both the
sketch length and the number of independent hash functions, ``prime_modulus``
is the universal-hash modulus (2^31-1 in every reference test config,
/root/reference/test/test_serial.c:9-10), ``hash_type`` selects the family
(1 = k-wise polynomial, anything else = pairwise —
/root/reference/src/configuration/configuration.c:99-139).

Unlike the reference (glibc ``random()`` with the default seed), coefficients
come from an explicitly seeded ``numpy.random.Generator`` so the pipeline and
the pure-numpy oracle consume the *same* table — the north-rule requirement of
"identical shingle/permutation/band-row config".
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict

import numpy as np

# Empty-cell marker: INFTY = UINT64_MAX (/root/reference/include/minhash.h:23).
INFTY = np.uint64(0xFFFFFFFFFFFFFFFF)

# Spark-side empty-cell sentinels. A signature is stored packed, as
# sketch_size little-endian int32 values (operators/signatures.py): every real
# hash value is STRICTLY below prime_modulus = 2^31-1, so int32 holds it
# exactly and the int32 maximum (= 2^31-1, never a real value) marks empty
# cells — elementwise min merges keep the reference's min semantics (the
# sentinel loses to any real value), and the signature store, shuffle rows
# and Arrow transfers are HALF the width of int64 cells. SIG_INFTY_LONG is the
# int64-domain sentinel of the exploded query outputs and the DuckDB oracles.
SIG_INFTY_INT = (1 << 31) - 1
SIG_INFTY_LONG = (1 << 63) - 1

HASH_PAIRWISE = 0  # default branch in configuration.c:123
HASH_KWISE = 1  # case 1 in configuration.c:100


@dataclass(frozen=True)
class MinHashConfig:
    """Sketch-level config — the exact knobs of the reference struct."""

    sketch_size: int = 128
    prime_modulus: int = (1 << 31) - 1
    hash_type: int = HASH_PAIRWISE
    k: int = 2  # polynomial degree for the k-wise family
    seed: int = 42

    def coefficients(self) -> tuple[np.ndarray, ...]:
        """Draw the hash-function table, clone of ``hash_functions_init``
        (/root/reference/src/configuration/configuration.c:97-140) with a
        seeded generator instead of glibc ``random()``.

        Pairwise: (a, b) each shape (sketch_size,), uint64, values in
        [0, 2^31) like ``random()``. K-wise: one (sketch_size, k+1) uint64
        matrix — k+1 coefficients per position (configuration.c:111-119).
        """
        rng = np.random.default_rng(self.seed)
        if self.hash_type == HASH_KWISE:
            coeffs = rng.integers(
                0, 1 << 31, size=(self.sketch_size, self.k + 1), dtype=np.uint64
            )
            return (coeffs,)
        a = rng.integers(0, 1 << 31, size=self.sketch_size, dtype=np.uint64)
        b = rng.integers(0, 1 << 31, size=self.sketch_size, dtype=np.uint64)
        return (a, b)


@dataclass(frozen=True)
class DedupConfig:
    """Pipeline-level config: shingling + LSH banding + verification."""

    minhash: MinHashConfig = field(default_factory=MinHashConfig)
    shingle_size: int = 5
    shingle_mode: str = "char"  # "char" (bytes of normalized text) | "word"
    bands: int = 32
    rows: int = 4
    jaccard_threshold: float = 0.8
    # Skew tiers for band buckets (a hot key can't be split by AQE — skew
    # split is per-key — so one 12k-doc bucket would put 80M pairs in a
    # single task):
    #   m ≤ max_bucket_size            → plain all-pairs join
    #   m ≤ salted_bucket_max          → salted all-pairs (exact pair set,
    #                                    spread over salt_factor join groups)
    #   m > salted_bucket_max          → star enumeration (anchor = bucket
    #                                    min, O(m); cluster assignment
    #                                    preserved via CC transitive closure)
    max_bucket_size: int = 500
    salted_bucket_max: int = 5000
    salt_factor: int = 16
    # Candidate pre-filter: require a pair to collide in ≥ this many bands
    # before Jaccard verification. With bands=32, rows=4 the miss probability
    # at J = 0.8 is P(<2 of 32 @ p=J^4) ≈ 1.2e-5 — far inside the 0.99 recall
    # budget — while cutting weakly-similar candidates ~8× (they dominate the
    # verify shuffle on vocabulary-correlated corpora).
    min_band_matches: int = 2

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.minhash.sketch_size:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows}) must equal "
                f"sketch_size ({self.minhash.sketch_size})"
            )
        if self.shingle_mode not in ("char", "word"):
            raise ValueError(f"unknown shingle_mode {self.shingle_mode!r}")

    def to_dict(self) -> dict:
        return asdict(self)
