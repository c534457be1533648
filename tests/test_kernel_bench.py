"""pytest-benchmark microbenchmarks of the signature kernels: min_sketch_batch
at three levels of shingle repetition, and hash_matrix on one chunk.

Each min_sketch_batch input is 57–66k char 5-gram occurrences (about one
window) of the default config (sketch size 128, M = 2^31 - 1):

- small_vocab: pages of words from a 500-word vocabulary, the repetition
  of boilerplate and common words (the table branch, ~1/35 distinct);
- clone_like: base documents from a 5,000-word vocabulary, each cloned
  five times with a few words changed (the table branch, ~1/9 distinct);
- random_chars: random characters, no repeated 5-gram (the direct branch).

Run alone with `python -m pytest tests/test_kernel_bench.py
--benchmark-columns=min,median,max`. Rounds are fixed (pedantic), so the
file adds about a second to the full suite.
"""

import numpy as np
import pytest

from minhash_spark.config import MinHashConfig
from minhash_spark.functions.kernels import hash_matrix, min_sketch_batch
from minhash_spark.functions.shingles import char_shingle_sets_batch

CFG = MinHashConfig()


def _inputs() -> dict[str, list[str]]:
    rng = np.random.default_rng(0)
    vocab = np.array([f"w{i:04d}" for i in range(5000)])
    small = [" ".join(rng.choice(vocab[:500], 330)) for _ in range(64)]
    clones = []
    for _ in range(7):
        base = rng.choice(vocab, 330)
        for _ in range(5):
            page = base.copy()
            page[rng.integers(0, 330, 3)] = rng.choice(vocab, 3)
            clones.append(" ".join(page))
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789 "))
    chars = ["".join(rng.choice(alphabet, 2000)) for _ in range(33)]
    return {"small_vocab": small, "clone_like": clones, "random_chars": chars}


@pytest.fixture(scope="module")
def shingle_sets():
    return {k: char_shingle_sets_batch(v, 5) for k, v in _inputs().items()}


@pytest.mark.parametrize("corpus", ["small_vocab", "clone_like", "random_chars"])
def test_min_sketch_batch_bench(benchmark, shingle_sets, corpus):
    sets = shingle_sets[corpus]
    out = benchmark.pedantic(min_sketch_batch, (sets, CFG), rounds=5, warmup_rounds=1)
    X = np.concatenate(sets)
    benchmark.extra_info.update(occurrences=len(X), distinct=len(np.unique(X)))
    assert out.shape == (len(sets), CFG.sketch_size)


def test_hash_matrix_bench(benchmark):
    x = np.random.default_rng(1).integers(0, 2**64, 1 << 10, dtype=np.uint64)
    coeffs = CFG.coefficients()
    H = benchmark.pedantic(
        hash_matrix, (x, coeffs, CFG.hash_type, CFG.prime_modulus), rounds=20, warmup_rounds=2
    )
    assert H.shape == (1 << 10, CFG.sketch_size)
