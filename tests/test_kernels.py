"""Differential tests: vectorized kernels vs the serial oracle — the same
cell-for-cell equality the reference demands of its parallel variants
(/root/reference/test/test_parallel_lock.c:47-57)."""

import numpy as np
import pytest

from minhash_spark.config import MinHashConfig, INFTY, SIG_INFTY_LONG, HASH_KWISE
from minhash_spark import oracle
from minhash_spark.functions.kernels import (
    hash_matrix,
    min_sketch_batch,
    sketch_to_long,
    long_to_sketch,
)
from minhash_spark.functions.shingles import char_shingles, word_shingles, normalize_text


CONFIGS = [
    MinHashConfig(sketch_size=100, hash_type=0, seed=7),
    MinHashConfig(sketch_size=128, hash_type=HASH_KWISE, k=3, seed=42),
]


@pytest.mark.parametrize("cfg", CONFIGS)
def test_hash_matrix_matches_scalar_oracle(cfg):
    rng = np.random.default_rng(5)
    xs = rng.integers(0, 1 << 64, size=50, dtype=np.uint64)
    H = hash_matrix(xs, cfg.coefficients(), cfg.hash_type, cfg.prime_modulus)
    coeffs = cfg.coefficients()
    for r, x in enumerate(xs):
        for i in range(cfg.sketch_size):
            if cfg.hash_type == HASH_KWISE:
                want = oracle.kwise_func(coeffs[0][i], cfg.prime_modulus, x)
            else:
                want = oracle.pairwise_func(
                    coeffs[0][i], coeffs[1][i], cfg.prime_modulus, x
                )
            assert H[r, i] == want


@pytest.mark.parametrize("cfg", CONFIGS)
def test_min_sketch_batch_matches_oracle(cfg):
    rng = np.random.default_rng(9)
    sets = [
        rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
        for n in [0, 1, 17, 300, 0, 1000]
    ]
    got = min_sketch_batch(sets, cfg)
    for i, s in enumerate(sets):
        assert np.array_equal(got[i], oracle.sketch_of_set(s, cfg)), f"doc {i}"


def test_min_sketch_batch_chunking_invariance():
    """Folding a document across chunks must not change the sketch (min is
    associative — same algebra as merge, src/utils/utils.c:36-46)."""
    cfg = MinHashConfig(sketch_size=64, seed=1)
    rng = np.random.default_rng(2)
    sets = [rng.integers(0, 1 << 64, size=n, dtype=np.uint64) for n in [500, 700, 3]]
    big = min_sketch_batch(sets, cfg, chunk_elems=1 << 20)
    tiny = min_sketch_batch(sets, cfg, chunk_elems=37)  # forces many splits
    assert np.array_equal(big, tiny)
    # regression: chunk boundary landing EXACTLY on a doc start (docs of 100
    # with chunk 100 → next chunk begins at a doc offset) must not crash or
    # misattribute minima
    sets2 = [np.arange(i * 100, i * 100 + 100, dtype=np.uint64) for i in range(5)]
    aligned = min_sketch_batch(sets2, cfg, chunk_elems=100)
    assert np.array_equal(aligned, min_sketch_batch(sets2, cfg, chunk_elems=1 << 20))


@pytest.mark.parametrize("hash_type", [0, HASH_KWISE])
def test_signature_matrix_on_repetitive_text_equals_serial_oracle(monkeypatch, hash_type):
    """Texts from a 12-word vocabulary plus a boilerplate cluster (one
    template, one word changed per page) repeat their 5-grams across the
    batch, so the char path's min_sketch_batch takes the distinct-id table
    for its one window; every signature must equal the serial oracle's,
    cell for cell."""
    from minhash_spark.config import DedupConfig
    from minhash_spark.functions import kernels
    from minhash_spark.functions.kernels import sketch_to_int
    from minhash_spark.operators.signatures import signature_matrix

    monkeypatch.setattr(kernels, "_min_direct", None)  # the table branch only
    rng = np.random.default_rng(11)
    vocab = np.array("the a of and to in data page home news about contact".split())
    template = list(rng.choice(vocab, 150))
    texts = [" ".join(rng.choice(vocab, rng.integers(0, 60))) for _ in range(30)]
    for i in range(8):
        page = template.copy()
        page[rng.integers(0, 150)] = f"item{i}"
        texts.append(" ".join(page))
    texts[4], texts[17] = None, ""
    cfg = DedupConfig(minhash=MinHashConfig(sketch_size=32, hash_type=hash_type, seed=3), bands=8, rows=4)
    got = signature_matrix(texts, cfg)
    for i, t in enumerate(texts):
        want = oracle.sketch_of_set(char_shingles(t, cfg.shingle_size), cfg.minhash)
        assert np.array_equal(got[i], sketch_to_int(want[None, :])[0]), f"text {i}"


@pytest.mark.parametrize("cpus,slice_bytes", [(1, 1 << 16), (3, 64), (8, 1)])
def test_sign_texts_equals_one_batch(monkeypatch, cpus, slice_bytes):
    """The driver's signer cuts a batch into byte-balanced slices, one per
    thread (up to the machine's cores, here also more threads than cores);
    its signatures must equal one `signature_matrix` call over the batch,
    with null, empty and non-ASCII texts and a two-chunk Arrow column."""
    import pyarrow as pa

    from minhash_spark.config import DedupConfig
    from minhash_spark.operators import signatures

    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    monkeypatch.setattr(signatures, "_SLICE_BYTES", slice_bytes)
    rng = np.random.default_rng(5)
    texts = [" ".join(f"w{j}" for j in rng.integers(0, 50, rng.integers(0, 80))) for _ in range(40)]
    texts[3], texts[7], texts[8], texts[20] = None, "", "", "ü" * 500 + " é"
    cfg = DedupConfig(minhash=MinHashConfig(sketch_size=32, seed=3), bands=8, rows=4)
    column = pa.chunked_array([pa.array(texts[:25]), pa.array(texts[25:])])
    S, threads = signatures.sign_texts(column, cfg)
    total = sum(len(t.encode()) for t in texts if t)
    assert threads == max(1, min(cpus, total // slice_bytes))
    assert np.array_equal(S, signatures.signature_matrix(texts, cfg))


def test_sketch_long_roundtrip():
    cfg = MinHashConfig(sketch_size=32, seed=4)
    s = oracle.sketch_of_set(np.arange(10, dtype=np.uint64), cfg)
    s[0] = INFTY  # force a sentinel cell
    longs = sketch_to_long(s[None, :])
    assert longs.dtype == np.int64
    assert longs[0, 0] == SIG_INFTY_LONG
    assert np.array_equal(long_to_sketch(longs[0]), s)


def test_char_shingles_deterministic_and_distinct():
    a = char_shingles("Hello   World hello", k=5)
    b = char_shingles("hello world HELLO", k=5)  # same normalized text
    assert np.array_equal(a, b)
    assert a.dtype == np.uint64
    assert len(np.unique(a)) == len(a)
    assert len(char_shingles("", 5)) == 0
    assert len(char_shingles("ab", 5)) == 1  # shorter than k → whole-text shingle


def test_word_shingles():
    a = word_shingles("the quick brown fox", w=3)
    assert len(a) == 2  # "the quick brown", "quick brown fox"
    assert len(word_shingles("one two", w=3)) == 1
    assert len(word_shingles("", w=3)) == 0


def test_normalize_text():
    assert normalize_text("  A\tB\n\nC  ") == "a b c"
    assert normalize_text(None) == ""
