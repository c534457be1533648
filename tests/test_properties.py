"""Property-based differential tests (hypothesis): for arbitrary uint64
element sets and configs, the vectorized kernels must equal the serial
oracle cell-for-cell, merges must commute with unions, and chunking must be
invisible — the reference's validation invariants generalized beyond fixed
fixtures (/root/reference/test/test_parallel_lock.c:47-57)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from minhash_spark.config import MinHashConfig, HASH_KWISE
from minhash_spark import oracle
from minhash_spark.functions import kernels
from minhash_spark.functions.kernels import hash_matrix, min_sketch_batch
from minhash_spark.functions.shingles import char_shingles, normalize_text

_cfg = st.builds(
    MinHashConfig,
    sketch_size=st.sampled_from([8, 32]),
    hash_type=st.sampled_from([0, HASH_KWISE]),
    k=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
_elems = st.lists(
    st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=60
)


@settings(max_examples=25, deadline=None)
@given(cfg=_cfg, elems=_elems)
def test_kernel_equals_serial_oracle(cfg, elems):
    arr = np.array(elems, dtype=np.uint64)
    got = min_sketch_batch([arr], cfg)[0]
    want = oracle.sketch_of_set(arr, cfg)
    assert np.array_equal(got, want)


@settings(max_examples=25, deadline=None)
@given(cfg=_cfg, a=_elems, b=_elems)
def test_merge_commutes_with_union(cfg, a, b):
    sa = oracle.sketch_of_set(np.array(a, dtype=np.uint64), cfg)
    sb = oracle.sketch_of_set(np.array(b, dtype=np.uint64), cfg)
    union = np.union1d(
        np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)
    )
    assert np.array_equal(oracle.merge(sa, sb), oracle.sketch_of_set(union, cfg))


@settings(max_examples=20, deadline=None)
@given(
    sets=st.lists(_elems, min_size=1, max_size=6),
    chunk=st.integers(min_value=1, max_value=64),
)
def test_chunking_is_invisible(sets, chunk):
    cfg = MinHashConfig(sketch_size=16, seed=7)
    arrs = [np.array(s, dtype=np.uint64) for s in sets]
    assert np.array_equal(
        min_sketch_batch(arrs, cfg, chunk_elems=chunk),
        min_sketch_batch(arrs, cfg, chunk_elems=1 << 20),
    )


# primes whose hash values need each table dtype: uint16, uint32 (Mersenne
# and not) and uint64 (2^61 - 1 takes hash_matrix's division, like any
# M but 2^31 - 1; a uint32 table would truncate its values)
_PRIMES = [65521, (1 << 31) - 1, 1_000_000_007, (1 << 61) - 1]


@settings(max_examples=40, deadline=None)
@given(
    data=st.data(),
    cfg=st.builds(
        MinHashConfig,
        sketch_size=st.sampled_from([8, 32]),
        prime_modulus=st.sampled_from(_PRIMES),
        hash_type=st.sampled_from([0, HASH_KWISE]),
        k=st.integers(min_value=1, max_value=3),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    ),
    pool=st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=64, unique=True),
    chunk=st.integers(min_value=1, max_value=48),
)
def test_repeated_ids_equal_serial_oracle(data, cfg, pool, chunk):
    """Documents drawn from a pool of at most 64 ids repeat them across the
    batch, so min_sketch_batch hashes a distinct-id table and gathers each
    document's rows from it; small windows make documents straddle them,
    and empty documents sit anywhere. Every row must equal the serial
    oracle of its document."""
    sets = data.draw(st.lists(st.lists(st.sampled_from(pool), max_size=40), max_size=8))
    arrs = [np.array(s, dtype=np.uint64) for s in sets]
    got = min_sketch_batch(arrs, cfg, chunk_elems=chunk)
    for i, a in enumerate(arrs):
        assert np.array_equal(got[i], oracle.sketch_of_set(a, cfg)), f"doc {i}"


@pytest.mark.parametrize("prime", _PRIMES)
def test_one_call_takes_both_branches(monkeypatch, prime):
    """A first window of repeated ids takes the table branch and a second
    of distinct ids the direct one, in one call; a document straddles the
    two windows, and every row equals the serial oracle."""
    direct, real = [], kernels._min_direct

    def spy(out, X, p, *args):
        direct.append(p)
        real(out, X, p, *args)

    monkeypatch.setattr(kernels, "_min_direct", spy)
    rng = np.random.default_rng(3)
    repeated = rng.integers(0, 2**64, 16, dtype=np.uint64)[rng.integers(0, 16, 700)]
    fresh = rng.integers(0, 2**64, 700, dtype=np.uint64)
    X = np.concatenate([repeated, fresh])
    sets = [X[:300], X[300:0], X[300:1200], X[1200:]]
    cfg = MinHashConfig(sketch_size=16, prime_modulus=prime, seed=5)
    got = min_sketch_batch(sets, cfg, chunk_elems=700)
    assert direct == [700]
    for i, s in enumerate(sets):
        assert np.array_equal(got[i], oracle.sketch_of_set(s, cfg)), f"doc {i}"


_M = (1 << 31) - 1
# uint64 values at the edges of the fold's bounds, plus arbitrary ones
_u64 = st.one_of(
    st.sampled_from([0, 1, _M - 1, _M, _M + 1, 2 * _M, 2**62, 2**63, 2**64 - 1]),
    st.integers(min_value=0, max_value=2**64 - 1),
)
_coeff = st.one_of(st.sampled_from([0, 1, _M - 1, _M]), st.integers(0, 2**31 - 1))


def _division_hash(x, coeffs, hash_type):
    """hash_matrix's arithmetic with every reduction a uint64 `% M`."""
    M = np.uint64(_M)
    with np.errstate(over="ignore"):
        if hash_type == HASH_KWISE:
            (C,) = coeffs
            total = np.zeros((len(x), C.shape[0]), dtype=np.uint64)
            pow_x = np.ones(len(x), dtype=np.uint64)
            for i in range(C.shape[1]):
                total = (total + (pow_x[:, None] * C[None, :, i]) % M) % M
                pow_x = (pow_x * x) % M
            return total
        a, b = coeffs
        return ((x[:, None] * a[None, :]) % M + b[None, :]) % M


@settings(max_examples=60, deadline=None)
@given(
    xs=st.lists(_u64, min_size=1, max_size=40),
    coeffs=st.lists(_coeff, min_size=8, max_size=8),
    hash_type=st.sampled_from([0, HASH_KWISE]),
)
def test_mersenne_fold_equals_division(xs, coeffs, hash_type):
    """For M = 2^31 - 1, hash_matrix reduces with Mersenne folds instead of
    `% M`; over the full uint64 range it must give the division's values,
    pairwise and k-wise (degree 3)."""
    x = np.array(xs, dtype=np.uint64)
    c = np.array(coeffs, dtype=np.uint64)
    table = (c.reshape(2, 4),) if hash_type == HASH_KWISE else (c[:4], c[4:])
    got = hash_matrix(x, table, hash_type, _M)
    assert np.array_equal(got, _division_hash(x, table, hash_type))
    assert got.max() < _M


@settings(max_examples=30, deadline=None)
@given(text=st.text(max_size=300))
def test_shingles_total_and_normalized(text):
    s = char_shingles(text, 5)
    assert s.dtype == np.uint64
    assert len(np.unique(s)) == len(s)
    # normalization idempotence → shingle stability
    assert np.array_equal(s, char_shingles(normalize_text(text), 5))


# ---------- WARC framing ------------------------------------------------------


@settings(max_examples=15, deadline=None)
@given(
    payloads=st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=5),
    compress=st.booleans(),
)
def test_warc_framing_roundtrip_property(payloads, compress):
    """Arbitrary binary payloads survive WARC framing byte-identically,
    plain or gzip-membered — Content-Length framing means payloads
    containing CRLFs, WARC/ strings, or gzip magic cannot confuse the
    parser."""
    import datetime as dt

    from minhash_spark.sources.warc import build_warc, parse_warc

    ts = dt.datetime(2026, 1, 2, 3, 4, 5)
    recs = [(f"https://e.com/{i}", ts, p) for i, p in enumerate(payloads)]
    parsed = parse_warc(build_warc(recs, compress=compress))
    assert [r["url"] for r in parsed] == [u for u, _, _ in recs]
    assert [r["payload"] for r in parsed] == list(payloads)
