"""The driver-side kernels of `minhash_spark.local` against plain-Python
models of the Spark operators they stand in for: the skew tiers and band
counting of `lsh.candidate_pairs` with `multi_bucket_stats` (and against
those Spark operators themselves), the row
multiplicity of `verify_pairs`, and component-minimum labels; and
`local.xxhash64` and `local.band_keys` against Spark's `xxhash64` and
`lsh.band_keys` themselves, and `signature_matrix` against the signature
UDF."""

import dataclasses
import itertools
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from hypothesis.extra.numpy import arrays
from pyspark.sql import functions as F

from minhash_spark import local
from minhash_spark.config import SIG_INFTY_INT, DedupConfig, MinHashConfig
from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_int
from minhash_spark.functions.shingles import shingle_fn
from minhash_spark.operators import lsh
from minhash_spark.operators.signatures import signature_matrix, with_minhash_signature

CFG = DedupConfig(
    minhash=MinHashConfig(sketch_size=8),
    bands=4,
    rows=2,
    max_bucket_size=3,
    salted_bucket_max=6,
)


def _model(keys, codes, cfg):
    """candidate_pairs over rows (code, keys[row]): all pairs per bucket of
    up to salted_bucket_max rows, star pairs from the minimum url above it,
    counted per occurrence; plus multi_bucket_stats."""
    buckets = defaultdict(list)
    for row, ks in enumerate(keys):
        for k in ks:
            buckets[k].append(codes[row])
    n_bands = Counter()
    stats = Counter()
    for members in buckets.values():
        m = len(members)
        if m < 2:
            continue
        valid = [c for c in members if c >= 0]
        anchor = min(valid) if valid else None
        n_anchor = members.count(anchor) if valid else 0
        stats["n_multi_buckets"] += n_anchor
        stats["max_bucket"] = max(stats["max_bucket"], m)
        if m > cfg.max_bucket_size:
            stats["n_capped_buckets"] += n_anchor
            stats["docs_in_capped_buckets"] += n_anchor * m
        if m <= cfg.salted_bucket_max:
            for x, y in itertools.combinations(members, 2):
                if min(x, y) >= 0 and x != y:
                    n_bands[min(x, y), max(x, y)] += 1
        else:
            for x in valid:
                if x != anchor:
                    n_bands[anchor, x] += 1
    pairs = {p for p, n in n_bands.items() if n >= cfg.min_band_matches}
    names = ("n_multi_buckets", "max_bucket", "n_capped_buckets", "docs_in_capped_buckets")
    return pairs, {k: stats[k] for k in names}


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("min_band_matches", [1, 2])
def test_band_pairs_match_the_tiered_model(seed, min_band_matches):
    rng = np.random.default_rng(seed)
    cfg = dataclasses.replace(CFG, min_band_matches=min_band_matches)
    n_rows = 40
    # 160 cells over 30 keys: buckets of every tier (over 8 seeds about 40
    # plain, 120 salted-size and 75 star buckets); a repeated code is one url
    # with several signature rows, -1 a null url
    keys = rng.integers(0, 30, size=(n_rows, cfg.bands)).astype(np.int64)
    codes = rng.integers(-1, 25, size=n_rows)
    ca, cb, stats = local.band_pairs(keys, codes, cfg, max_rows=1 << 20)
    want, want_stats = _model(keys.tolist(), codes.tolist(), cfg)
    assert set(zip(ca.tolist(), cb.tolist())) == want
    assert len(ca) == len(want)
    assert stats == want_stats


def test_band_pairs_checks_the_pair_cap_first():
    keys = np.zeros((10, CFG.bands), dtype=np.int64)  # one 10-row bucket per band...
    keys += np.arange(CFG.bands)  # ...distinct across bands
    codes = np.arange(10)
    # 10 > salted_bucket_max: star tier, 9 pair rows per band
    assert local.band_pairs(keys, codes, CFG, max_rows=9 * CFG.bands - 1) is None
    ca, cb, _ = local.band_pairs(keys, codes, CFG, max_rows=9 * CFG.bands)
    assert set(zip(ca.tolist(), cb.tolist())) == {(0, i) for i in range(1, 10)}


# url pool with a null; "u10" < "u2" in both Python's and Spark's order
URLS = st.none() | st.sampled_from(["u0", "u1", "u10", "u2", "v", "w~"])


@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_band_pairs_match_spark_candidate_pairs(spark, data):
    """`local.band_pairs` equals Spark's `candidate_pairs` as a pair set, and
    its stats equal `multi_bucket_stats`, on band tables with repeated urls
    and keys, null urls, and tier caps small enough that buckets reach the
    plain, salted and star tiers."""
    # m = 2 plain, m = 3..4 salted, m >= 5 star; keys 0..3 make the big buckets
    cfg = dataclasses.replace(
        CFG,
        max_bucket_size=2,
        salted_bucket_max=4,
        salt_factor=data.draw(st.integers(1, 3)),
        min_band_matches=data.draw(st.sampled_from([1, 2])),
    )
    urls = data.draw(st.lists(URLS, min_size=1, max_size=14))
    key = st.integers(0, 3) | st.integers(4, 24)
    keys = data.draw(arrays(np.int64, (len(urls), cfg.bands), elements=key))
    ids = sorted({u for u in urls if u is not None})
    codes = np.array([-1 if u is None else ids.index(u) for u in urls])
    ca, cb, stats = local.band_pairs(keys, codes, cfg, max_rows=1 << 20)

    bands = spark.createDataFrame(
        [(u, int(k)) for u, row in zip(urls, keys) for k in row],
        "url string, band_key bigint",
    )
    handles = []
    want = lsh.candidate_pairs(bands, cfg, handles_out=handles).collect()
    want_stats = lsh.multi_bucket_stats(handles[0], cfg).first().asDict()
    handles[0].unpersist()
    got = [(ids[a], ids[b]) for a, b in zip(ca.tolist(), cb.tolist())]
    assert sorted(got) == sorted((r.url_a, r.url_b) for r in want)
    assert stats == want_stats


def test_pair_rows_and_verify():
    rng = np.random.default_rng(3)
    codes = np.array([2, 0, 1, 2, -1, 0, 2])  # url 2 has three rows, url 0 two
    S = rng.integers(0, 3, size=(len(codes), 16), dtype=np.int32)
    ca, cb = np.array([0, 1, 0]), np.array([2, 2, 1])
    ia, ib = local.pair_rows(codes, ca, cb)
    rows = lambda c: [i for i, x in enumerate(codes) if x == c]
    want = [(i, j) for a, b in zip(ca, cb) for i in rows(a) for j in rows(b)]
    assert sorted(zip(ia.tolist(), ib.tolist())) == sorted(want)
    keep, est = local.verify(S, ia, ib, 0.4)
    full = np.array([(S[i] == S[j]).sum() / 16.0 for i, j in zip(ia, ib)])
    assert np.array_equal(keep, np.flatnonzero(full >= 0.4))
    assert np.array_equal(est, full[keep])


def test_components_labels_are_component_minima():
    ca = np.array([5, 3, 8, 1, 6])
    cb = np.array([7, 5, 9, 0, 7])
    lab, rounds = local.components(ca, cb, 10, 50)
    assert lab[[0, 1]].tolist() == [0, 0]
    assert lab[[3, 5, 6, 7]].tolist() == [3, 3, 3, 3]
    assert lab[[8, 9]].tolist() == [8, 8]
    assert lab[[2, 4]].tolist() == [2, 4]
    assert local.components(np.arange(63), np.arange(1, 64), 64, 1) is None


def _spark_xxhash64(spark, values, ddl):
    df = spark.createDataFrame([(v,) for v in values], f"v {ddl}")
    return np.array([r[0] for r in df.select(F.xxhash64("v")).collect()], dtype=np.int64)


# up to 200 characters of up to 4 UTF-8 bytes: every branch of the byte
# hash (32-byte stripes, 8-byte words, a 4-byte word, single bytes)
@settings(max_examples=25, deadline=None)
@given(st.lists(st.none() | st.text(max_size=200), min_size=1, max_size=40))
def test_xxhash64_matches_spark_on_strings(spark, ids):
    want = _spark_xxhash64(spark, ids, "string")
    assert np.array_equal(local.xxhash64(pa.array(ids, pa.string())), want)
    binary = [None if v is None else v.encode() for v in ids]
    assert np.array_equal(local.xxhash64(pa.array(binary, pa.binary())), want)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.none() | st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=40))
def test_xxhash64_matches_spark_on_integers(spark, ids):
    want = _spark_xxhash64(spark, ids, "bigint")
    assert np.array_equal(local.xxhash64(pa.array(ids, pa.int64())), want)
    ints = [None if v is None else (v + 2**31) % 2**32 - 2**31 for v in ids]
    want = _spark_xxhash64(spark, ints, "int")
    assert np.array_equal(local.xxhash64(pa.array(ints, pa.int32())), want)


def test_xxhash64_edge_ids(spark, monkeypatch):
    """Every byte length 0..70, nulls, the integer extremes, and blocks
    small enough that a long id is hashed alone."""
    monkeypatch.setattr(local, "XXHASH_CHUNK_BYTES", 64)
    strs = ["x" * n for n in range(71)] + ["é" * 300, None, "", "\U0001F600" * 9]
    sliced = pa.array(["pad"] + strs)[1:]  # a non-zero array offset
    assert np.array_equal(local.xxhash64(sliced), _spark_xxhash64(spark, strs, "string"))
    longs = [0, 1, -1, 2**63 - 1, -(2**63), None]
    assert np.array_equal(
        local.xxhash64(pa.chunked_array([longs[:3], longs[3:]], pa.int64())),
        _spark_xxhash64(spark, longs, "bigint"),
    )
    assert local.xxhash64(pa.array([None, None], pa.string())).tolist() == [42, 42]
    assert not local.xxhash64_supports(pa.float64())
    with pytest.raises(TypeError):
        local.xxhash64(pa.array([1.5]))


# rows=4: one 16-byte band, below the 32-byte stripe; rows=8: a 32-byte band,
# one pass of the stripe loop
BAND_CFGS = [DedupConfig(), DedupConfig(bands=16, rows=8)]


@pytest.mark.parametrize("cfg", BAND_CFGS, ids=["rows4", "rows8"])
@settings(max_examples=15, deadline=None)
@given(data=st.data())
def test_band_keys_match_spark(spark, cfg, data):
    cell = st.sampled_from([SIG_INFTY_INT, 0, -1, -(2**31)]) | st.integers(
        -(2**31), 2**31 - 1
    )
    n = data.draw(st.integers(0, 12))
    S = data.draw(arrays(np.int32, (n, cfg.minhash.sketch_size), elements=cell))
    df = spark.createDataFrame(
        [(i, bytearray(S[i].astype("<i4").tobytes())) for i in range(n)],
        "i int, minhash binary",
    )
    got = df.select("i", lsh.band_keys("minhash", cfg).alias("k")).collect()
    want = np.array([r.k for r in sorted(got)], dtype=np.int64).reshape(n, cfg.bands)
    assert np.array_equal(local.band_keys(S, cfg), want)


WORDS = st.sampled_from(
    ["alpha", "beta", "Gamma", "ü", "日本語", "\U0001F600", "a", ""]
)
TEXTS = (
    st.none()
    | st.text(max_size=60)
    | st.text(max_size=4)  # below shingle_size
    | st.lists(WORDS, max_size=12).map(" ".join)
)


@pytest.mark.parametrize("mode", ["char", "word"])
@settings(max_examples=15, deadline=None)
@given(texts=st.lists(TEXTS, min_size=1, max_size=30))
def test_signature_matrix_matches_the_udf(spark, mode, texts):
    cfg = DedupConfig(shingle_mode=mode, shingle_size=5 if mode == "char" else 2)
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = with_minhash_signature(df, cfg).select("i", "minhash").collect()
    want = [bytes(r.minhash) for r in sorted(got)]
    S = signature_matrix(texts, cfg)
    assert S.dtype == np.int32 and S.shape == (len(texts), cfg.minhash.sketch_size)
    assert [row.astype("<i4").tobytes() for row in S] == want
    # the UDF shares signature_matrix; the per-document shingler does not
    per_doc = [shingle_fn(mode, cfg.shingle_size)(t) for t in texts]
    assert np.array_equal(S, sketch_to_int(min_sketch_batch(per_doc, cfg.minhash)))
