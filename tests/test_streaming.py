"""Structured Streaming ingest tests: file-source signature stream with
availableNow drain, and incremental micro-batch dedup against the signature
store (incremental result == batch result, by the reference's own
order/partition-independence invariant)."""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from minhash_spark.config import DedupConfig
from minhash_spark.operators.signatures import signature_matrix, signature_rows
from minhash_spark.sources.pages import generate_corpus
from minhash_spark.streaming import stream_signatures, incremental_dedup_batch

CFG = DedupConfig()
# the data columns of a band store side written from string urls
BAND_SCHEMA = StructType(
    [StructField("url", StringType()), StructField("band_key", LongType())]
)


def test_stream_signatures_availablenow(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, out_dir, ckpt = str(base / "in"), str(base / "out"), str(base / "ckpt")

    pages, _, _ = generate_corpus(120, seed=21)
    df = spark.createDataFrame(pages)
    df.where(F.col("url").contains("/p/1")).write.parquet(in_dir)

    q = stream_signatures(spark, in_dir, out_dir, ckpt, CFG)
    q.awaitTermination()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == df.where(F.col("url").contains("/p/1")).count() > 0

    # second batch of files → only the new ones are processed (checkpoint)
    df.where(~F.col("url").contains("/p/1")).write.mode("append").parquet(in_dir)
    q = stream_signatures(spark, in_dir, out_dir, ckpt, CFG)
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    assert out.count() == 120
    assert out.select("url").distinct().count() == 120

    # streamed signatures are packed, the form the pipeline and the store
    # write, and equal the batch kernel's (order independence)
    assert out.schema["minhash"].dataType.simpleString() == "binary"
    rows = out.collect()
    text = dict(zip(pages["url"], pages["text"]))
    got = signature_rows([r["minhash"] for r in rows], CFG.minhash.sketch_size)
    want = signature_matrix([text[r["url"]] for r in rows], CFG)
    assert np.array_equal(got, want)


def test_incremental_dedup_matches_batch(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("incr")
    store = str(base / "sigstore")

    pages, _, _ = generate_corpus(400, seed=33)
    df = spark.createDataFrame(pages).select("url", "text")
    half1 = df.where(F.crc32("url") % 2 == 0)
    half2 = df.where(F.crc32("url") % 2 == 1)

    pairs1 = incremental_dedup_batch(spark, half1, store, CFG, epoch_id=0)
    got = {(r["url_a"], r["url_b"]) for r in pairs1.collect()}
    # replay epoch 0 (foreachBatch redelivery after a failure): the store
    # write must be idempotent — same batch_id partition overwritten, same
    # pairs returned, no duplicate state accumulated
    replay = incremental_dedup_batch(spark, half1, store, CFG, epoch_id=0)
    assert {(r["url_a"], r["url_b"]) for r in replay.collect()} == got
    pairs2 = incremental_dedup_batch(spark, half2, store, CFG, epoch_id=1)
    got |= {(r["url_a"], r["url_b"]) for r in pairs2.collect()}

    # batch reference: full pipeline over everything at once
    from minhash_spark.operators.signatures import with_minhash_signature
    from minhash_spark.operators.lsh import bands_table, candidate_pairs
    from minhash_spark.operators.verify import verify_pairs

    sigs = with_minhash_signature(df, CFG).select("url", "minhash")
    want_df = verify_pairs(candidate_pairs(bands_table(sigs, CFG), CFG), sigs, CFG)
    want = {(r["url_a"], r["url_b"]) for r in want_df.collect()}

    assert got == want and len(want) > 0


def test_incremental_store_read_prunes_buckets(spark, tmp_path_factory):
    """The hash-bucketed store layout must let a small batch read only the
    partition directories its band keys touch — the per-batch store scan is
    O(touched buckets), not O(corpus)."""
    from minhash_spark.operators.lsh import bands_table
    from minhash_spark.operators.signatures import with_minhash_signature
    from minhash_spark.streaming.incremental import (
        _bucket_col,
        _store_subdirs,
        pruned_store_read,
    )

    n_buckets = 256
    base = tmp_path_factory.mktemp("prune")
    store = str(base / "store")
    pages, _, _ = generate_corpus(300, seed=7)
    df = spark.createDataFrame(pages).select("url", "text")
    bulk = df.where(F.crc32("url") % 100 != 0)
    small = df.where(F.crc32("url") % 100 == 0)
    assert 0 < small.count() <= 5

    incremental_dedup_batch(
        spark, bulk, store, CFG, epoch_id=0, n_store_buckets=n_buckets
    ).count()
    _, band_store = _store_subdirs(store)

    full = spark.read.parquet(band_store).where(F.col("batch_id") != 1)
    touched = [
        r[0]
        for r in bands_table(
            with_minhash_signature(small, CFG).select("url", "minhash"), CFG
        )
        .select(_bucket_col("band_key", n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    pruned = pruned_store_read(spark, band_store, 1, touched, BAND_SCHEMA)
    # pruning happens at PATH CONSTRUCTION (explicit touched directories, no
    # whole-store listing), so inputFiles() directly shows it: every scanned
    # file lives under a touched store_bucket directory
    files = pruned.inputFiles()
    assert files
    touched_dirs = {f"store_bucket={b}" for b in touched}
    for f in files:
        assert any(t in f for t in touched_dirs), f
        assert "batch_id=1" not in f, f
    # the touched buckets cover only part of the store, so pruning skips rows
    want = full.where(F.col("store_bucket").isin(touched)).count()
    assert 0 < want < full.count()
    assert pruned.count() == want

    # end-to-end: the small batch against the pruned store finds exactly the
    # batch-path pairs that involve a small-batch document
    from minhash_spark.operators.lsh import candidate_pairs
    from minhash_spark.operators.verify import verify_pairs

    # the store layout pins its bucket count: a later batch passing a
    # DIFFERENT n_store_buckets must still hash with the store's modulus
    # (a silent mismatch would prune to wrong directories and drop pairs)
    got = incremental_dedup_batch(
        spark, small, store, CFG, epoch_id=1, n_store_buckets=7
    )
    got_pairs = {(r["url_a"], r["url_b"]) for r in got.collect()}
    small_urls = {r["url"] for r in small.collect()}
    sigs = with_minhash_signature(df, CFG).select("url", "minhash")
    ref = verify_pairs(candidate_pairs(bands_table(sigs, CFG), CFG), sigs, CFG)
    want_pairs = {
        (r["url_a"], r["url_b"])
        for r in ref.collect()
        if r["url_a"] in small_urls or r["url_b"] in small_urls
    }
    assert got_pairs == want_pairs


def test_legacy_unbucketed_store_rejected(tmp_path_factory):
    """A populated store with no _store_meta.json predates the bucketed
    layout — the reader must fail fast instead of stamping fresh meta onto a
    store it cannot directory-prune (ADVICE r3)."""
    import os

    import pytest

    from minhash_spark.streaming.incremental import (
        _effective_store_buckets,
        _store_subdirs,
    )

    store = str(tmp_path_factory.mktemp("legacy_store"))
    sig_dir, _ = _store_subdirs(store)
    os.makedirs(os.path.join(sig_dir, "batch_id=0"))
    with pytest.raises(ValueError, match="legacy/unbucketed"):
        _effective_store_buckets(store, 16)
    # an EMPTY store (no batches) is fine: meta gets stamped
    fresh = str(tmp_path_factory.mktemp("fresh_store"))
    assert _effective_store_buckets(fresh, 16) == 16
    assert _effective_store_buckets(fresh, 99) == 16  # layout wins


def test_store_reads_stay_bounded_as_store_grows(tmp_path_factory, spark):
    """The Spark analog of the reference's infinite-write harness
    (test/fcds/test_fixed_queries_infinite_write.c:94-99): drive 5
    incremental batches and prove the per-batch store read stays at the
    probe's TOUCHED-BUCKET fraction of the store while the store grows 5× —
    i.e. reads are O(touched buckets), not O(corpus). Row counts are the
    proof (inputFiles() lists the relation's files before partition filters
    apply, so it cannot show pruning); partition-filter reachability is
    pinned by test_incremental_store_read_prunes_buckets."""
    from minhash_spark.operators.lsh import bands_table
    from minhash_spark.operators.signatures import with_minhash_signature
    from minhash_spark.streaming.incremental import (
        _bucket_col,
        _store_subdirs,
        pruned_store_read,
    )

    n_buckets = 256
    store = str(tmp_path_factory.mktemp("grow") / "store")
    pages, _, _ = generate_corpus(250, seed=11)
    df = spark.createDataFrame(pages).select("url", "text")

    # fixed tiny probe: its band keys touch a small, constant bucket set
    probe = df.limit(2)
    touched = [
        r[0]
        for r in bands_table(
            with_minhash_signature(probe, CFG).select("url", "minhash"),
            CFG,
        )
        .select(_bucket_col("band_key", n_buckets).alias("b"))
        .distinct()
        .collect()
    ]
    frac_bound = 2.0 * len(touched) / n_buckets
    assert frac_bound < 0.8  # the probe must not trivially touch everything

    _, band_store = _store_subdirs(store)
    fractions = []
    for i in range(5):
        batch = df.where(
            (F.crc32("url") % 5 == i)  # disjoint slices, roughly equal
        )
        incremental_dedup_batch(
            spark, batch, store, CFG, epoch_id=i, n_store_buckets=n_buckets
        ).count()
        total = spark.read.parquet(band_store).count()
        pruned = pruned_store_read(spark, band_store, 10_000, touched, BAND_SCHEMA).count()
        fractions.append(pruned / total)

    # the store grew ~5x; the probe's read fraction must stay bounded by the
    # touched-bucket share throughout (uniform-hash slack 2x) and must not
    # trend toward full scans
    assert all(f <= frac_bound for f in fractions), fractions
    assert fractions[-1] <= 1.5 * max(fractions[0], 1e-9) + 0.05, fractions


def test_probe_store_read_only_lookup(tmp_path_factory, spark):
    """probe_store answers "is this document already in the corpus?"
    without touching the store: known/near-dup probes hit their stored
    counterparts, novel probes return nothing, re-probing an ALREADY
    STORED url doesn't duplicate pairs, and the store bytes stay
    untouched."""
    import os

    from minhash_spark.streaming import probe_store

    store = str(tmp_path_factory.mktemp("probe") / "store")
    pages, _, _ = generate_corpus(200, seed=31)
    df = spark.createDataFrame(pages).select("url", "text")
    incremental_dedup_batch(spark, df, store, CFG, epoch_id=0).count()

    def snapshot(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = snapshot(store)
    one = df.limit(1).collect()[0]
    probes = spark.createDataFrame(
        [
            ("probe_same", one["text"]),          # exact copy of a stored doc
            (one["url"], one["text"]),            # the stored url itself
            ("probe_novel", "completely different words nothing shared qq zz"),
        ],
        ["url", "text"],
    )
    got = probe_store(spark, probes, store, CFG).collect()
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["url_a"], []).append((r["url_b"], r["est_jaccard"]))
    # the exact copy finds its stored counterpart at est 1.0
    assert (one["url"], 1.0) in by_probe.get("probe_same", []), by_probe
    # re-probing the stored url: pairs appear ONCE each (no sig-table dup)
    if one["url"] in by_probe:
        pairs = by_probe[one["url"]]
        assert len(pairs) == len(set(pairs))
    # the novel probe matches nothing
    assert "probe_novel" not in by_probe
    # read-only: no file added, removed, or rewritten
    assert snapshot(store) == before


def test_probe_store_logs_no_bucket_mismatch_warning(tmp_path_factory, spark, caplog):
    """ADVICE r4 (low): the read-only probe path passes requested=None to
    _effective_store_buckets, so probing must NOT emit the spurious
    'created with n_store_buckets=N; ignoring requested 0' warning."""
    import logging

    from minhash_spark.streaming import probe_store

    store = str(tmp_path_factory.mktemp("probewarn") / "store")
    pages, _, _ = generate_corpus(50, seed=7)
    df = spark.createDataFrame(pages).select("url", "text")
    incremental_dedup_batch(spark, df, store, CFG, epoch_id=0).count()

    with caplog.at_level(logging.WARNING, logger="minhash_spark.streaming.incremental"):
        probe_store(spark, df.limit(2), store, CFG).count()
    assert not [r for r in caplog.records if "n_store_buckets" in r.getMessage()]

    # and probing a non-store path fails with a clear message
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no batches to probe"):
        probe_store(spark, df.limit(1), str(tmp_path_factory.mktemp("empty")), CFG)


def test_bloom_filter_no_false_negatives_and_prunes():
    """Manifest Bloom primitives: every inserted key passes (no false
    negatives — pruning can never drop a real candidate); a disjoint key
    set is rejected at the designed fpp."""
    from minhash_spark.streaming.incremental import (
        _bloom_build,
        _bloom_m_bits,
        _bloom_maybe_any,
    )

    rng = np.random.default_rng(123)
    keys = rng.integers(0, 2**63, size=2000, dtype=np.int64).view(np.uint64)
    m = _bloom_m_bits(len(keys))
    bitmap = _bloom_build(keys, m)
    # no false negatives: each inserted key individually passes
    for k in keys[:200]:
        assert _bloom_maybe_any(bitmap, m, np.array([k], dtype=np.uint64))
    # disjoint probes: per-key pass rate must be tiny (designed ~5e-4)
    other = rng.integers(0, 2**63, size=5000, dtype=np.int64).view(np.uint64)
    other = np.setdiff1d(other, keys)
    hits = sum(
        _bloom_maybe_any(bitmap, m, np.array([k], dtype=np.uint64))
        for k in other[:2000]
    )
    assert hits <= 10  # ≈ 2000 × 5e-4 = 1 expected; 10 = generous determinism margin


def test_key_level_bloom_pruning_skips_disjoint_store_batches(
    spark, tmp_path_factory
):
    """A narrow batch must read ONLY the store partitions whose manifest
    Bloom admits one of its band keys — partitions in the SAME bucket but
    written by batches the new docs cannot collide with are skipped. This is
    the key-level pruning bucket pruning cannot provide."""
    from minhash_spark.operators.lsh import bands_table
    from minhash_spark.operators.signatures import with_minhash_signature
    from minhash_spark.streaming.incremental import (
        _bucket_col,
        _collect_key_filter,
        _store_subdirs,
        pruned_store_read,
    )

    n_buckets = 4  # few buckets → every batch touches every bucket
    store = str(tmp_path_factory.mktemp("bloomprune") / "store")
    # two SHINGLE-DISJOINT halves (separate alphabets), so no band key of an
    # half_a doc can genuinely occur in batch 1 — any batch-1 partition the
    # keyed read keeps would be a Bloom false positive, not a collision
    rng = np.random.default_rng(11)
    vocab_a = [f"alpha{w:04d}" for w in range(300)]
    vocab_b = [f"ZETA{w:04d}X" for w in range(300)]

    def mk(vocab, prefix, n):
        return [
            (f"{prefix}{i}", " ".join(rng.choice(vocab, size=60)))
            for i in range(n)
        ]

    half_a = spark.createDataFrame(mk(vocab_a, "a", 200), ["url", "text"])
    half_b = spark.createDataFrame(mk(vocab_b, "b", 200), ["url", "text"])
    incremental_dedup_batch(
        spark, half_a, store, CFG, epoch_id=0, n_store_buckets=n_buckets
    ).count()
    incremental_dedup_batch(
        spark, half_b, store, CFG, epoch_id=1, n_store_buckets=n_buckets
    ).count()
    _, band_store = _store_subdirs(store)

    # probe batch: copies of THREE half_a docs (shared band keys with
    # batch 0 only — batch 1's alphabet is disjoint, nothing can collide)
    probe_rows = half_a.limit(3).collect()
    probes = spark.createDataFrame(
        [(r["url"] + "#copy", r["text"]) for r in probe_rows], ["url", "text"]
    )
    new_bands = bands_table(
        with_minhash_signature(probes, CFG).select("url", "minhash"),
        CFG,
    )
    kf = _collect_key_filter(
        new_bands, _bucket_col("band_key", n_buckets), F.col("band_key")
    )
    assert kf is not None

    # bucket-level pruning alone reads BOTH store batches (tiny bucket count
    # → all buckets touched); key-level pruning must drop batch_id=1 files
    bucket_only = pruned_store_read(spark, band_store, -1, list(kf), BAND_SCHEMA)
    keyed = pruned_store_read(spark, band_store, -1, list(kf), BAND_SCHEMA, kf)
    assert any("batch_id=1" in f for f in bucket_only.inputFiles())
    keyed_files = keyed.inputFiles()
    assert keyed_files and all("batch_id=0" in f for f in keyed_files)
    assert len(keyed_files) < len(bucket_only.inputFiles())

    # correctness: the Bloom-pruned read still yields every real band match
    hits = (
        new_bands.select("band_key")
        .distinct()
        .join(keyed, "band_key")
        .select("url")
        .distinct()
        .count()
    )
    assert hits >= 3  # each probed doc's stored counterpart is found


def test_bloom_all_pruned_returns_empty_not_full_scan(spark, tmp_path_factory):
    """When every bucket-matching partition is Bloom-rejected, the read
    returns an EMPTY frame of the caller's schema and reads no file — it
    must not fall back to a whole-store scan."""
    from minhash_spark.streaming import probe_store
    from minhash_spark.streaming.incremental import (
        _bucket_col,
        _collect_key_filter,
        _store_subdirs,
        pruned_store_read,
    )

    store = str(tmp_path_factory.mktemp("bloomempty") / "store")
    pages, _, _ = generate_corpus(100, seed=3)
    df = spark.createDataFrame(pages).select("url", "text")
    incremental_dedup_batch(spark, df, store, CFG, epoch_id=0, n_store_buckets=4).count()
    _, band_store = _store_subdirs(store)

    kf = {b: np.array([12345 + b], dtype=np.uint64) for b in range(4)}
    got = pruned_store_read(spark, band_store, -1, [0, 1, 2, 3], BAND_SCHEMA, kf)
    assert got.count() == 0
    assert "band_key" in got.columns and "url" in got.columns
    assert got.inputFiles() == []  # no footer read, not even for the schema

    # end-to-end: probing a novel document returns no pairs
    novel = spark.createDataFrame(
        [("novel", "entirely new words never stored anywhere qq zz xx vv")],
        ["url", "text"],
    )
    assert probe_store(spark, novel, store, CFG).count() == 0


def test_compact_store_preserves_content_and_prunes(spark, tmp_path_factory):
    """Compaction must be a pure file-layout rewrite: probe results are
    byte-identical before/after, every per-epoch directory collapses into
    one negative-id compacted batch per side (never -1, probe_store's
    exclude-nothing sentinel), the rebuilt manifests carry key Blooms, and
    ingest continues cleanly on the compacted store."""
    from minhash_spark.streaming.incremental import (
        _batch_manifest,
        _side_batch_ids,
        _store_subdirs,
        compact_store,
        maybe_compact_store,
        probe_store,
    )

    store = str(tmp_path_factory.mktemp("compact") / "store")
    pages, _, _ = generate_corpus(120, seed=11)
    df = spark.createDataFrame(pages).select("url", "text")
    for e in range(3):
        part = df.where(F.pmod(F.xxhash64("url"), F.lit(3)) == e)
        incremental_dedup_batch(
            spark, part, store, CFG, epoch_id=e, n_store_buckets=4
        ).count()
    probe = df.limit(20)
    before = sorted(
        (r["url_a"], r["url_b"], round(r["est_jaccard"], 9))
        for r in probe_store(spark, probe, store, CFG).collect()
    )
    assert maybe_compact_store(spark, store, max_batches=16) is None  # under policy
    res = compact_store(spark, store)
    assert res["bands"]["merged"] == 3 and res["signatures"]["merged"] == 3
    for side in _store_subdirs(store):
        ids = _side_batch_ids(side)
        assert len(ids) == 1 and ids[0] <= -2, ids
        man = _batch_manifest(side, f"batch_id={ids[0]}")
        assert man.get("blooms"), "compacted manifest must carry key Blooms"
        assert man.get("replaces"), "compacted manifest must list its sources"
    after = sorted(
        (r["url_a"], r["url_b"], round(r["est_jaccard"], 9))
        for r in probe_store(spark, probe, store, CFG).collect()
    )
    assert before == after and len(before) > 0
    # second compaction is a no-op; ingest on the compacted store still works
    assert compact_store(spark, store)["bands"]["merged"] == 0
    extra = df.limit(30).select(F.concat(F.lit("x-"), "url").alias("url"), "text")
    incremental_dedup_batch(
        spark, extra, store, CFG, epoch_id=3, n_store_buckets=4
    ).count()
    again = sorted(
        (r["url_a"], r["url_b"], round(r["est_jaccard"], 9))
        for r in probe_store(spark, probe, store, CFG).collect()
    )
    assert set(before).issubset(set(again))
