"""The two paths of the incremental store (streaming/incremental.py) give the
same answers and write the same store: the narrow path (texts once to the
driver, signed there, numpy pair counting and verification) against the
wide path (Spark joins and UDFs), forced by setting the narrow cap to 0.
Also: the collision overflow hand-offs (store band rows, and the batch's
band collisions with itself), the text-byte cap's hand-off to the
signature UDF, no text on the driver above either cap, stats_out, and the
job count of a narrow ingest and probe.
Also: compaction on the driver against compaction by Spark (forced by
setting _LOCAL_MAX_COMPACT_ROWS to 0), and its recovery after a crash; the
one bucket writer under a retried task, and the job count of the wide
ingest and the Spark compaction."""

import json
import os
import shutil
from collections import Counter

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from minhash_spark.config import DedupConfig
from minhash_spark.operators import signatures
from minhash_spark.sources.pages import generate_corpus
from minhash_spark.streaming import incremental
from minhash_spark.streaming.incremental import (
    _store_subdirs,
    compact_store,
    incremental_dedup_batch,
    probe_store,
)

CFG = DedupConfig()


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _store_state(spark, store):
    """Rows per side (with batch_id and store_bucket) and every manifest."""
    out = {}
    for side in _store_subdirs(store):
        rows = Counter(tuple(r) for r in spark.read.parquet(side).collect())
        manifests = {
            d: json.load(open(os.path.join(side, d, "_bucket_manifest.json")))
            for d in sorted(os.listdir(side))
            if d.startswith("batch_id=")
        }
        out[os.path.basename(side)] = (rows, manifests)
    return out


def _replay(spark, df, probes, store):
    """Three epochs, epoch 1 ingested twice (a foreachBatch replay), then a
    probe: every result as a multiset, plus the stats of each call."""
    results, stats = [], []
    for e in (0, 1, 1, 2):
        st: dict = {}
        part = df.where(F.col("epoch") == e).drop("epoch")
        results.append(
            _rows(incremental_dedup_batch(spark, part, store, CFG, e, 4, stats_out=st))
        )
        stats.append(st)
    st = {}
    results.append(_rows(probe_store(spark, probes, store, CFG, stats_out=st)))
    stats.append(st)
    return results, stats


@pytest.fixture(params=["string", "long"])
def corpus(request, spark):
    """Three epochs of a near-dup corpus. Epoch 2 re-ingests one epoch-0 url
    (its store and batch signature rows both verify), epoch 0 holds a copy
    of an epoch-1 doc under a null url (its store band rows share the
    epoch-1 batch's keys but never join) and epoch 1 one url twice with two
    texts, and the probes hold a copy under a new url, stored urls with
    other and with their own text (the probe's signature replaces the
    stored ones), a novel text and one probe url twice."""
    pages, _, _ = generate_corpus(150, seed=5)
    pdf = pages[["url", "text"]].copy()
    if request.param == "long":
        pdf["url"] = range(1000, 1000 + len(pdf))
    pdf["url"] = pdf["url"].astype(object)
    pdf["epoch"] = [i % 3 for i in range(len(pdf))]
    # a copy of an epoch-2 doc, ingested in epoch 0 and again in epoch 2
    twin = "twin" if request.param == "string" else 5_000
    first = pdf.iloc[[5]].assign(url=twin, epoch=0)
    null = pdf.iloc[[7]].assign(url=None, epoch=0)
    dup = "dup" if request.param == "string" else 5_001
    doubled = pdf.iloc[[10, 13]].assign(url=dup, epoch=1)
    ddl = "string" if request.param == "string" else "long"
    df = spark.createDataFrame(
        pd.concat([pdf, first, first.assign(epoch=2), null, doubled], ignore_index=True),
        f"url {ddl}, text string, epoch long",
    )
    u1 = pdf.url.tolist()[1]
    new = "probe-copy" if request.param == "string" else 99_999
    novel = "probe-novel" if request.param == "string" else 99_998
    copy5 = "probe-copy5" if request.param == "string" else 99_997
    probes = spark.createDataFrame(
        [
            (new, pdf.text.iloc[3]),
            (u1, pdf.text.iloc[4]),
            (novel, "entirely new words never stored anywhere qq zz"),
            (new, pdf.text.iloc[3]),
            (twin, pdf.text.iloc[5]),
            (copy5, pdf.text.iloc[5]),
        ],
        df.select("url", "text").schema,
    )
    return df, probes, twin


def test_narrow_and_wide_paths_agree(spark, corpus, monkeypatch, tmp_path):
    df, probes, twin = corpus
    got = {}
    for path, cap in (("narrow", incremental._KEY_PRUNE_MAX_KEYS), ("wide", 0)):
        monkeypatch.setattr(incremental, "_KEY_PRUNE_MAX_KEYS", cap)
        store = str(tmp_path / path)
        results, stats = _replay(spark, df, probes, store)
        assert {s["path"] for s in stats} == {path}
        got[path] = (results, stats, _store_state(spark, store))

    (n_res, n_stats, n_store), (w_res, w_stats, w_store) = got["narrow"], got["wide"]
    assert n_res == w_res
    # the replay of epoch 1 returns the same pairs and leaves no duplicate rows
    assert n_res[1] == n_res[2] and sum(n_res[3].values()) > 0
    # the re-ingested url verifies with both of its signature rows
    assert max(n_res[3].values()) == 2
    probe_hits = {r[0] for r in n_res[4]}
    assert probe_hits and not any("novel" in str(u) or u == 99_998 for u in probe_hits)
    # the twin is stored twice; probed, it verifies once, with its probe
    # row, on either side of a pair
    twin_counts = [n for (a, b, _), n in n_res[4].items() if twin in (a, b)]
    assert len(twin_counts) >= 2 and set(twin_counts) == {1}
    for n, w in zip(n_stats, w_stats):
        assert {**n, "path": None} == {**w, "path": None}
        assert (n["bytes_read"] > 0) == (n["files_read"] > 0)
    assert n_store == w_store
    for rows, manifests in n_store.values():
        assert sum(rows.values()) > 0
        assert all(m["blooms"] and m["store_buckets"] for m in manifests.values())


def test_collision_overflow_hands_off_to_spark(spark, monkeypatch, tmp_path):
    """A narrow batch whose store band rows exceed the cap (a hot key) is
    verified by the Spark path from its collected signatures, with the same
    pairs and store rows as the wide path."""
    text = "the same boilerplate page repeated many times across the crawl"
    stored = spark.createDataFrame(
        [(f"s{i}", text) for i in range(3)], "url string, text string"
    )
    batch = spark.createDataFrame(
        [("b0", text), ("b1", "an unrelated short page")], "url string, text string"
    )
    got = {}
    # cap 64: two rows are narrow (2 × 32 bands), the 3 × 32 stored band
    # rows of the hot text are not
    for path, cap in (("overflow", 64), ("wide", 0)):
        monkeypatch.setattr(incremental, "_KEY_PRUNE_MAX_KEYS", cap)
        store = str(tmp_path / path)
        incremental_dedup_batch(spark, stored, store, CFG, 0, 4).collect()
        st: dict = {}
        rows = _rows(incremental_dedup_batch(spark, batch, store, CFG, 1, 4, stats_out=st))
        got[path] = (rows, st["path"], _store_state(spark, store))
    assert got["overflow"][1] == got["wide"][1] == "wide"
    assert got["overflow"][0] == got["wide"][0]
    assert {(a, b) for a, b, _ in got["overflow"][0]} == {
        ("b0", "s0"), ("b0", "s1"), ("b0", "s2")
    }
    assert got["overflow"][2] == got["wide"][2]


def test_batch_self_join_overflow_hands_off_to_spark(spark, monkeypatch, tmp_path):
    """A batch of k identical docs fits the narrow row cap (k × bands rows)
    but not its band collisions with itself (bands × k² join rows): it is
    verified by the Spark path, with the same pairs and store rows as the
    wide path."""
    k = 3
    text = "the same boilerplate page repeated many times across the crawl"
    batch = spark.createDataFrame(
        [(f"b{i}", text) for i in range(k)], "url string, text string"
    )
    got = {}
    for path, cap in (("overflow", k * CFG.bands), ("wide", 0)):
        monkeypatch.setattr(incremental, "_KEY_PRUNE_MAX_KEYS", cap)
        store = str(tmp_path / path)
        st: dict = {}
        rows = _rows(incremental_dedup_batch(spark, batch, store, CFG, 0, 4, stats_out=st))
        got[path] = (rows, st["path"], _store_state(spark, store))
    assert got["overflow"][1] == got["wide"][1] == "wide"
    assert got["overflow"][0] == got["wide"][0]
    assert {(a, b) for a, b, _ in got["overflow"][0]} == {
        ("b0", "b1"), ("b0", "b2"), ("b1", "b2")
    }
    assert got["overflow"][2] == got["wide"][2]


def test_unhashed_url_type_takes_the_spark_paths(spark, tmp_path):
    """`local.xxhash64` does not hash a double url, so its batches ingest on
    the wide path and its signature side compacts with Spark; the band side,
    keyed by band_key, still compacts on the driver."""
    store = str(tmp_path / "store")
    pages, _, _ = generate_corpus(40, seed=17)
    df = spark.createDataFrame(
        [(float(i), t) for i, t in enumerate(pages.text)], "url double, text string"
    )
    for e in range(2):
        st: dict = {}
        part = df.where(F.col("url") % 2 == e)
        incremental_dedup_batch(spark, part, store, CFG, e, 4, stats_out=st).collect()
        assert st["path"] == "wide"
    res = compact_store(spark, store)
    assert (res["signatures"]["path"], res["bands"]["path"]) == ("spark", "local")
    assert res["signatures"]["rows"] == 40 and res["bands"]["rows"] == 40 * CFG.bands


def _jobs(sc, group, fn):
    """The ids of the Spark jobs that fn runs (those of a nested `_jobs`
    call are in its group only)."""
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _python_executions(spark, jobs) -> int:
    """The SQL executions of `jobs` whose plan evaluates Python."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = 0
    for i in range(executions.size()):
        e = executions.apply(i)
        if any(e.jobs().contains(j) for j in jobs):
            n += "EvalPython" in e.physicalPlanDescription()
    return n


def test_narrow_job_counts(spark, tmp_path):
    """A narrow ingest or probe runs at most 2 Spark jobs (21 and 12 with
    per-step Spark plans; they collect the batch's text lengths, then its
    urls and texts) and evaluates no Python, and compacting a store below
    _LOCAL_MAX_COMPACT_ROWS runs no job."""
    sc = spark.sparkContext
    store = str(tmp_path / "store")
    pages, _, _ = generate_corpus(120, seed=9)
    df = spark.createDataFrame(pages).select("url", "text")
    first = df.where(F.crc32("url") % 2 == 0)
    second = df.where(F.crc32("url") % 2 == 1)
    incremental_dedup_batch(spark, first, store, CFG, 0, 8).collect()

    st: dict = {}
    ingest_jobs = _jobs(
        sc,
        "narrow-ingest",
        lambda: incremental_dedup_batch(
            spark, second, store, CFG, 1, 8, stats_out=st
        ).collect(),
    )
    assert st["path"] == "narrow" and st["n_store_band_rows"] > 0
    st = {}
    probe_jobs = _jobs(
        sc, "narrow-probe",
        lambda: probe_store(spark, df.limit(20), store, CFG, stats_out=st).collect(),
    )
    assert st["path"] == "narrow" and st["n_candidates"] > 0
    assert st["files_read"] > 0 and st["bytes_read"] > 0
    res: dict = {}
    compact_jobs = _jobs(
        sc, "local-compact", lambda: res.update(compact_store(spark, store))
    )
    assert {r["path"] for r in res.values()} == {"local"}
    assert len(ingest_jobs) <= 2, ingest_jobs
    assert len(probe_jobs) <= 2, probe_jobs
    assert _python_executions(spark, ingest_jobs + probe_jobs) == 0
    assert compact_jobs == [], compact_jobs


def test_wide_job_counts(spark, monkeypatch, tmp_path):
    """On the wide path each store side is written by one Spark action, 2
    jobs under adaptive execution (its shuffle-map stage, then its result
    stage). A wide ingest with stats_out runs 21 jobs, 4 of them store
    writes (23 while its two store reads inferred their schema from the
    parquet footers), and a Spark compaction runs only its 4 write jobs.
    Before the one bucket writer, a side took a partitionBy write and an
    applyInPandas Bloom pass, 2 jobs each: a wide ingest ran 27 jobs, 8 of
    them store writes, and a Spark compaction 12, with a schema-inference
    job per side for each of its read and its read-back."""
    sc = spark.sparkContext
    monkeypatch.setattr(incremental, "_KEY_PRUNE_MAX_KEYS", 0)
    monkeypatch.setattr(incremental, "_LOCAL_MAX_COMPACT_ROWS", 0)
    store = str(tmp_path / "store")
    pages, _, _ = generate_corpus(120, seed=9)
    df = spark.createDataFrame(pages).select("url", "text")
    incremental_dedup_batch(spark, df.where(F.crc32("url") % 2 == 0), store, CFG, 0, 8).collect()

    writes = []
    write = incremental._write_buckets_on_spark

    def traced(*args, **kwargs):
        size = []
        writes.append(
            _jobs(sc, f"wide-write-{len(writes)}", lambda: size.append(write(*args, **kwargs)))
        )
        return size[0]

    monkeypatch.setattr(incremental, "_write_buckets_on_spark", traced)
    st: dict = {}
    ingest_jobs = _jobs(
        sc, "wide-ingest",
        lambda: incremental_dedup_batch(
            spark, df.where(F.crc32("url") % 2 == 1), store, CFG, 1, 8, stats_out=st
        ).collect(),
    )
    assert st["path"] == "wide" and st["n_store_band_rows"] > 0
    res: dict = {}
    compact_jobs = _jobs(sc, "spark-compact", lambda: res.update(compact_store(spark, store)))
    assert {r["path"] for r in res.values()} == {"spark"}
    assert len(writes) == 4 and all(1 <= len(j) <= 2 for j in writes), writes
    assert len(ingest_jobs) + len(writes[0]) + len(writes[1]) <= 21, (ingest_jobs, writes)
    assert compact_jobs == [], compact_jobs


def test_zero_key_store_read_runs_no_job(spark, tmp_path):
    """A wide read with no batch key to look up (`_collect_key_filter`
    returned {}) is an empty frame of the caller's schema, built without a
    Spark job and reading no file. Against a store of 64-bucket batches, a
    root read of the store instead ran 4 jobs to build (listing more than 32
    bucket directories per batch, then inferring the schema)."""
    sc = spark.sparkContext
    store = str(tmp_path / "store")
    pages, _, _ = generate_corpus(90, seed=5)
    df = spark.createDataFrame(pages).select("url", "text")
    for e in range(3):
        incremental_dedup_batch(
            spark, df.where(F.crc32("url") % 3 == e), store, CFG, e, 64
        ).collect()
    band_store = _store_subdirs(store)[1]
    schema = StructType(
        [StructField("url", StringType()), StructField("band_key", LongType())]
    )
    st = incremental._new_stats("wide")
    got = []
    jobs = _jobs(
        sc, "zero-key-read",
        lambda: got.append(
            incremental.pruned_store_read(
                spark, band_store, -1, [], schema=schema, key_filter={}, stats_out=st
            )
        ),
    )
    assert jobs == [], jobs
    assert got[0].schema == schema and got[0].inputFiles() == []
    assert got[0].count() == 0
    assert st["partitions_read"] == st["files_read"] == 0


def test_retried_bucket_write_leaves_one_file(spark, tmp_path):
    """An executor task that is retried writes its bucket again over a
    stale hidden temp file of the failed attempt: the bucket ends with one
    data file holding one write's rows, and `_data_files`, pyarrow and
    Spark all skip the temp file."""
    out = str(tmp_path / "batch_id=0")
    part = os.path.join(out, "store_bucket=3")
    rows = pa.table({"url": ["a", "b", "c"], "band_key": pa.array([7, 11, 7], pa.int64())})
    first = incremental._write_bucket(out, 3, rows, rows["band_key"].to_numpy())
    # the failed attempt got as far as a whole temp file of other rows
    stale = os.path.join(part, ".part-stale.tmp")
    pq.write_table(rows.slice(0, 1), stale)
    again = incremental._write_bucket(out, 3, rows, rows["band_key"].to_numpy())
    assert first == again and first[0]["n"] == 2
    (data,) = incremental._data_files(part)
    assert sorted(os.listdir(part)) == [".part-stale.tmp", "part-00000.parquet"]
    assert os.path.basename(data) == "part-00000.parquet"
    assert pq.read_table(data).equals(rows)
    assert pads.dataset(part, format="parquet").to_table().equals(rows)
    got = spark.read.parquet(out).select("url", "band_key", "store_bucket").collect()
    assert sorted(tuple(r) for r in got) == [("a", 7, 3), ("b", 11, 3), ("c", 7, 3)]


def test_sign_byte_cap_hands_off_to_the_udf(spark, monkeypatch, tmp_path):
    """A narrow batch of more text than signatures._LOCAL_MAX_SIGN_BYTES is
    signed by the signature UDF, in one Python execution, and then resolved
    on the driver: the same pairs, store rows and manifests as a batch
    signed on the driver."""
    sc = spark.sparkContext
    pages, _, _ = generate_corpus(120, seed=21)
    df = spark.createDataFrame(pages).select("url", "text")
    probes = df.where(F.crc32("url") % 4 == 0)
    got = {}
    for path, cap in (("driver", signatures._LOCAL_MAX_SIGN_BYTES), ("udf", 0)):
        monkeypatch.setattr(signatures, "_LOCAL_MAX_SIGN_BYTES", cap)
        store = str(tmp_path / path)
        calls = [
            lambda st, e=e: incremental_dedup_batch(
                spark, df.where(F.crc32("url") % 2 == e), store, CFG, e, 4, stats_out=st
            )
            for e in (0, 1)
        ]
        calls.append(lambda st: probe_store(spark, probes, store, CFG, stats_out=st))
        results, python = [], []
        for i, call in enumerate(calls):
            st: dict = {}
            jobs = _jobs(sc, f"{path}-{i}", lambda: results.append(_rows(call(st))))
            assert st["path"] == "narrow"
            python.append(_python_executions(spark, jobs))
        got[path] = (results, python, _store_state(spark, store))
    assert got["driver"][1] == [0, 0, 0]
    assert got["udf"][1] == [1, 1, 1]
    assert got["driver"][0] == got["udf"][0]
    assert all(sum(r.values()) > 0 for r in got["driver"][0][1:])
    assert got["driver"][2] == got["udf"][2]


def _collected_columns(monkeypatch, df) -> list:
    """The column names of every table that DataFrame.toArrow brings to
    the driver from now on."""
    seen = []
    cls = type(df)
    to_arrow = cls.toArrow

    def spy(self):
        tbl = to_arrow(self)
        seen.append(tbl.schema.names)
        return tbl

    monkeypatch.setattr(cls, "toArrow", spy)
    return seen


@pytest.mark.parametrize("over", [None, "_KEY_PRUNE_MAX_KEYS", "_LOCAL_MAX_SIGN_BYTES"])
def test_no_text_to_the_driver_above_the_caps(spark, monkeypatch, tmp_path, over):
    """A batch over the narrow row cap (wide) or over the text-byte cap
    (signed by the UDF) brings no text to the driver, only its text
    lengths; a batch under both caps brings its texts."""
    pages, _, _ = generate_corpus(80, seed=23)
    df = spark.createDataFrame(pages).select("url", "text")
    store = str(tmp_path / "store")
    first = df.where(F.crc32("url") % 2 == 0)
    incremental_dedup_batch(spark, first, store, CFG, 0, 4).collect()
    if over:
        owner = signatures if over == "_LOCAL_MAX_SIGN_BYTES" else incremental
        monkeypatch.setattr(owner, over, 0)
    seen = _collected_columns(monkeypatch, df)
    calls = [
        lambda st: incremental_dedup_batch(
            spark, df.where(F.crc32("url") % 2 == 1), store, CFG, 1, 4, stats_out=st
        ),
        lambda st: probe_store(spark, df.limit(20), store, CFG, stats_out=st),
    ]
    for call in calls:
        st: dict = {}
        assert _rows(call(st))
        assert st["path"] == ("wide" if over == "_KEY_PRUNE_MAX_KEYS" else "narrow")
    assert seen
    assert any("text" in cols for cols in seen) == (over is None), seen


@pytest.fixture(params=["string", "long"])
def store3(request, spark, tmp_path_factory):
    """A three-epoch store, one row of it with a null url, and a copy of it
    per call of the returned function."""
    pages, _, _ = generate_corpus(90, seed=13)
    pdf = pages[["url", "text"]].copy()
    if request.param == "long":
        pdf["url"] = range(500, 500 + len(pdf))
    pdf["url"] = pdf["url"].astype(object)
    pdf.loc[7, "url"] = None
    ddl = "url string, text string" if request.param == "string" else "url long, text string"
    df = spark.createDataFrame(pdf, ddl)
    base = str(tmp_path_factory.mktemp("compact") / "store")
    for e in range(3):
        part = df.where(F.pmod(F.abs(F.crc32("text")), F.lit(3)) == e)
        incremental_dedup_batch(spark, part, base, CFG, e, 4).collect()

    def fresh(name):
        dst = str(tmp_path_factory.mktemp(name) / "store")
        shutil.copytree(base, dst)
        return dst

    return fresh


def test_driver_and_spark_compaction_agree(spark, store3, monkeypatch):
    got = {}
    for path, cap in (("local", incremental._LOCAL_MAX_COMPACT_ROWS), ("spark", 0)):
        monkeypatch.setattr(incremental, "_LOCAL_MAX_COMPACT_ROWS", cap)
        store = store3(path)
        res = compact_store(spark, store)
        assert {r["path"] for r in res.values()} == {path}
        assert all(r["merged"] == 3 and r["bytes_written"] > 0 for r in res.values())
        got[path] = (
            {s: (r["rows"], r["bytes_written"]) for s, r in res.items()},
            _store_state(spark, store),
        )
    assert got["local"] == got["spark"]
    rows, manifests = got["local"][1]["signatures"]
    assert sum(n for r, n in rows.items() if r[0] is None) == 1  # the null url
    assert sum(rows.values()) == got["local"][0]["signatures"][0]
    (man,) = manifests.values()
    assert man["replaces"] == ["batch_id=0", "batch_id=1", "batch_id=2"]


@pytest.mark.parametrize("crash", ["tmp_left", "sources_left"])
def test_compaction_recovers_from_a_crash(spark, store3, crash):
    """A crash while `_compacting_tmp` was written, or after its rename but
    before the sources were removed: the next compact_store leaves the rows
    and manifests of an uninterrupted one."""
    clean = store3("clean")
    compact_store(spark, clean)
    want = _store_state(spark, clean)

    store = store3(crash)
    for side, clean_side in zip(_store_subdirs(store), _store_subdirs(clean)):
        if crash == "tmp_left":
            # a partial tmp: one bucket's file, no manifest
            part = next(p for p in sorted(os.listdir(clean_side)) if p.startswith("batch_id="))
            src = os.path.join(clean_side, part, "store_bucket=0")
            shutil.copytree(src, os.path.join(side, "_compacting_tmp", "store_bucket=0"))
        else:
            sources = [d for d in os.listdir(side) if d.startswith("batch_id=")]
            (done,) = [d for d in os.listdir(clean_side) if d.startswith("batch_id=")]
            shutil.copytree(os.path.join(clean_side, done), os.path.join(side, done))
            assert len(sources) == 3
    res = compact_store(spark, store)
    assert _store_state(spark, store) == want
    for side in _store_subdirs(store):
        assert not os.path.exists(os.path.join(side, "_compacting_tmp"))
    if crash == "sources_left":
        # recovery removed the replaced sources; nothing was left to merge
        assert {r["merged"] for r in res.values()} == {0}
