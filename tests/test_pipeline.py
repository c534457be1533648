"""End-to-end pipeline tests on the synthetic web-page corpus — the
pipeline-level mirror of the reference's differential validation
(/root/reference/test/test_parallel_lock.c:47-57): distributed signatures must
equal the locally-computed ones cell-for-cell, recall of oracle-derived dup
pairs ≥ 0.99, clusters must equal a local union-find over the same pairs.

Evidence chain: tests/test_kernels.py proves kernels == serial oracle;
here we prove Spark output == kernels; therefore Spark == serial oracle.

The pipeline's two paths after the signature stage (local numpy, Spark
stages) run the same checks; the Spark path is forced by setting a cap of
the local path to 0, and the two are compared on skewed buckets, duplicate
url rows, a null url and non-ASCII urls.
"""

import dataclasses
import itertools
import json
import os
from collections import Counter

import numpy as np
import pytest
import pyarrow.parquet as pq
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from minhash_spark import pipeline
from minhash_spark.config import DedupConfig, MinHashConfig
from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_int
from minhash_spark.functions.shingles import shingle_fn
from minhash_spark.operators import signatures
from minhash_spark.pipeline import DedupPipeline
from minhash_spark.sources.pages import generate_corpus


CFG = DedupConfig(minhash=MinHashConfig(sketch_size=128, seed=42))
N_PAGES = 800


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_PAGES, seed=42)


@pytest.fixture(scope="module")
def local_sigs(corpus):
    """Ground-truth signatures via the (oracle-equivalent) numpy kernels."""
    pages, _, _ = corpus
    shingler = shingle_fn(CFG.shingle_mode, CFG.shingle_size)
    sets = [shingler(t) for t in pages["text"]]
    sk = min_sketch_batch(sets, CFG.minhash)
    return dict(zip(pages["url"], sketch_to_int(sk)))


@pytest.fixture(scope="module")
def oracle_pairs(corpus, local_sigs):
    """All pairs with estimated Jaccard ≥ threshold, by exhaustive O(n²)
    comparison of oracle signatures — the dup-pair recall gate."""
    pages, _, _ = corpus
    urls = list(pages["url"])
    S = np.stack([local_sigs[u] for u in urls])
    thr = CFG.jaccard_threshold
    out = set()
    block = 256
    for i0 in range(0, len(urls), block):
        A = S[i0 : i0 + block]
        eq = (A[:, None, :] == S[None, :, :]).mean(axis=2)
        for i, j in zip(*np.where(eq >= thr)):
            gi = i0 + i
            if gi < j:
                out.add(tuple(sorted((urls[gi], urls[j]))))
    return out


# cap overrides that force a path: "spark" fails the doc cap, "pair_cap" the
# bucket pair-row cap after the collect
_CAPS = {
    "local": {},
    "spark": {"_LOCAL_MAX_DOCS": 0},
    "pair_cap": {"_LOCAL_MAX_PAIR_ROWS": 1},
}


def _run(spark, df, out_dir, path, cfg=CFG):
    with pytest.MonkeyPatch.context() as mp:
        for name, value in _CAPS[path].items():
            mp.setattr(pipeline, name, value)
        return DedupPipeline(spark, cfg, out_dir).run(df)


def _metrics(out_dir, stage):
    with open(os.path.join(out_dir, "metrics", f"{stage}.jsonl")) as f:
        return json.loads(f.read().splitlines()[-1])


def _outputs(spark, out_dir):
    """Candidates as a set, pairs as a multiset, clusters as a dict."""
    read = lambda d: spark.read.parquet(os.path.join(out_dir, d)).collect()
    return (
        {tuple(r) for r in read("candidates")},
        Counter(tuple(r) for r in read("pairs")),
        {r["url"]: r["cluster_id"] for r in read("clusters")},
    )


@pytest.fixture(scope="module", params=["local", "spark"])
def result(request, spark, corpus, tmp_path_factory):
    pages, _, _ = corpus
    out_dir = str(tmp_path_factory.mktemp("pipe"))
    df = spark.createDataFrame(pages)
    res = _run(spark, df, out_dir, request.param)
    for stage in ("candidates", "pairs", "clusters"):
        assert _metrics(out_dir, stage)["path"] == request.param
    return res


def test_spark_signatures_match_oracle(spark, result, local_sigs):
    rows = spark.read.parquet(result.signatures_path).collect()
    assert len(rows) == N_PAGES
    for r in rows:
        # the pipeline stores signatures in the packed little-endian int32
        # representation; values must still match the oracle cell-for-cell
        got = np.frombuffer(bytes(r["minhash"]), dtype="<i4")
        assert np.array_equal(got, local_sigs[r["url"]]), r["url"]


def test_dup_pair_recall_and_precision(spark, result, oracle_pairs):
    got = {
        (r["url_a"], r["url_b"])
        for r in spark.read.parquet(result.pairs_path).collect()
    }
    assert oracle_pairs, "fixture must induce dup pairs"
    missed = oracle_pairs - got
    recall = 1 - len(missed) / len(oracle_pairs)
    assert recall >= 0.99, f"recall {recall}: missed {list(missed)[:5]}"
    # precision vs the same estimator: every reported pair must clear the
    # threshold on oracle signatures (verify uses identical sketches, so any
    # extra pair would mean a signature mismatch)
    assert got <= oracle_pairs


def test_verified_jaccard_values(spark, result, local_sigs):
    rows = spark.read.parquet(result.pairs_path).collect()
    size = CFG.minhash.sketch_size
    for r in rows[:200]:
        want = float(
            np.mean(np.array(local_sigs[r["url_a"]]) == np.array(local_sigs[r["url_b"]]))
        )
        assert abs(r["est_jaccard"] - want) < 1e-12


def test_clusters_match_local_union_find(spark, result):
    pairs = [
        (r["url_a"], r["url_b"])
        for r in spark.read.parquet(result.pairs_path).collect()
    ]
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)

    got = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(result.clusters_path).collect()
    }
    want = {u: find(u) for u in parent}
    assert got == want


def test_exact_clusters_fully_merged(spark, result, corpus):
    """Injected exact-dup clusters must land in one pipeline cluster each."""
    _, _, truth_clusters = corpus
    exact = truth_clusters[truth_clusters["kind"] == "exact"]
    assignments = {
        r["url"]: r["cluster_id"]
        for r in spark.read.parquet(result.clusters_path).collect()
    }
    for cid, grp in exact.groupby("cluster_id"):
        labels = {assignments.get(u) for u in grp["url"]}
        assert len(labels) == 1 and None not in labels, f"cluster {cid} split"


def test_word_shingle_mode_end_to_end(spark):
    """Word w-shingle mode drives the same pipeline (config knob from the
    FIXTURES spec: char 5-shingles default, word shingles optional)."""
    from minhash_spark.operators.signatures import signature_rows, with_minhash_signature
    from minhash_spark.operators.lsh import bands_table, candidate_pairs
    from minhash_spark.operators.verify import verify_pairs
    from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_int
    from minhash_spark.functions.shingles import word_shingles

    cfg = DedupConfig(shingle_mode="word", shingle_size=3)
    base = " ".join(f"w{i}" for i in range(100))
    near = base.replace("w5 ", "w5x ")
    far = " ".join(f"z{i}" for i in range(100))
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], ["url", "text"]
    )
    sigs = with_minhash_signature(df, cfg).select("url", "minhash")
    rows = {
        r["url"]: signature_rows([r["minhash"]], cfg.minhash.sketch_size)[0]
        for r in sigs.collect()
    }
    want = sketch_to_int(min_sketch_batch([word_shingles(base, 3)], cfg.minhash))[0]
    assert np.array_equal(rows["a"], want)
    got = verify_pairs(
        candidate_pairs(bands_table(sigs, cfg), cfg), sigs, cfg, threshold=0.8
    ).collect()
    assert {(r["url_a"], r["url_b"]) for r in got} == {("a", "b")}


def test_mega_bucket_star_fallback_keeps_cluster_connected(spark):
    """Buckets beyond max_bucket_size switch to O(m) star enumeration — a
    mega near-dup cluster (here: 40 identical docs with cap 5) must still
    come out as ONE cluster, not be dropped by the skew cap."""
    import dataclasses

    from minhash_spark.operators.signatures import with_minhash_signature
    from minhash_spark.operators.lsh import bands_table, candidate_pairs
    from minhash_spark.operators.verify import verify_pairs
    from minhash_spark.operators.cluster import connected_components

    cfg = dataclasses.replace(CFG, max_bucket_size=5, salted_bucket_max=10)
    text = " ".join(f"mega{i}" for i in range(80))
    rows = [(f"u{i:03d}", text) for i in range(40)]
    df = spark.createDataFrame(rows, ["url", "text"])
    sigs = with_minhash_signature(df, cfg).select("url", "minhash")
    pairs = candidate_pairs(bands_table(sigs, cfg), cfg)
    verified = verify_pairs(pairs, sigs, cfg)
    clusters = connected_components(verified).collect()
    assert len(clusters) == 40
    assert {r["cluster_id"] for r in clusters} == {"u000"}
    # and the pair count is O(m), not O(m²): star emits m-1 edges
    assert verified.count() == 39


def test_resume_skips_completed_partitions(spark, corpus, tmp_path_factory):
    """Partial signature run + resume == fresh full run; the resumed run
    processes only the missing ds partitions (per-partition lineage)."""
    pages, _, _ = corpus
    out_dir = str(tmp_path_factory.mktemp("resume"))
    df = spark.createDataFrame(pages).withColumn(
        "ds", F.date_format("warc_ts", "yyyy-MM-dd")
    )
    all_ds = sorted(r["ds"] for r in df.select("ds").distinct().collect())
    assert len(all_ds) >= 2
    head_ds = all_ds[: len(all_ds) // 2]

    pipe = DedupPipeline(spark, CFG, out_dir)
    pipe.compute_signatures(df.where(F.col("ds").isin(head_ds)))
    n_head = spark.read.parquet(f"{out_dir}/signatures").count()
    assert 0 < n_head < N_PAGES

    pipe.compute_signatures(df)  # resume: should only process the tail
    sigs = spark.read.parquet(f"{out_dir}/signatures")
    assert sigs.count() == N_PAGES
    assert sigs.select("url").distinct().count() == N_PAGES

    import json, os

    with open(os.path.join(out_dir, "metrics", "signatures.jsonl")) as f:
        runs = [json.loads(line) for line in f]
    assert runs[1]["docs_processed"] == N_PAGES - n_head
    assert runs[1]["resumed_partitions"] == len(head_ds)


def test_spark_submit_pyfiles_deployment(tmp_path_factory):
    """The north-rule deployment shape: run the pipeline via spark-submit
    --py-files from OUTSIDE the repo — driver and executors import
    minhash_spark from the zip, not from a checkout."""
    import json
    import os
    import shutil
    import subprocess
    import sys
    import zipfile

    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = tmp_path_factory.mktemp("submit")
    # package zip + entry script copied out of the repo
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import build_pyfiles_zip

    zip_path = str(base / "minhash_spark.zip")
    modules = sorted(
        os.path.relpath(os.path.join(d, f), repo)
        for d, _, files in os.walk(os.path.join(repo, "minhash_spark"))
        for f in files
        if f.endswith(".py")
    )
    assert build_pyfiles_zip.build(zip_path) == len(modules)
    assert sorted(zipfile.ZipFile(zip_path).namelist()) == modules
    shutil.copy(os.path.join(repo, "scripts", "run_pipeline.py"), base)

    pages, _, _ = generate_corpus(60, seed=21)
    pages_dir = str(base / "pages")
    # write the input with a throwaway local session (pandas → parquet
    # would need pyarrow dataset layout; reuse the repo writer)
    from minhash_spark.session import get_spark
    from minhash_spark.sources.pages import write_pages

    write_pages(get_spark(master="local[2]"), pages, pages_dir)

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only package source
    out = subprocess.run(
        [
            submit,
            "--master",
            "local[2]",
            "--py-files",
            "minhash_spark.zip",
            "run_pipeline.py",
            "--input",
            "pages",
            "--output",
            "out",
        ],
        cwd=str(base),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["n_clustered_docs"] > 0 and result["n_pairs"] > 0


def test_resume_refuses_legacy_array_signature_format(
    spark, corpus, tmp_path_factory
):
    """ADVICE r4 (medium): resuming into a signatures dir written by the
    pre-packed build (minhash as array<int>) must FAIL FAST, not append a
    second incompatible parquet schema for the same column."""
    pages, _, _ = corpus
    out_dir = str(tmp_path_factory.mktemp("legacyfmt"))
    df = spark.createDataFrame(pages).withColumn(
        "ds", F.date_format("warc_ts", "yyyy-MM-dd")
    )
    some_ds = df.select("ds").distinct().limit(1).collect()[0]["ds"]
    # simulate a legacy partial run: array<int> minhash column
    legacy = (
        df.where(F.col("ds") == some_ds)
        .select("url", "ds")
        .withColumn("minhash", F.array(F.lit(1), F.lit(2)))
    )
    legacy.write.partitionBy("ds").parquet(f"{out_dir}/signatures")

    pipe = DedupPipeline(spark, CFG, out_dir)
    with pytest.raises(ValueError, match="packed 'binary'"):
        pipe.compute_signatures(df)
    # nothing was appended: the legacy dir still holds only the legacy rows
    got = spark.read.parquet(f"{out_dir}/signatures")
    assert got.schema["minhash"].dataType.simpleString() != "binary"


def test_staged_candidates_materialized_and_consistent(spark, result):
    """Both paths materialize the candidate set (on the Spark path as its
    own job, the scratch-bounding split — pipeline.py module docstring):
    candidates/ must exist in out_dir and the verified pair set must be a
    subset of it."""
    import os

    cand_path = os.path.join(result.out_dir, "candidates")
    assert os.path.exists(os.path.join(cand_path, "_SUCCESS"))
    cands = {
        (r["url_a"], r["url_b"])
        for r in spark.read.parquet(cand_path).collect()
    }
    pairs = {
        (r["url_a"], r["url_b"])
        for r in spark.read.parquet(result.pairs_path).collect()
    }
    assert pairs and pairs <= cands


@pytest.mark.parametrize("path", ["local", "spark"])
def test_pipeline_mega_bucket_star_pairs(spark, tmp_path, path):
    """40 identical docs with max_bucket_size=5 and salted_bucket_max=10:
    every band bucket takes the star tier, so the run verifies the 39
    (u000, other) pairs and returns one cluster, on both paths."""
    cfg = dataclasses.replace(CFG, max_bucket_size=5, salted_bucket_max=10)
    text = " ".join(f"mega{i}" for i in range(80))
    rows = [(f"u{i:03d}", "2024-01-01", text) for i in range(40)]
    df = spark.createDataFrame(rows, ["url", "ds", "text"])
    out = str(tmp_path)
    _run(spark, df, out, path, cfg)
    cands, pairs, clusters = _outputs(spark, out)
    want = {("u000", f"u{i:03d}") for i in range(1, 40)}
    assert cands == want
    assert set(pairs) == {(a, b, 1.0) for a, b in want} and sum(pairs.values()) == 39
    assert clusters == {f"u{i:03d}": "u000" for i in range(40)}
    m = _metrics(out, "candidates")
    assert m["path"] == path
    assert (m["max_bucket"], m["n_capped_buckets"], m["docs_in_capped_buckets"]) == (
        40, cfg.bands, 40 * cfg.bands
    )
    assert _metrics(out, "clusters")["n_edges"] == 39


@pytest.fixture(scope="module")
def edge_corpus(spark):
    """Near-copies of one text under urls whose UTF-8 byte order differs
    from their UTF-16 order (U+FF41 sorts after U+1F600 in UTF-16), one url
    crawled on two days with two texts (two signature rows), a null url with
    the same text, and an unrelated page."""
    words = [f"w{i}" for i in range(120)]
    text = lambda i: " ".join(words[:i] + [f"edit{i}"] + words[i + 1 :])
    rows = [
        ("http://a.example/\U0001f600", "2024-01-01", text(3)),
        ("http://a.example/\uff41", "2024-01-01", text(7)),
        ("http://a.example/é", "2024-01-01", text(11)),
        ("http://a.example/z", "2024-01-01", text(15)),
        ("http://a.example/twice", "2024-01-01", text(19)),
        ("http://a.example/twice", "2024-01-02", text(23)),
        (None, "2024-01-02", text(3)),
        ("http://a.example/other", "2024-01-02", " ".join(f"x{i}" for i in range(90))),
    ]
    return spark.createDataFrame(rows, "url string, ds string, text string")


def test_paths_agree_on_duplicate_null_and_non_ascii_urls(spark, edge_corpus, tmp_path):
    got = {}
    for path in ("local", "spark"):
        out = str(tmp_path / path)
        _run(spark, edge_corpus, out, path)
        assert _metrics(out, "pairs")["path"] == path
        got[path] = _outputs(spark, out)
    assert got["local"] == got["spark"]
    cands, pairs, clusters = got["local"]
    # the url with two signature rows verifies once per row against a peer
    per_pair = Counter((a, b) for a, b, _ in pairs.elements())
    assert {n for p, n in per_pair.items() if "http://a.example/twice" in p} == {2}
    assert {n for p, n in per_pair.items() if "http://a.example/twice" not in p} == {1}
    assert None not in clusters and "http://a.example/other" not in clusters
    # cluster ids are the byte-order minimum url of the component
    assert set(clusters.values()) == {"http://a.example/twice"}


def test_pair_cap_hands_off_to_spark(spark, edge_corpus, tmp_path):
    got = {}
    for path in ("local", "pair_cap"):
        out = str(tmp_path / path)
        _run(spark, edge_corpus, out, path)
        got[path] = _outputs(spark, out)
        want = "local" if path == "local" else "spark"
        for stage in ("candidates", "pairs", "clusters"):
            assert _metrics(out, stage)["path"] == want
    assert got["local"] == got["pair_cap"] and got["local"][1]


def _run_jobs(spark, df, out_dir):
    """Run the pipeline; return its Spark job ids, the physical plans of
    those of its SQL executions that evaluate Python, and the job ids that
    ran inside a SQL execution."""
    sc = spark.sparkContext
    sc.setJobGroup("pipeline-run", "pipeline-run")
    try:
        DedupPipeline(spark, CFG, out_dir).run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pipeline-run")
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    python, in_sql = [], set()
    for i in range(executions.size()):
        e = executions.apply(i)
        plan = e.physicalPlanDescription()
        mine = {j for j in jobs if e.jobs().contains(j)}
        in_sql |= mine
        if mine and "EvalPython" in plan:
            python.append(plan)
    return jobs, python, in_sql


def test_local_path_job_count(spark, tmp_path):
    """A local-path run of a corpus under the driver's signing caps is at
    most 2 Spark jobs, the collects of its text lengths and of its rows (34
    when every stage ran on Spark), and evaluates no Python."""
    pages, _, _ = generate_corpus(120, seed=9)
    jobs, python, in_sql = _run_jobs(spark, spark.createDataFrame(pages), str(tmp_path))
    assert _metrics(str(tmp_path), "signatures")["path"] == "local"
    assert _metrics(str(tmp_path), "pairs")["path"] == "local"
    assert 0 < len(jobs) <= 2, len(jobs)
    assert python == []
    # nothing reads the signatures back, so Spark runs no schema-inference
    # job over the footers: that job ran outside any SQL execution
    assert sorted(in_sql) == sorted(jobs), (sorted(jobs), sorted(in_sql))


def test_udf_signed_local_path_job_count(spark, monkeypatch, tmp_path):
    """Over the driver's text-byte cap, the signature UDF signs and the
    local path reads the signatures back: at most 8 Spark jobs, the UDF is
    the only Python they evaluate, and the read takes the known schema."""
    monkeypatch.setattr(signatures, "_LOCAL_MAX_SIGN_BYTES", 0)
    pages, _, _ = generate_corpus(120, seed=9)
    jobs, python, in_sql = _run_jobs(spark, spark.createDataFrame(pages), str(tmp_path))
    assert _metrics(str(tmp_path), "signatures")["path"] == "spark"
    assert _metrics(str(tmp_path), "pairs")["path"] == "local"
    assert 0 < len(jobs) <= 8, len(jobs)
    assert len(python) == 1 and "_sig_packed" in python[0]
    # the local path reads the signatures with their schema, so Spark runs
    # no schema-inference job over the footers: that job ran outside any
    # SQL execution, and was the run's only one
    assert sorted(in_sql) == sorted(jobs), (sorted(jobs), sorted(in_sql))


# -- driver-signed signature stage -------------------------------------------


@pytest.fixture(scope="module")
def ds_corpus(spark):
    """200 pages spread over four ds values by url."""
    pages, _, _ = generate_corpus(200, seed=17)
    day = (F.abs(F.crc32("url")) % 4 + 1).cast("string")
    return (
        spark.createDataFrame(pages)
        .select("url", "text")
        .withColumn("ds", F.concat(F.lit("2024-01-0"), day))
    )


def _sign(spark, df, out_dir, signer, monkeypatch, run=False):
    """compute_signatures (or the whole run) with the driver signing
    ("driver") or the UDF ("udf")."""
    with monkeypatch.context() as mp:
        if signer == "udf":
            mp.setattr(signatures, "_LOCAL_MAX_SIGN_BYTES", 0)
        pipe = DedupPipeline(spark, CFG, out_dir)
        if run:
            pipe.run(df)
        else:
            pipe.compute_signatures(df)
    assert _metrics(out_dir, "signatures")["path"] == ("local" if signer == "driver" else "spark")


def _sig_rows(spark, out_dir):
    """The signature rows (url, ds, minhash) as read by Spark and by
    pyarrow, each as a multiset."""
    path = os.path.join(out_dir, "signatures")
    by_spark = Counter(
        (r["url"], None if r["ds"] is None else str(r["ds"]), bytes(r["minhash"]))
        for r in spark.read.parquet(path).collect()
    )
    tbl = pq.read_table(path)
    by_arrow = Counter(
        zip(
            tbl["url"].to_pylist(),
            [None if d is None else str(d) for d in tbl["ds"].to_pylist()],
            tbl["minhash"].to_pylist(),
        )
    )
    return by_spark, by_arrow


def test_driver_and_udf_signatures_equal(spark, ds_corpus, monkeypatch, tmp_path):
    """The driver writes the rows and ds partitions the UDF path writes, as
    read back by Spark and by pyarrow, also for a null ds and a ds that
    Spark escapes in the directory name."""
    ds = F.col("ds")
    odd = F.when(ds.endswith("3"), "a/b:c%").when(ds.endswith("4"), F.lit(None)).otherwise(ds)
    df = ds_corpus.withColumn("ds", odd)
    got = {}
    for signer in ("driver", "udf"):
        out = str(tmp_path / signer)
        _sign(spark, df, out, signer, monkeypatch)
        dirs = sorted(d for d in os.listdir(os.path.join(out, "signatures")) if d.startswith("ds="))
        got[signer] = (_sig_rows(spark, out), dirs)
    (by_spark, by_arrow), dirs = got["driver"]
    assert got["driver"] == got["udf"]
    assert by_spark == by_arrow and sum(by_spark.values()) == 200
    assert "ds=__HIVE_DEFAULT_PARTITION__" in dirs and "ds=a%2Fb%3Ac%25" in dirs


@pytest.mark.parametrize("signer", ["driver", "udf"])
def test_resume_signs_and_skips_null_and_empty_ds(spark, ds_corpus, monkeypatch, tmp_path, signer):
    """A resume over committed partitions that all look like dates signs
    the rows of a null or empty ds (both stored under
    ds=__HIVE_DEFAULT_PARTITION__), and the next resume skips them."""
    ds = F.col("ds")
    df = ds_corpus.withColumn(
        "ds", F.when(ds.endswith("4"), F.lit(None)).when(ds.endswith("3"), "").otherwise(ds)
    )
    out = str(tmp_path)
    dated = df.where(ds != "")
    n_dated = dated.count()
    _sign(spark, dated, out, signer, monkeypatch)
    for todo in (200 - n_dated, 0):
        with monkeypatch.context() as mp:
            if signer == "udf":
                mp.setattr(signatures, "_LOCAL_MAX_SIGN_BYTES", 0)
            DedupPipeline(spark, CFG, out).compute_signatures(df)
        assert _metrics(out, "signatures")["docs_processed"] == todo
    assert _metrics(out, "signatures")["resumed_partitions"] == 3
    by_spark, by_arrow = _sig_rows(spark, out)
    assert by_spark == by_arrow and sum(by_spark.values()) == 200
    assert sorted(os.listdir(os.path.join(out, "signatures")))[-1] == "ds=__HIVE_DEFAULT_PARTITION__"


def _head(df):
    """The rows of df's first two ds values."""
    all_ds = sorted(r["ds"] for r in df.select("ds").distinct().collect())
    return df.where(F.col("ds").isin(all_ds[:2]))


@pytest.fixture(scope="module")
def fresh_run(spark, ds_corpus, tmp_path_factory):
    """One uninterrupted run over ds_corpus: its signature rows and
    outputs."""
    out = str(tmp_path_factory.mktemp("fresh"))
    DedupPipeline(spark, CFG, out).run(ds_corpus)
    assert _metrics(out, "signatures")["path"] == "local"
    return _sig_rows(spark, out)[0], _outputs(spark, out)


@pytest.mark.parametrize("head,tail", [("udf", "driver"), ("driver", "udf")])
def test_mixed_resume_equals_fresh_run(spark, ds_corpus, fresh_run, monkeypatch, tmp_path, head, tail):
    """Signing the first ds partitions with one signer and resuming over
    the whole corpus with the other gives the rows and outputs of one
    fresh run; the resume signs only the missing partitions."""
    head_df = _head(ds_corpus)
    out = str(tmp_path)
    _sign(spark, head_df, out, head, monkeypatch)
    n_head = head_df.count()
    _sign(spark, ds_corpus, out, tail, monkeypatch, run=True)
    m = _metrics(out, "signatures")
    assert (m["docs_processed"], m["resumed_partitions"]) == (200 - n_head, 2)
    assert (_sig_rows(spark, out)[0], _outputs(spark, out)) == fresh_run


@pytest.mark.parametrize("append", [False, True])
def test_crash_between_partitions_then_resume(spark, ds_corpus, fresh_run, monkeypatch, tmp_path, append):
    """A crash after the driver wrote one ds file of a run leaves only
    whole partitions (the unfinished file keeps a hidden name both readers
    skip), and a resume then equals a fresh run. Without a committed head
    the crashed run left no _SUCCESS, so the resume starts over."""
    head_df = _head(ds_corpus)
    out = str(tmp_path)
    if append:
        _sign(spark, head_df, out, "driver", monkeypatch)
    replace = os.replace
    calls = []

    def crash_on_second(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("injected crash")
        replace(src, dst)

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", crash_on_second)
        with pytest.raises(OSError, match="injected crash"):
            DedupPipeline(spark, CFG, out).compute_signatures(ds_corpus)
    sig_dir = os.path.join(out, "signatures")
    assert os.path.exists(os.path.join(sig_dir, "_SUCCESS")) == append
    fresh_sigs = fresh_run[0]
    by_spark, by_arrow = _sig_rows(spark, out)
    assert by_spark == by_arrow
    written = {ds for _, ds, _ in by_spark}
    assert len(written) == (3 if append else 1)
    # every visible partition holds exactly the fresh run's rows of its ds
    assert by_spark == Counter({r: n for r, n in fresh_sigs.items() if r[1] in written})
    hidden = [
        f for d in os.listdir(sig_dir) if d.startswith("ds=")
        for f in os.listdir(os.path.join(sig_dir, d)) if f.startswith(".")
    ]
    assert len(hidden) == 1 and hidden[0].endswith(".tmp")

    DedupPipeline(spark, CFG, out).run(ds_corpus)
    assert (_sig_rows(spark, out)[0], _outputs(spark, out)) == fresh_run


@pytest.mark.parametrize("stage", ["candidates", "pairs", "clusters"])
@pytest.mark.parametrize("path", ["local", "spark"])
def test_crash_before_success_then_rerun(spark, ds_corpus, fresh_run, tmp_path, path, stage):
    """A run that dies after a stage's data files exist but before its
    _SUCCESS leaves the stage unmarked, and running the pipeline again gives
    the outputs of a fresh run with no file of the crashed attempt left in
    the stage. The local path dies opening the stage's _SUCCESS; on the
    Spark path the stage's write commits its files, and the crash removes
    the _SUCCESS of that commit."""
    out = str(tmp_path)
    target = os.path.join(out, stage)
    mark = os.path.join(target, "_SUCCESS")

    def open_(file, *args, **kwargs):
        if file == mark:
            raise OSError("injected crash")
        return open(file, *args, **kwargs)

    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if path == target:
            os.remove(mark)
            raise OSError("injected crash")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pipeline, "open", open_, raising=False)
        mp.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(OSError, match="injected crash"):
            _run(spark, ds_corpus, out, path)
    crashed = [os.path.join(target, f) for f in os.listdir(target)]
    assert any(f.endswith(".parquet") for f in crashed) and not os.path.exists(mark)
    # stamp the crashed attempt's files: a rewritten file gets a new mtime
    for f in crashed:
        os.utime(f, ns=(0, 0))

    _run(spark, ds_corpus, out, path)
    assert _metrics(out, stage)["path"] == path
    assert _outputs(spark, out) == fresh_run[1]
    left = [f for f in os.listdir(target) if os.stat(os.path.join(target, f)).st_mtime_ns == 0]
    assert left == [], left


@pytest.mark.parametrize("over", [None, "_LOCAL_MAX_DOCS", "_LOCAL_MAX_SIGN_BYTES"])
def test_no_text_to_the_driver_above_the_signing_caps(spark, ds_corpus, monkeypatch, tmp_path, over):
    """A corpus over the row cap or the text-byte cap brings only its text
    lengths to the driver and is signed by the UDF; a corpus under both
    caps brings its texts and is signed on the driver."""
    if over:
        monkeypatch.setattr(signatures if over == "_LOCAL_MAX_SIGN_BYTES" else pipeline, over, 0)
    seen = []
    cls = type(ds_corpus)
    to_arrow = cls.toArrow
    monkeypatch.setattr(cls, "toArrow", lambda self: seen.append(to_arrow(self)) or seen[-1])
    DedupPipeline(spark, CFG, str(tmp_path)).run(ds_corpus)
    m = _metrics(str(tmp_path), "signatures")
    assert m["path"] == ("local" if over is None else "spark")
    assert m["docs_processed"] == 200
    cols = [t.schema.names for t in seen]
    assert cols[0] == ds_corpus.select(F.octet_length("text")).columns
    assert any("text" in c for c in cols) == (over is None), cols
