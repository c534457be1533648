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
from pyspark.sql import functions as F

from minhash_spark import pipeline
from minhash_spark.config import DedupConfig, MinHashConfig
from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_int
from minhash_spark.functions.shingles import shingle_fn
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

    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = tmp_path_factory.mktemp("submit")
    # package zip + entry script copied out of the repo
    sys.path.insert(0, os.path.join(repo, "scripts"))
    import build_pyfiles_zip

    zip_path = str(base / "minhash_spark.zip")
    assert build_pyfiles_zip.build(zip_path) > 30
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


def test_local_path_job_count(spark, tmp_path):
    """A local-path run is at most 8 Spark jobs (34 when every stage ran on
    Spark), and the signature UDF is the only Python it evaluates."""
    sc = spark.sparkContext
    pages, _, _ = generate_corpus(120, seed=9)
    df = spark.createDataFrame(pages)
    sc.setJobGroup("local-run", "local-run")
    try:
        DedupPipeline(spark, CFG, str(tmp_path)).run(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("local-run")
    assert _metrics(str(tmp_path), "pairs")["path"] == "local"
    assert 0 < len(jobs) <= 8, len(jobs)
    # the SQL executions of those jobs whose plan evaluates Python
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    python, in_sql = [], set()
    for i in range(executions.size()):
        e = executions.apply(i)
        plan = e.physicalPlanDescription()
        mine = {j for j in jobs if e.jobs().contains(j)}
        in_sql |= mine
        if mine and "EvalPython" in plan:
            python.append(plan)
    assert len(python) == 1 and "_sig_packed" in python[0]
    # the local path reads the signatures with their schema, so Spark runs
    # no schema-inference job over the footers: that job ran outside any
    # SQL execution, and was the run's only one
    assert sorted(in_sql) == sorted(jobs), (sorted(jobs), sorted(in_sql))
