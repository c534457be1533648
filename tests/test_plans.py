"""Plan-quality tests: the properties that matter at 100 TB, pinned so they
can't silently regress — column pruning reaching the scan (never read html
for a text-only stage), partition pruning on ds, JVM-only verification and
banding (no Python), broadcast where intended."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from minhash_spark import oracle
from minhash_spark.config import DedupConfig
from minhash_spark.operators.lsh import bands_table, candidate_pairs
from minhash_spark.operators.verify import estimate_jaccard_udf, verify_pairs
from minhash_spark.operators.signatures import packed_rows, with_minhash_signature
from minhash_spark.plans import plan_report
from minhash_spark.sources.pages import generate_corpus, write_pages, read_pages


CFG = DedupConfig()
# one packed 128-cell signature (cells 0..127)
SIG = packed_rows(np.arange(128, dtype=np.int32)[None, :])[0]


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    pages, _, _ = generate_corpus(300, seed=5)
    path = str(tmp_path_factory.mktemp("pages_plan") / "pages")
    write_pages(spark, pages, path)
    return path


def test_scan_never_reads_html_for_text_stage(spark, pages_path):
    df = read_pages(spark, pages_path).select("url", "text")
    sigs = with_minhash_signature(df, CFG).select("url", "minhash")
    rep = plan_report(sigs)
    assert rep.read_schemas, rep.text
    for schema in rep.read_schemas:
        assert "html" not in schema, f"scan reads html: {schema}"
        assert "text" in schema


def test_partition_pruning_on_ds(spark, pages_path):
    df = read_pages(spark, pages_path)
    one_day = df.where(F.col("ds") == "2026-01-01").select("url")
    rep = plan_report(one_day)
    assert any("ds" in f for f in rep.partition_filters), rep.text


def test_predicate_pushdown_to_scan(spark, pages_path):
    df = read_pages(spark, pages_path).where(F.col("lang") == "en").select("url")
    rep = plan_report(df)
    assert any("lang" in f for f in rep.pushed_filters), rep.text


def test_banding_and_candidates_are_jvm_only(spark):
    sigs = spark.createDataFrame(
        [(f"u{i}", SIG) for i in range(10)], ["url", "minhash"]
    )
    cands = candidate_pairs(bands_table(sigs, CFG), CFG)
    rep = plan_report(cands)
    assert not rep.has_python, rep.python_stages


def test_candidate_enumeration_has_no_object_hash_aggregate(spark):
    """The bucket sizing must stay a streaming window aggregate: an
    ObjectHashAggregate (collect_list member arrays) regressed scaling —
    its GC share grew with core count (2% → 21% of task time from 2 to 32
    cores) and hot buckets would OOM at corpus scale."""
    sigs = spark.createDataFrame(
        [(f"u{i}", SIG) for i in range(10)], ["url", "minhash"]
    )
    cands = candidate_pairs(bands_table(sigs, CFG), CFG)
    rep = plan_report(cands)
    assert "ObjectHashAggregate" not in rep.text
    assert "Window" in rep.text  # the count/min bucket window


def test_verify_joins_are_hash_not_sort_merge(spark, tmp_path):
    """The signature-attach joins must not sort the wide signature rows —
    broadcast when a side fits, shuffled-hash otherwise. The strategy is now
    chosen from sizes (session conf: preferSortMergeJoin=false + the AQE
    SMJ→SHJ local-map threshold) instead of a per-join hint, so the inputs
    here go through parquet to carry real size statistics (createDataFrame
    RDDs have none — 8 EiB — and would show a pre-AQE sort-merge that the
    runtime then rewrites)."""
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert (
        int(spark.conf.get("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold"))
        > 0
    )
    spark.createDataFrame(
        [(f"u{i}", SIG) for i in range(300)], ["url", "minhash"]
    ).write.parquet(str(tmp_path / "sigs"))
    spark.createDataFrame(
        [("u1", "u2"), ("u3", "u4")], ["url_a", "url_b"]
    ).write.parquet(str(tmp_path / "pairs"))
    sigs = spark.read.parquet(str(tmp_path / "sigs"))
    pairs = spark.read.parquet(str(tmp_path / "pairs"))
    rep = plan_report(verify_pairs(pairs, sigs, CFG))
    assert "SortMergeJoin" not in rep.text, rep.joins


def test_verify_python_is_arrow_only(spark):
    """Verification crosses to Python exactly once, through Arrow — never
    row-at-a-time BatchEvalPython."""
    sigs = spark.createDataFrame(
        [(f"u{i}", SIG) for i in range(10)], ["url", "minhash"]
    )
    pairs = spark.createDataFrame([("u1", "u2")], ["url_a", "url_b"])
    rep = plan_report(verify_pairs(pairs, sigs, CFG))
    assert rep.python_stages and set(rep.python_stages) == {"ArrowEvalPython"}, (
        rep.python_stages
    )
    assert "BatchEvalPython" not in rep.text


def test_jvm_estimator_expression_matches_udf(spark):
    """The Arrow estimator over packed signatures agrees exactly with the
    serial oracle's `query`."""
    cells = {
        "a": (list(range(128)), list(range(128))),
        "b": (list(range(128)), [0, 1] + [999] * 126),
        "c": ([7] * 128, [7] * 64 + [8] * 64),
    }
    S = {k: np.array(v, dtype=np.int32) for k, v in cells.items()}
    df = spark.createDataFrame(
        [(k, *packed_rows(np.stack(S[k]))) for k in cells], ["k", "s1", "s2"]
    )
    out = df.select(
        "k", estimate_jaccard_udf(128)(F.col("s1"), F.col("s2")).alias("arrow")
    ).collect()
    got = {r["k"]: r["arrow"] for r in out}
    assert got == {k: oracle.query(*S[k]) for k in cells}
    assert got == {"a": 1.0, "b": 2 / 128, "c": 0.5}


def test_packed_path_stays_jvm_and_hash_joined(spark):
    """Signatures straight from the UDF keep every plan property:
    banding/candidates JVM-only (binary substring slices stay in codegen),
    verify joins hash not sort-merge, Python crossing Arrow-only."""
    texts = [(i, f"document number {i} with some shared tokens alpha beta") for i in range(20)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = with_minhash_signature(df, CFG).select("doc_id", "minhash")
    # force the sig column through a materialized boundary so the banding
    # plan below contains no Python from the signature UDF itself
    sigs = spark.createDataFrame(sigs.collect(), sigs.schema)
    assert dict(sigs.dtypes)["minhash"] == "binary"

    cands = candidate_pairs(bands_table(sigs, CFG, id_col="doc_id"), CFG, id_col="doc_id")
    rep = plan_report(cands)
    assert not rep.has_python, rep.python_stages
    assert "ObjectHashAggregate" not in rep.text

    # isolate the verify joins from the candidate enumeration (whose
    # small-tier self-join legitimately reuses the bucket window's sort);
    # route both verify inputs through parquet so they carry size stats and
    # the size-based join planning (see test_verify_joins_are_hash_not_
    # sort_merge) can resolve pre-AQE
    import tempfile, os

    tdir = tempfile.mkdtemp(prefix="plans_packed_")
    cands.write.parquet(os.path.join(tdir, "pairs"))
    sigs.write.parquet(os.path.join(tdir, "sigs"))
    pairs = spark.read.parquet(os.path.join(tdir, "pairs"))
    sigs_p = spark.read.parquet(os.path.join(tdir, "sigs"))
    rep2 = plan_report(verify_pairs(pairs, sigs_p, CFG, id_col="doc_id"))
    assert "SortMergeJoin" not in rep2.text, rep2.joins
    assert set(rep2.python_stages) == {"ArrowEvalPython"}, rep2.python_stages
