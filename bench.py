"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value" (total seconds), "unit": "sec",
"queries": {name: sec}, "sf", plus throughput fields}.

The dedup workload amplifies the documents table ×AMPLIFY with perturbed
replicas (replica i appends two marker tokens → near-dup with est_jaccard
≈0.97, exercising the full signature → LSH → verify → cluster path at
realistic similarity rather than degenerate exact copies).

Scaling evidence (north rule: ≥0.8 efficiency between N and 4N executors):
run scripts/bench_scaling.py, which executes this file at SPARK_GRAFT_CPUS=8
and =32 on identical input and reports throughput at both.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.operators.cluster import connected_components
from minhash_spark.operators.simhash import with_simhash, simhash_candidates
from minhash_spark.operators.substring import substring_dedup
from minhash_spark.operators.text import token_count
from minhash_spark.queries import CFG

AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "20"))


N_CLONES = 5  # near-dup cluster size in the amplified corpus


def amplified_docs(spark, sf_dir, amplify: int | None = None):
    """Deterministic corpus amplifier: each source doc becomes
    amplify/N_CLONES distinct "mutations" — 2/3 of token positions replaced
    in place by (doc, mutation)-unique tokens, so mutations of one base
    share ~1/3 scattered vocabulary (realistic hard negatives, J ≈ 0.2-0.3,
    below threshold, and no contiguous shared block that would make whole
    band slices collide corpus-wide) — each mutation cloned N_CLONES times
    with a tiny suffix edit (within-cluster Jaccard ≈ 0.97 — a true near-dup
    cluster). Ground truth: every 5-clone group is one cluster; nothing
    merges across groups."""
    amplify = AMPLIFY if amplify is None else amplify
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    reps = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(amplify - 1))).alias("rep"),
        "doc_id",
        "text",
    )
    # the source parquet is a handful of splits; spread the amplified corpus
    # across all cores before the UDF stage (real corpora get this from
    # parquet splits for free)
    reps = reps.repartition(2 * default_parallelism())
    mut = (F.col("rep") / N_CLONES).cast("int")
    clone = F.col("rep") % N_CLONES
    # Replacement tokens are compact and (doc, mutation)-unique, unique part
    # leading ("48213x17") so shingles share no corpus-wide prefixes. Built
    # via withColumn BEFORE the shifted-id select — Spark 4 lateral column
    # aliases would otherwise resolve `doc_id` inside the expression to the
    # shifted value, giving every clone a different mutation.
    salt = F.pmod(F.xxhash64(F.col("doc_id"), mut), F.lit(100000)).cast("string")
    toks = F.split(F.col("text"), " ")
    mutated = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.size(toks)),
            lambda t, i: F.when(
                F.pmod(i + mut, F.lit(3)) != 0,
                F.concat(salt, F.lit("x"), i.cast("string")),
            ).otherwise(t),
        ),
        " ",
    )
    amplified = reps.withColumn(
        "_amp_text",
        F.concat(mutated, F.lit(" clonevariant"), clone.cast("string")),
    )
    return amplified.select(
        # rep must widen to long BEFORE the multiply: at amplify ≥ 215 the
        # int32 product overflows, which ANSI mode (Spark 4 default) raises
        (F.col("doc_id") + F.col("rep").cast("long") * F.lit(10_000_000)).alias(
            "doc_id"
        ),
        F.col("_amp_text").alias("text"),
    )


# tmpfs: /tmp is a virtio disk on this box and serializes large reads.
# Bump CORPUS_VERSION whenever amplified_docs' construction changes; the
# source parquet's own changes are caught by _source_digest.
CORPUS_VERSION = 1
CORPUS_CACHE = "/dev/shm/bench_corpus"


def _source_digest(sf_dir: str) -> str:
    """A digest of the size and mtime_ns of every file of the source
    documents.parquet, so a changed testdata directory of the same name
    gets a new cache key."""
    src = os.path.join(sf_dir, "documents.parquet")
    files = [src] if os.path.isfile(src) else sorted(
        f for f in glob.glob(os.path.join(src, "**"), recursive=True) if os.path.isfile(f)
    )
    h = hashlib.sha1()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, src)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def corpus_parquet(spark, sf_dir, amplify: int | None = None):
    """The amplified benchmark corpus, materialized to parquet ONCE per
    (version, sf, amplify, source digest) and read from storage by every
    timed pipeline — the shape of a real run (pipelines scan a corpus table;
    they don't synthesize it), and the timed number measures the engine, not
    the generator.

    The cache stays in /dev/shm after the run and is reused by later runs
    with the same key. Writing a new one first removes every other
    bench_corpus_v* directory, so shared memory holds one corpus at a time
    (two concurrent benches with different keys would remove each other's)."""
    amplify = AMPLIFY if amplify is None else amplify
    path = (
        f"{CORPUS_CACHE}_v{CORPUS_VERSION}_"
        f"{os.path.basename(sf_dir.rstrip('/'))}_{amplify}_{_source_digest(sf_dir)}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        for old in glob.glob(f"{CORPUS_CACHE}_v*"):
            if old != path:
                shutil.rmtree(old, ignore_errors=True)
        amplified_docs(spark, sf_dir, amplify).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def bench_dedup_minhash(spark, sf_dir) -> tuple[float, int, float, float]:
    docs = corpus_parquet(spark, sf_dir)
    n_docs = docs.count()  # materialization outside the timed region
    t0 = time.time()
    sigs = with_minhash_signature(docs, CFG).select("doc_id", "minhash")
    sigs = sigs.persist()
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    # materialize stage outputs like the real pipeline does (parquet between
    # stages) so connected components doesn't re-derive the whole lineage
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id").persist()
    clusters = connected_components(verified)
    n_clustered = clusters.count()
    dt = time.time() - t0
    # dup-pair recall against the corpus ground truth (north rule ≥ 0.99):
    # every within-mutation clone pair (same base doc, same rep // N_CLONES)
    # is a true near-dup pair; recall = found / C(N_CLONES, 2) per group
    group = lambda c: F.struct(
        F.pmod(c, F.lit(10_000_000)).alias("base"),
        (c / F.lit(10_000_000 * N_CLONES)).cast("long").alias("mut"),
    )
    found = (
        verified.where(group(F.col("url_a")) == group(F.col("url_b"))).count()
    )
    n_groups = n_docs // N_CLONES
    expected = n_groups * (N_CLONES * (N_CLONES - 1) // 2)
    recall = found / expected if expected else 1.0
    sigs.unpersist()
    verified.unpersist()
    release_persisted()
    assert n_clustered > 0
    return dt, n_docs, recall, t0


BENCH_LOG_DIR = "/tmp/spark-events-bench"


def _parse_task_windows(
    log_dir: str,
) -> list[tuple[float, float, float, float, float]]:
    """Event-log task records as (launch_sec, finish_sec, run_sec,
    jvm_cpu_sec, python_worker_sec).

    SEMANTICS — the two "CPU" fields measure different things:
    - jvm_cpu_sec ("Executor CPU Time") counts ONLY JVM-thread CPU; work
      done in Arrow/pandas-UDF Python workers is invisible to it, so a
      UDF-heavy stage can read as ~3% "CPU" while the Python workers are
      compute-bound.
    - python_worker_sec sums the per-task "time to run Python workers" SQL
      accumulable (ms) on ArrowEvalPython/mapInPandas nodes: the time the
      JVM spent feeding/awaiting the Python workers — the honest signal
      that a stage is Python-worker-bound."""
    tasks = []
    paths = [
        p
        for p in glob.glob(f"{log_dir}/**/*", recursive=True)
        if os.path.isfile(p) and "appstatus" not in p
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    ti = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    # SQL-metric accumulable Updates are serialized as
                    # STRINGS in the event log ('2118'), unlike task metrics
                    py_ms = 0.0
                    for acc in ti.get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            try:
                                py_ms += float(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
                    tasks.append(
                        (
                            ti.get("Launch Time", 0) / 1000.0,
                            ti.get("Finish Time", 0) / 1000.0,
                            tm.get("Executor Run Time", 0) / 1000.0,
                            tm.get("Executor CPU Time", 0) / 1e9,
                            py_ms / 1000.0,
                        )
                    )
    return tasks


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_parallelism()
    # event logging on: the recorded artifact carries summed executor task
    # time and task CPU next to each wall time, so a driver-run point
    # estimate is interpretable against this VM's ±40-80% wall noise
    # without a rerun (the round-3 lesson: wall alone cannot defend itself)
    shutil.rmtree(BENCH_LOG_DIR, ignore_errors=True)
    os.makedirs(BENCH_LOG_DIR, exist_ok=True)
    spark = get_spark(
        "minhash-spark-bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": BENCH_LOG_DIR,
            "spark.eventLog.compress": "false",
        },
    )

    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    windows: list[tuple[str, float, float]] = []  # (query, t0, t1) per repeat

    def record(name: str, samples: list[float]) -> None:
        timings[name] = round(min(samples), 3)
        spread[name] = {
            "min": round(min(samples), 3),
            "max": round(max(samples), 3),
            "n": len(samples),
        }

    def timed(name, fn, repeats: int = 1):
        # this VM's wall clock is ±40%+ run-to-run noisy; the expensive
        # queries run best-of-N and the artifact reports the full spread
        samples = []
        for _ in range(repeats):
            t0 = time.time()
            fn()
            t1 = time.time()
            samples.append(t1 - t0)
            windows.append((name, t0, t1))
            # bucket tables cached by the tiered pair enumerator are scoped
            # to one query here — don't let them stack up across the session
            release_persisted()
        record(name, samples)

    # headline: full dedup pipeline (timed inside, excludes input count)
    dedup_samples = []
    for _ in range(3):
        d_sec, n_docs, recall, d_t0 = bench_dedup_minhash(spark, sf_dir)
        windows.append(("dedup_minhash_e2e", d_t0, d_t0 + d_sec))
        dedup_samples.append(d_sec)
    dedup_sec = min(dedup_samples)
    record("dedup_minhash_e2e", dedup_samples)

    docs = corpus_parquet(spark, sf_dir)
    timed(
        "simhash_candidates",
        lambda: simhash_candidates(with_simhash(docs), id_col="doc_id").count(),
        repeats=3,
    )

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    toks = token_count("text")
    containers = raw.where((toks >= 10) & (toks <= 60)).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.concat(F.lit("prefix pad alpha bravo "), "text", F.lit(" omega zulu suffix pad")).alias("text"),
    )
    timed(
        "substring_containment",
        lambda: substring_dedup(raw.unionAll(containers), id_col="doc_id").count(),
        repeats=2,
    )

    # attribute executor task time / CPU to each query's BEST repeat window
    # (the one the recorded wall number comes from)
    spark.sparkContext.stop()
    time.sleep(2)
    tasks = _parse_task_windows(BENCH_LOG_DIR)
    task_cpu: dict[str, dict] = {}
    best_window: dict[str, tuple[float, float]] = {}
    for name, t0, t1 in windows:
        cur = best_window.get(name)
        if cur is None or (t1 - t0) < (cur[1] - cur[0]):
            best_window[name] = (t0, t1)
    for name, (t0, t1) in best_window.items():
        w = [t for t in tasks if t0 <= t[0] and t[1] <= t1 + 1]
        # jvm_cpu_sec counts JVM-thread CPU ONLY (pandas-UDF Python-worker
        # compute is invisible to it); python_worker_sec is the time tasks
        # spent running Python workers — see _parse_task_windows
        task_cpu[name] = {
            "task_sec": round(sum(t[2] for t in w), 1),
            "jvm_cpu_sec": round(sum(t[3] for t in w), 1),
            "python_worker_sec": round(sum(t[4] for t in w), 1),
        }

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "spread": spread,
                "task_cpu": task_cpu,
                "sf": sf_dir.rstrip("/").split("/")[-1],
                "dedup_docs": n_docs,
                "dedup_docs_per_sec": round(n_docs / dedup_sec, 1),
                "dup_pair_recall": round(recall, 5),
                "cpus": cpus,
                "amplify": AMPLIFY,
            }
        )
    )


if __name__ == "__main__":
    main()
