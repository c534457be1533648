"""sf1-scale native run: the engine's intermediates at ~50× the bench
corpus. Amplifies sf0.1 to 5M docs (amplify 1000 — same construction and
ground truth as the headline bench corpus), runs (A) the full dedup e2e as
FOUR STAGED JOBS (signatures → candidates → verify → connected components,
each ending in a parquet write, each in a fresh SparkContext) and (B) a
5-batch incremental ingest into a 4096-bucket store, while a sampler thread
tracks peak resident set (driver + JVM + every Python worker) and peak
local-dir scratch — the OOM/spill-collapse evidence a 50× run is for.

Why staged: a fused single-job e2e pins every shuffle file in one lineage,
so peak scratch is the SUM of the pair-dedup groupBy (~22 GB at 5M docs)
and the verify joins (~31 GB) plus checkpoint blocks — measured >120 GB,
which killed the fused run on this box's 126 GB tmpfs local-dir. The staged
form (pipeline.py's compute_candidates/compute_verified split) bounds peak
scratch at the largest single stage; the context restart between stages is
the local[32] analog of "each stage is its own spark-submit", which is how
the pipeline runs against a real 100 TB corpus anyway.

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_sf1.py [sf_dir] [amplify]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from minhash_spark.operators.cluster import connected_components
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.queries import CFG
from minhash_spark.session import get_spark, default_parallelism
import bench

PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss_bytes) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            # fields after comm: state(0) ppid(1) ... rss(21)
            out[int(d)] = (int(parts[1]), int(parts[21]) * PAGE)
        except (OSError, IndexError, ValueError):
            continue
    return out


def _tree_rss(root: int) -> int:
    """Total RSS of `root` and all its descendants (JVM, pyspark daemons,
    Arrow workers)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            total += table[pid][1]
            stack.extend(children.get(pid, []))
    return total


class PeakSampler(threading.Thread):
    """Tracks two peaks: tree RSS (driver + JVM + every Python worker) and
    scratch bytes (shuffle/checkpoint growth on the local-dir mounts above
    their level at start — on tmpfs this IS memory, so it's the number that
    decides whether a run OOMs)."""

    MOUNTS = ("/dev/shm", "/tmp")

    def __init__(self, interval: float = 2.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.peak_scratch = 0
        self._base = {m: shutil.disk_usage(m).used for m in self.MOUNTS}
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, _tree_rss(me))
            scratch = sum(
                max(0, shutil.disk_usage(m).used - self._base[m])
                for m in self.MOUNTS
            )
            self.peak_scratch = max(self.peak_scratch, scratch)
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=5)
        return self.peak


# shorten the cleaner's periodic driver GC (default 30 min): shuffle files
# are deleted only after their dependency objects are collected, and a
# 5M-doc stage writes scratch faster than the default reclaims it
_CONF = {"spark.cleaner.periodicGC.interval": "2min"}


def _fresh(name: str):
    return get_spark(name, extra_conf=_CONF)


def dedup_e2e_staged(sf_dir: str, amplify: int, work: str) -> dict:
    """The staged e2e: one fresh context per stage; stopping a context
    deletes its entire local-dir scratch, so peak scratch = max over stages
    instead of their sum. Stage walls exclude context startup (reported
    separately as overhead_sec so total accounting stays honest)."""
    stages: dict[str, float] = {}
    t_all = time.time()

    spark = _fresh("sf1-signatures")
    docs = bench.corpus_parquet(spark, sf_dir, amplify).select("doc_id", "text")
    n_docs = docs.count()  # corpus materialization outside the timed region
    t0 = time.time()
    sigs = with_minhash_signature(docs, CFG).select("doc_id", "minhash")
    sigs.write.mode("overwrite").parquet(f"{work}/signatures")
    stages["signatures"] = round(time.time() - t0, 1)
    spark.stop()

    spark = _fresh("sf1-candidates")
    t0 = time.time()
    sigs = spark.read.parquet(f"{work}/signatures")
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    cands.write.mode("overwrite").parquet(f"{work}/candidates")
    release_persisted()
    stages["candidates"] = round(time.time() - t0, 1)
    n_cands = spark.read.parquet(f"{work}/candidates").count()
    spark.stop()

    spark = _fresh("sf1-verify")
    t0 = time.time()
    sigs = spark.read.parquet(f"{work}/signatures")
    cands = spark.read.parquet(f"{work}/candidates")
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id")
    verified.write.mode("overwrite").parquet(f"{work}/pairs")
    stages["verify"] = round(time.time() - t0, 1)
    spark.stop()

    spark = _fresh("sf1-cc")
    t0 = time.time()
    pairs = spark.read.parquet(f"{work}/pairs")
    clusters = connected_components(pairs)
    n_clustered = clusters.count()
    stages["cc"] = round(time.time() - t0, 1)

    # recall against the amplified-corpus ground truth (outside the timing)
    group = lambda c: F.struct(
        F.pmod(c, F.lit(10_000_000)).alias("base"),
        (c / F.lit(10_000_000 * bench.N_CLONES)).cast("long").alias("mut"),
    )
    found = pairs.where(group(F.col("url_a")) == group(F.col("url_b"))).count()
    n_pairs = pairs.count()
    spark.stop()

    n_groups = n_docs // bench.N_CLONES
    expected = n_groups * (bench.N_CLONES * (bench.N_CLONES - 1) // 2)
    wall = round(sum(stages.values()), 1)
    total = round(time.time() - t_all, 1)
    return {
        "n_docs": n_docs,
        "wall_sec": wall,
        "stages": stages,
        "overhead_sec": round(total - wall, 1),
        "docs_per_sec": round(n_docs / wall, 1),
        "n_candidate_pairs": n_cands,
        "n_verified_pairs": n_pairs,
        "n_clustered_docs": n_clustered,
        "recall": round(found / expected, 5) if expected else 1.0,
    }


def incremental(spark, docs, n_batches: int = 5, n_store_buckets: int = 4096) -> dict:
    from minhash_spark.streaming.incremental import incremental_dedup_batch

    store = tempfile.mkdtemp(prefix="bench_sf1_store_", dir="/dev/shm")
    shutil.rmtree(store, ignore_errors=True)
    out = []
    try:
        for i in range(n_batches):
            batch = docs.where(F.pmod(F.col("url"), F.lit(n_batches)) == i)
            t0 = time.time()
            n_pairs = incremental_dedup_batch(
                spark, batch, store, CFG, epoch_id=i, n_store_buckets=n_store_buckets
            ).count()
            out.append(
                {"batch": i, "wall_sec": round(time.time() - t0, 1),
                 "verified_pairs": n_pairs}
            )
            print(f"# incr {out[-1]}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return {"n_store_buckets": n_store_buckets, "batches": out}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 1000

    sampler = PeakSampler()
    sampler.start()

    work = tempfile.mkdtemp(prefix="bench_sf1_work_", dir="/dev/shm")
    try:
        e2e = dedup_e2e_staged(sf_dir, amplify, work)
        print(f"# e2e {e2e}", file=sys.stderr, flush=True)

        spark = _fresh("sf1-incremental")
        docs = bench.corpus_parquet(spark, sf_dir, amplify).select("doc_id", "text")
        incr = incremental(
            spark, docs.select(F.col("doc_id").alias("url"), "text")
        )
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    peak = sampler.stop()
    print(
        json.dumps(
            {
                "metric": "sf1_scale",
                "sf": os.path.basename(sf_dir.rstrip("/")),
                "amplify": amplify,
                "cpus": default_parallelism(),
                "dedup_e2e": e2e,
                "incremental": incr,
                "peak_tree_rss_gb": round(peak / 2**30, 2),
                "peak_scratch_gb": round(sampler.peak_scratch / 2**30, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
