"""Focused profiler for the two scale-critical stages (bands_candidates,
verify): signatures are computed ONCE and parked on tmpfs, then each run
loads them and times only banding→candidates and verify, with event-log
utilization attribution. This is the iteration loop for shuffle-stage
optimization — a full pipeline re-run per experiment would spend 90% of its
wall on the signature UDF stage that is not under study.

Usage:
  SPARK_GRAFT_CPUS=8 python scripts/profile_pair_stages.py [sf_dir] [amplify]

Prints one JSON line: per-stage wall, summed task seconds, utilization,
GC seconds, shuffle bytes written, and row counts.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.queries import CFG
import bench

SIG_CACHE = "/dev/shm/profile_sigs"
LOG_DIR = "/tmp/spark-events-pair-profile"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    cache = f"{SIG_CACHE}_{os.path.basename(sf_dir)}_{amplify}"

    shutil.rmtree(LOG_DIR, ignore_errors=True)
    os.makedirs(LOG_DIR, exist_ok=True)
    spark = get_spark(
        "profile-pair",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": LOG_DIR,
            "spark.eventLog.compress": "false",
        },
    )

    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        docs = bench.amplified_docs(spark, sf_dir, amplify)
        with_minhash_signature(docs, CFG).select(
            "doc_id", "minhash"
        ).write.mode("overwrite").parquet(cache)

    sigs = spark.read.parquet(cache).persist()
    n_docs = sigs.count()  # warm the cache outside the timed windows

    marks: list[tuple[str, float, float]] = []
    counts: dict[str, int] = {}

    def run(name: str, fn) -> None:
        t0 = time.time()
        counts[name] = fn()
        marks.append((name, t0, time.time()))

    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id").persist()
    run("bands_candidates", lambda: cands.count())
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id").persist()
    run("verify", lambda: verified.count())
    release_persisted()

    spark.sparkContext.stop()
    time.sleep(2)

    tasks = []
    paths = [
        p
        for p in glob.glob(f"{LOG_DIR}/**/*", recursive=True)
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
                    tasks.append(
                        (
                            ti.get("Launch Time", 0) / 1000.0,
                            ti.get("Finish Time", 0) / 1000.0,
                            tm.get("Executor Run Time", 0) / 1000.0,
                            tm.get("JVM GC Time", 0) / 1000.0,
                            (tm.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                        )
                    )

    cores = default_parallelism()
    out = {
        "cpus": cores,
        "amplify": amplify,
        "n_docs": n_docs,
        "stages": {},
    }
    for name, t0, t1 in marks:
        wall = t1 - t0
        w = [t for t in tasks if t0 <= t[0] and t[1] <= t1 + 1]
        task_sec = sum(t[2] for t in w)
        out["stages"][name] = {
            "wall": round(wall, 1),
            "rows": counts[name],
            "task_sec": round(task_sec, 1),
            "util": round(task_sec / wall / cores, 2),
            "gc_sec": round(sum(t[3] for t in w), 1),
            "n_tasks": len(w),
            "shuffle_write_mb": round(sum(t[4] for t in w) / 1e6, 1),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
