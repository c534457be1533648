"""Scaling diagnosis: run the dedup e2e stages with the Spark event log on,
then report, per pipeline stage, the wall seconds, the summed executor task
time, and the effective core utilization (task_sec / wall / cores).

Utilization near 1.0 with slower wall at higher cores ⇒ tasks themselves
slowed (shared memory bandwidth — hardware). Low utilization ⇒ idle cores:
scheduling gaps, driver-serial work, stragglers — orchestration we can fix.

Usage: SPARK_GRAFT_CPUS=32 python scripts/profile_utilization.py [sf_dir] [amplify]
"""

from __future__ import annotations

import json
import glob
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.operators.cluster import connected_components
from minhash_spark.queries import CFG
import bench

LOG_DIR = "/tmp/spark-events-profile"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    shutil.rmtree(LOG_DIR, ignore_errors=True)
    os.makedirs(LOG_DIR, exist_ok=True)
    spark = get_spark(
        "profile-util",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": LOG_DIR,
            "spark.eventLog.compress": "false",
        },
    )
    docs = bench.amplified_docs(spark, sf_dir, amplify)
    docs.count()

    marks: list[tuple[str, float, float]] = []  # (stage, t_start, t_end)

    def run(name, fn):
        t0 = time.time()
        fn()
        marks.append((name, t0, time.time()))

    sigs = with_minhash_signature(docs, CFG).select("doc_id", "minhash").persist()
    run("signatures", lambda: sigs.count())
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id").persist()
    run("bands_candidates", lambda: cands.count())
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id").persist()
    run("verify", lambda: verified.count())
    release_persisted()
    run("connected_components", lambda: connected_components(verified).count())

    spark.sparkContext.stop()
    time.sleep(2)

    # parse event log: task end events carry launch/finish + run time
    tasks = []
    paths = [p for p in glob.glob(f"{LOG_DIR}/**/*", recursive=True) if os.path.isfile(p) and "appstatus" not in p]
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
    out = {"cpus": cores, "amplify": amplify, "stages": {}}
    for name, t0, t1 in marks:
        wall = t1 - t0
        in_window = [t for t in tasks if t0 <= t[0] and t[1] <= t1 + 1]
        task_sec = sum(t[2] for t in in_window)
        gc_sec = sum(t[3] for t in in_window)
        shuffle_mb = sum(t[4] for t in in_window) / 1e6
        out["stages"][name] = {
            "wall": round(wall, 1),
            "task_sec": round(task_sec, 1),
            "util": round(task_sec / wall / cores, 2),
            "gc_sec": round(gc_sec, 1),
            "n_tasks": len(in_window),
            "shuffle_write_mb": round(shuffle_mb, 1),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
