"""Break-even of the text-byte cap of driver-side signing
(operators/signatures.py `_LOCAL_MAX_SIGN_BYTES`, shared by the store's
narrow path and the pipeline's signature stage): for each of the two
callers, the wall of one call whose texts are signed on the driver by the
threaded signer against the same call signed by the signature UDF, at
several batch text sizes.

Each batch is DOC-byte documents of random words in 4 input partitions.
The store caller ingests it as epoch 1 into a fresh store of 256 such
documents (at 4 KiB a document, a 32 MiB batch is 8,192 rows, the most a
narrow batch holds at 32 bands); the pipeline caller runs
`DedupPipeline.run` over it as one ds partition. Each size and path runs `repeats` times; the first is a warm-up
and is left out of the median. The cap is moved on the module for the run,
so both paths take the same code otherwise. Sizes run in ascending order,
and each driver row records the process's peak RSS so far (`ru_maxrss`),
so it bounds the driver's peak at that size.

The documents draw from 5,000 random words, so about 70% of the char
5-grams in each 2^16-occurrence window are distinct: above the half at
which `min_sketch_batch` hashes each distinct 5-gram once (its table
branch), so both paths here hash every occurrence. Text that repeats
more (perfbench's crawl corpus is ~9% distinct per window, its store
batches ~35%) signs faster on both paths, which this script does not
show, and no perfbench workload measures a move of the cap. The cap is
therefore not moved on this script's numbers alone.

Usage: SPARK_GRAFT_CPUS=N python scripts/bench_sign_cap.py [MiB,MiB,...] [repeats]
Prints one JSON line; one row per size, caller and path to stderr.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from minhash_spark.config import DedupConfig
from minhash_spark.operators import signatures
from minhash_spark.pipeline import DedupPipeline
from minhash_spark.session import get_spark
from minhash_spark.streaming import incremental

DOC = 4096  # bytes of text per document
PARTITIONS = 4
STORE_DOCS = 256
PATHS = (("driver", 1 << 62), ("udf", 0))  # the cap that forces each path


def _docs(rng, vocab, n: int, tag: str) -> pd.DataFrame:
    rows = [
        (f"{tag}-{i}", " ".join(rng.choice(vocab, DOC // 2))[:DOC]) for i in range(n)
    ]
    return pd.DataFrame(rows, columns=["url", "text"])


def _store_wall(spark, cfg, seed_store, batch, store: str) -> float:
    """The wall of a narrow ingest of batch into a fresh 256-doc store."""
    incremental.incremental_dedup_batch(spark, seed_store, store, cfg, 0, 8).collect()
    st: dict = {}
    t0 = time.perf_counter()
    incremental.incremental_dedup_batch(spark, batch, store, cfg, 1, 8, stats_out=st).collect()
    wall = time.perf_counter() - t0
    assert st["path"] == "narrow", st
    return wall


def _pipeline_wall(spark, cfg, batch, out: str, path: str) -> float:
    """The wall of a `DedupPipeline.run` over batch, as one ds partition."""
    pages = batch.withColumn("ds", F.lit("2024-01-01"))
    t0 = time.perf_counter()
    DedupPipeline(spark, cfg, out).run(pages)
    wall = time.perf_counter() - t0
    with open(os.path.join(out, "metrics", "signatures.jsonl")) as f:
        signed = json.loads(f.read().splitlines()[-1])["path"]
    assert signed == ("local" if path == "driver" else "spark"), signed
    return wall


def main(mibs: list[float], repeats: int) -> dict:
    spark = get_spark("bench-sign-cap")
    cfg = DedupConfig()
    rng = np.random.default_rng(0)
    letters = list("abcdefghijklmnopqrstuvwxyz")
    vocab = np.array(
        ["".join(rng.choice(letters, rng.integers(2, 9))) for _ in range(5000)]
    )
    seed_store = spark.createDataFrame(_docs(rng, vocab, STORE_DOCS, "s"))
    base = tempfile.mkdtemp(prefix="bench-sign-cap-")
    saved = signatures._LOCAL_MAX_SIGN_BYTES
    out = {"doc_bytes": DOC, "partitions": PARTITIONS, "repeats": repeats, "rows": []}
    try:
        for mib in mibs:
            n = int(mib * (1 << 20) / DOC)
            batch = spark.createDataFrame(_docs(rng, vocab, n, f"b{mib}"))
            batch = batch.repartition(PARTITIONS).cache()
            batch.count()
            for caller in ("store", "pipeline"):
                for path, cap in PATHS:
                    signatures._LOCAL_MAX_SIGN_BYTES = cap
                    walls = []
                    for rep in range(repeats):
                        work = os.path.join(base, f"{mib}-{caller}-{path}-{rep}")
                        if caller == "store":
                            walls.append(_store_wall(spark, cfg, seed_store, batch, work))
                        else:
                            walls.append(_pipeline_wall(spark, cfg, batch, work, path))
                        shutil.rmtree(work)
                    row = {
                        "text_mib": mib,
                        "rows": n,
                        "caller": caller,
                        "path": path,
                        "walls_s": [round(w, 3) for w in walls],
                        "median_s": round(statistics.median(walls[1:] or walls), 3),
                    }
                    if path == "driver":
                        row["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss >> 10
                    print(json.dumps(row), file=sys.stderr, flush=True)
                    out["rows"].append(row)
            batch.unpersist()
    finally:
        signatures._LOCAL_MAX_SIGN_BYTES = saved
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()
    return out


if __name__ == "__main__":
    sizes = sys.argv[1] if len(sys.argv) > 1 else "0.25,0.5,1,2,4,8,16,32"
    mibs = [float(m) for m in sizes.split(",")]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    print(json.dumps(main(mibs, repeats)))
