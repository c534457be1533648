"""Break-even of the text-byte cap of the narrow store path
(streaming/incremental.py `_LOCAL_MAX_SIGN_BYTES`): the wall of one narrow
`incremental_dedup_batch` whose texts are signed on the driver against the
same batch signed by the signature UDF, at several batch text sizes.

Each batch is DOC-byte documents of random words in 4 input partitions,
ingested as epoch 1 into a fresh store of 256 such documents. Each size and
path runs `repeats` times; the first is a warm-up and is left out of the
median. The cap is moved on the module for the run, so both paths take the
same code otherwise.

Usage: SPARK_GRAFT_CPUS=N python scripts/bench_sign_cap.py [MiB,MiB,...] [repeats]
Prints one JSON line; one row per size and path to stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from minhash_spark.config import DedupConfig
from minhash_spark.session import get_spark
from minhash_spark.streaming import incremental

DOC = 2048  # bytes of text per document
PARTITIONS = 4
STORE_DOCS = 256
PATHS = (("driver", 1 << 62), ("udf", 0))  # the cap that forces each path


def _docs(rng, vocab, n: int, tag: str) -> pd.DataFrame:
    rows = [
        (f"{tag}-{i}", " ".join(rng.choice(vocab, DOC // 2))[:DOC]) for i in range(n)
    ]
    return pd.DataFrame(rows, columns=["url", "text"])


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
    saved = incremental._LOCAL_MAX_SIGN_BYTES
    out = {"doc_bytes": DOC, "partitions": PARTITIONS, "repeats": repeats, "rows": []}
    try:
        for mib in mibs:
            n = int(mib * (1 << 20) / DOC)
            batch = spark.createDataFrame(_docs(rng, vocab, n, f"b{mib}"))
            batch = batch.repartition(PARTITIONS).cache()
            batch.count()
            for path, cap in PATHS:
                incremental._LOCAL_MAX_SIGN_BYTES = cap
                walls = []
                for rep in range(repeats):
                    store = os.path.join(base, f"{mib}-{path}-{rep}")
                    incremental.incremental_dedup_batch(
                        spark, seed_store, store, cfg, 0, 8
                    ).collect()
                    st: dict = {}
                    t0 = time.perf_counter()
                    incremental.incremental_dedup_batch(
                        spark, batch, store, cfg, 1, 8, stats_out=st
                    ).collect()
                    walls.append(time.perf_counter() - t0)
                    assert st["path"] == "narrow", st
                    shutil.rmtree(store)
                row = {
                    "text_mib": mib,
                    "rows": n,
                    "path": path,
                    "walls_s": [round(w, 3) for w in walls],
                    "median_s": round(statistics.median(walls[1:] or walls), 3),
                }
                print(json.dumps(row), file=sys.stderr, flush=True)
                out["rows"].append(row)
            batch.unpersist()
    finally:
        incremental._LOCAL_MAX_SIGN_BYTES = saved
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()
    return out


if __name__ == "__main__":
    sizes = sys.argv[1] if len(sys.argv) > 1 else "0.25,1,4,16"
    mibs = [float(m) for m in sizes.split(",")]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    print(json.dumps(main(mibs, repeats)))
