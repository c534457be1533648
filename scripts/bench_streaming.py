"""Streaming store-growth bench: the Spark analog of the reference's
infinite-write throughput harness (test/fcds/test_fixed_queries_infinite_write.c:94-99)
and of its read/write mixed-op sweep (run_tests_prob.sh:24-30, wp ∈
{0.1,0.5,0.9}).

Phases, all against one hash-bucketed incremental store on tmpfs:

1. WIDE    — 9 equal ~n/10-doc batches build the store. Wide batches touch
             every store bucket, so their store-join component grows with
             the store; the curve quantifies that slope.
2. NARROW  — 10 × ~n/100-doc batches ingested into the post-wide store.
             Key-level Bloom manifest pruning keeps them from paying
             O(store) join input, so their walls stay flat.
3. PROBES  — tiny 3-doc read-only lookups against the full store stay flat
             (bucket + key pruning), the property that makes continuous
             small-batch ingest viable against a corpus-scale store.
4. MIX     — the reference's write-mix surface: schedules of 10 ops at
             probe shares {10%, 50%, 90%} (rest are narrow ingests), each
             from a fresh copy of the post-wide store. Reports per-mix
             total wall, per-op walls, and flat-probe re-verification under
             interleaving.

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_streaming.py [sf_dir] [amplify]
Prints one JSON line; per-batch rows also to stderr as markdown.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.queries import CFG
from minhash_spark.streaming.incremental import (
    _store_subdirs,
    incremental_dedup_batch,
    probe_store,
)
import bench

N_STORE_BUCKETS = 1024


def _copy_store(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 20

    spark = get_spark("minhash-stream-bench")
    docs = bench.corpus_parquet(spark, sf_dir, amplify).select(
        F.col("doc_id").alias("url"), "text"
    )
    n_docs = docs.count()
    # h splits the corpus 100 ways: h∈[10,100) → nine wide batches of ~n/10,
    # h∈[0,10) → ten narrow batches of ~n/100 (disjoint from the wide ones)
    docs = docs.withColumn("h", F.pmod("url", F.lit(100)))

    work = tempfile.mkdtemp(prefix="bench_stream_", dir="/dev/shm")
    store = os.path.join(work, "store")
    _, band_store = _store_subdirs(store)

    wide_out, narrow_out, probe_out, mix_out = [], [], [], []
    try:
        # -- phase 1: WIDE -------------------------------------------------
        for i in range(9):
            batch = docs.where((F.col("h") >= 10 * (i + 1)) & (F.col("h") < 10 * (i + 2)))
            t0 = time.time()
            n_pairs = incremental_dedup_batch(
                spark, batch.select("url", "text"), store, CFG,
                epoch_id=i, n_store_buckets=N_STORE_BUCKETS,
            ).count()
            wide_out.append(
                {
                    "batch": i,
                    "wall_sec": round(time.time() - t0, 1),
                    "verified_pairs": n_pairs,
                    "band_store_rows": spark.read.parquet(band_store).count(),
                }
            )
            print(f"# wide {wide_out[-1]}", file=sys.stderr, flush=True)

        base_store = os.path.join(work, "store_base")
        _copy_store(store, base_store)

        # -- phase 2: NARROW ----------------------------------------------
        for j in range(10):
            batch = docs.where(F.col("h") == j).select("url", "text")
            t0 = time.time()
            n_pairs = incremental_dedup_batch(
                spark, batch, store, CFG,
                epoch_id=100 + j, n_store_buckets=N_STORE_BUCKETS,
            ).count()
            narrow_out.append(
                {"batch": j, "wall_sec": round(time.time() - t0, 1),
                 "verified_pairs": n_pairs}
            )
            print(f"# narrow {narrow_out[-1]}", file=sys.stderr, flush=True)

        # -- phase 3: tiny probes against the grown store -------------------
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            (F.col("doc_id") + 900_000_000).alias("url"), "text"
        )
        for j in range(3):
            probe = base.where(F.pmod(F.col("url"), F.lit(97)) == j).limit(3)
            t0 = time.time()
            n_pairs = probe_store(spark, probe, store, CFG).count()
            probe_out.append(
                {"probe": j, "wall_sec": round(time.time() - t0, 1),
                 "verified_pairs": n_pairs}
            )
            print(f"# probe {probe_out[-1]}", file=sys.stderr, flush=True)

        # -- phase 4: MIX sweep (reference wp ∈ {0.1,0.5,0.9}) --------------
        # evenly interleaved schedule of 10 ops per mix; each mix starts
        # from a fresh copy of the post-wide store so mixes are comparable
        # probe work must be representative: even slots re-check docs that
        # ARE stored (hits → real verification work), odd slots probe novel
        # ids (misses → pruning path); an all-miss probe would be trivially
        # flat because every store partition gets Bloom-rejected
        probe_batches = [
            docs.where(F.col("h") == 15 + j).select(
                (F.col("url") + 800_000_000).alias("url"), "text"
            ).limit(1000)
            if j % 2 == 0
            else base.where(F.pmod(F.col("url"), F.lit(10)) == j).limit(1000)
            for j in range(10)
        ]
        for share in (0.1, 0.5, 0.9):
            mix_store = os.path.join(work, f"store_mix{int(share * 100)}")
            _copy_store(base_store, mix_store)
            n_probes = round(10 * share)
            # spread the probes evenly through the schedule
            probe_slots = {
                int(k * 10 / n_probes) for k in range(n_probes)
            } if n_probes else set()
            ops, ingest_j, probe_j = [], 0, 0
            t_mix = time.time()
            for k in range(10):
                t0 = time.time()
                if k in probe_slots:
                    n_pairs = probe_store(
                        spark, probe_batches[probe_j], mix_store, CFG
                    ).count()
                    kind, probe_j = "probe", probe_j + 1
                else:
                    batch = docs.where(F.col("h") == ingest_j).select("url", "text")
                    n_pairs = incremental_dedup_batch(
                        spark, batch, mix_store, CFG,
                        epoch_id=200 + ingest_j, n_store_buckets=N_STORE_BUCKETS,
                    ).count()
                    kind, ingest_j = "ingest", ingest_j + 1
                ops.append(
                    {"op": k, "kind": kind,
                     "wall_sec": round(time.time() - t0, 1), "pairs": n_pairs}
                )
                print(f"# mix{share} {ops[-1]}", file=sys.stderr, flush=True)
            mix_out.append(
                {
                    "probe_share": share,
                    "total_wall_sec": round(time.time() - t_mix, 1),
                    "ops": ops,
                }
            )
            shutil.rmtree(mix_store, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "incremental_batches",
                "sf": os.path.basename(sf_dir.rstrip("/")),
                "amplify": amplify,
                "n_docs": n_docs,
                "n_store_buckets": N_STORE_BUCKETS,
                "cpus": default_parallelism(),
                "wide_batches": wide_out,
                "narrow_batches": narrow_out,
                "probes": probe_out,
                "mixes": mix_out,
            }
        )
    )
    md = ["| narrow batch | wall (s) |", "|---|---|"]
    for a in narrow_out:
        md.append(f"| {a['batch']} | {a['wall_sec']} |")
    print("\n".join(md), file=sys.stderr)


if __name__ == "__main__":
    main()
