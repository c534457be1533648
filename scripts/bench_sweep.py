"""Parameter-sweep bench: the Spark analog of the reference's published
sweep harness (sketch-size sweep run_tests_prob_sketch_size.sh:10-17,
threshold sweep run_test_threshold.sh:8-16, mix sweep run_tests_prob.sh:24-30)
— the recall/precision/throughput tradeoff surface a user tunes against.

Sweeps sketch_size ∈ {64,128,256} × every full banding geometry
(bands·rows == sketch_size, rows ∈ {4,8,16} — the config pins the whole
sketch banded, a band slice cannot extend past the sketch) over the SAME
amplified corpus as bench.py: ground truth = every within-mutation clone
pair (Jaccard ≈ 0.97); hard negatives = cross-mutation pairs (J ≈ 0.2-0.3).

Per cell: dedup wall (signature → LSH → candidates → verify), docs/sec,
dup-pair recall AND precision vs ground truth. Emits one JSON line and a
markdown table for BENCH/SWEEP.md.

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_sweep.py [sf_dir] [amplify]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from minhash_spark.config import DedupConfig, MinHashConfig
from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.verify import verify_pairs
import bench

SKETCH_SIZES = [64, 128, 256]
ROWS_CHOICES = [4, 8, 16]


def geometries(sketch: int) -> list[tuple[int, int]]:
    return [(sketch // r, r) for r in ROWS_CHOICES if sketch % r == 0 and sketch // r >= 8]


def truth_pairs(docs):
    """Ground-truth near-dup pairs of the amplified corpus: all C(5,2) pairs
    within each (base doc, mutation) clone group."""
    group = F.struct(
        F.pmod(F.col("doc_id"), F.lit(10_000_000)).alias("base"),
        (F.col("doc_id") / F.lit(10_000_000 * bench.N_CLONES))
        .cast("long")
        .alias("mut"),
    )
    g = docs.select(F.col("doc_id"), group.alias("g"))
    return (
        g.alias("a")
        .join(g.alias("b"), F.col("a.g") == F.col("b.g"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("url_a"), F.col("b.doc_id").alias("url_b")
        )
    )


def run_cell(spark, docs, truth, n_docs: int, n_truth: int, sketch: int, bands: int, rows: int) -> dict:
    cfg = DedupConfig(
        minhash=MinHashConfig(sketch_size=sketch, seed=42), bands=bands, rows=rows
    )
    t0 = time.time()
    sigs = with_minhash_signature(docs, cfg).select(
        "doc_id", "minhash"
    ).persist()
    bt = bands_table(sigs, cfg, id_col="doc_id")
    cands = candidate_pairs(bt, cfg, id_col="doc_id")
    verified = verify_pairs(cands, sigs, cfg, id_col="doc_id").persist()
    n_found = verified.count()
    wall = time.time() - t0
    n_hit = verified.join(truth, ["url_a", "url_b"], "inner").count()
    sigs.unpersist()
    verified.unpersist()
    release_persisted()
    return {
        "sketch": sketch,
        "bands": bands,
        "rows": rows,
        "wall_sec": round(wall, 1),
        "docs_per_sec": round(n_docs / wall, 0),
        "n_found": n_found,
        "recall": round(n_hit / n_truth, 5) if n_truth else 1.0,
        "precision": round(n_hit / n_found, 5) if n_found else 1.0,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("minhash-sweep")
    docs = bench.corpus_parquet(spark, sf_dir, amplify)
    n_docs = docs.count()
    truth = truth_pairs(docs).persist()
    n_truth = truth.count()

    cells = []
    for sketch in SKETCH_SIZES:
        for bands, rows in geometries(sketch):
            cell = run_cell(spark, docs, truth, n_docs, n_truth, sketch, bands, rows)
            print(f"# {cell}", file=sys.stderr, flush=True)
            cells.append(cell)
    truth.unpersist()

    out = {
        "metric": "sweep",
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "amplify": amplify,
        "n_docs": n_docs,
        "n_truth_pairs": n_truth,
        "cpus": default_parallelism(),
        "cells": cells,
    }
    print(json.dumps(out))

    md = [
        "| sketch | bands×rows | wall (s) | docs/s | pairs found | recall | precision |",
        "|---|---|---|---|---|---|---|",
    ]
    for c in cells:
        md.append(
            f"| {c['sketch']} | {c['bands']}×{c['rows']} | {c['wall_sec']} | "
            f"{int(c['docs_per_sec'])} | {c['n_found']} | {c['recall']} | "
            f"{c['precision']} |"
        )
    print("\n".join(md), file=sys.stderr)


if __name__ == "__main__":
    main()
