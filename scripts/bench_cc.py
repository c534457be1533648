"""Connected-components timing at bench scale: operators/cluster.py's
`connected_components` on the verified-pair edge set of the bench corpus
and on a high-diameter chain fixture.

Reuses the tmpfs signature cache of profile_pair_stages.py (writes it if
absent), derives the verified pairs once, then runs the operator `repeats`
times, reporting wall, path (local/distributed), rounds and whether every
repeat produced the same assignment checksum.

The dedup graph is clique-shaped (diameter ~1-2). `chain` mode synthesizes
a HIGH-DIAMETER fixture instead: K disjoint path graphs of length L with the
component-minimum id at one end, the worst case for plain label propagation
(one hop per round) — the regime a real corpus hits when near-dup clusters
chain through borderline pairs instead of forming cliques.

Usage: SPARK_GRAFT_CPUS=4 python scripts/bench_cc.py [sf_dir] [amplify] [repeats]
       SPARK_GRAFT_CPUS=4 python scripts/bench_cc.py chain [length] [n_chains] [repeats]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.operators.cluster import connected_components
from minhash_spark.queries import CFG
import bench

SIG_CACHE = "/dev/shm/profile_sigs"


def _checksum(cc):
    # order-insensitive component checksum over (vertex, label)
    return cc.agg(
        F.sum(F.xxhash64("url", "cluster_id") % 1_000_003).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0].asDict()


def run_cc(edges, repeats: int, max_iterations: int) -> dict:
    walls, sums = [], set()
    for _ in range(repeats):
        st = {}
        t0 = time.time()
        cs = _checksum(connected_components(edges, max_iterations=max_iterations, stats_out=st))
        walls.append(round(time.time() - t0, 2))
        sums.add((cs["s"], cs["n"]))
    return {
        "wall_best": min(walls),
        "walls": walls,
        "path": st["path"],
        "rounds": st["rounds"],
        "identical_assignments": len(sums) == 1,
    }


def main_dedup_graph() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    cache = f"{SIG_CACHE}_{os.path.basename(sf_dir)}_{amplify}_pk"

    spark = get_spark("bench-cc")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        docs = bench.amplified_docs(spark, sf_dir, amplify)
        with_minhash_signature(docs, CFG).select(
            "doc_id", "minhash"
        ).write.mode("overwrite").parquet(cache)
    sigs = spark.read.parquet(cache).persist()
    n_docs = sigs.count()

    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    edges = (
        verify_pairs(cands, sigs, CFG, id_col="doc_id")
        .select("url_a", "url_b")
        .localCheckpoint()
    )
    n_edges = edges.count()
    release_persisted()
    sigs.unpersist()

    out = {"fixture": "dedup_graph", "n_docs": n_docs, "n_edges": n_edges,
           "cpus": default_parallelism(), "amplify": amplify}
    out.update(run_cc(edges, repeats, 50))
    print(json.dumps(out))


def main_chain() -> None:
    length = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    n_chains = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    spark = get_spark("bench-cc-chain")
    # chain c occupies ids [c·L, (c+1)·L); edges connect consecutive ids, so
    # the component minimum c·L sits at one END, L−1 hops from the far end
    e = spark.range(n_chains * length).withColumn(
        "i", F.pmod("id", F.lit(length))
    )
    edges = (
        e.where(F.col("i") < length - 1)
        .select(F.col("id").alias("url_a"), (F.col("id") + 1).alias("url_b"))
        .localCheckpoint()
    )
    n_edges = edges.count()

    out = {"fixture": "chain", "length": length, "n_chains": n_chains,
           "n_vertices": n_chains * length, "n_edges": n_edges,
           "diameter": length - 1, "cpus": default_parallelism()}
    out.update(run_cc(edges, repeats, 60))
    print(json.dumps(out))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "chain":
        main_chain()
    else:
        main_dedup_graph()


if __name__ == "__main__":
    main()
