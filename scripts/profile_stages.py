"""Per-stage scaling profile of the dedup e2e pipeline: run each stage with
an explicit materialization barrier at SPARK_GRAFT_CPUS=N, print stage
seconds. Compare two runs (e.g. N=2 vs N=8) to find which stage scales worst
— the tool behind the BENCH/BASELINE.md stage attribution.

Usage: SPARK_GRAFT_CPUS=8 python scripts/profile_stages.py [sf_dir] [amplify]
"""

from __future__ import annotations

import json
import os
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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    spark = get_spark("profile-stages")
    docs = bench.amplified_docs(spark, sf_dir, amplify)
    n_docs = docs.count()

    t: dict[str, float] = {}

    t0 = time.time()
    sigs = with_minhash_signature(docs, CFG).select("doc_id", "minhash").persist()
    sigs.count()
    t["signatures"] = time.time() - t0

    t0 = time.time()
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id").persist()
    cands.count()
    t["bands_candidates"] = time.time() - t0

    t0 = time.time()
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id").persist()
    n_pairs = verified.count()
    t["verify"] = time.time() - t0
    release_persisted()

    t0 = time.time()
    clusters = connected_components(verified)
    n_clustered = clusters.count()
    t["connected_components"] = time.time() - t0

    total = sum(t.values())
    print(
        json.dumps(
            {
                "cpus": default_parallelism(),
                "amplify": amplify,
                "n_docs": n_docs,
                "n_pairs": n_pairs,
                "n_clustered": n_clustered,
                "stages": {k: round(v, 2) for k, v in t.items()},
                "total": round(total, 2),
                "docs_per_sec": round(n_docs / total, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
