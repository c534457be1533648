"""spark-submit entrypoint for the dedup pipeline.

    spark-submit --py-files minhash_spark.zip scripts/run_pipeline.py \
        --input /data/pages --output /data/dedup_out [--resume]

(When run via plain `python`, a local session is created and the package is
shipped to executors automatically — session.ship_package is the
programmatic --py-files.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description="minhash_spark dedup pipeline")
    p.add_argument("--input", required=True, help="pages table path (parquet/iceberg)")
    p.add_argument("--output", required=True, help="output directory for stage tables")
    p.add_argument("--no-resume", action="store_true", help="recompute everything")
    p.add_argument("--shingle-size", type=int, default=5)
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows", type=int, default=4)
    args = p.parse_args()

    from minhash_spark.config import DedupConfig, MinHashConfig
    from minhash_spark.pipeline import run_dedup
    from minhash_spark.session import get_spark
    from minhash_spark.sources.pages import read_pages

    cfg = DedupConfig(
        minhash=MinHashConfig(sketch_size=args.bands * args.rows),
        shingle_size=args.shingle_size,
        bands=args.bands,
        rows=args.rows,
        jaccard_threshold=args.threshold,
    )
    spark = get_spark("minhash-spark-pipeline")
    pages = read_pages(spark, args.input)
    result = run_dedup(spark, pages, args.output, cfg, resume=not args.no_resume)
    print(
        json.dumps(
            {
                "clusters": result.clusters_path,
                "pairs": result.pairs_path,
                "signatures": result.signatures_path,
                "n_clustered_docs": result.clusters(spark).count(),
                "n_pairs": result.pairs(spark).count(),
            }
        )
    )


if __name__ == "__main__":
    main()
