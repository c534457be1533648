"""Detection-rate-by-similarity curve — the Spark analog of the reference's
threshold sweep (run_test_threshold.sh:8-16): where does the LSH S-curve
actually cut off, measured, not just predicted?

Builds a graded-clone corpus from the sf documents table: each doc gets one
clone per REPLACEMENT-FRACTION tier (f of its token positions replaced by
clone-unique tokens; word-level Jaccard ≈ (1-f)/(1+f), char-shingle Jaccard
tracks it). Runs the default dedup config once over the whole corpus and
reports, per tier: detection rate (fraction of (doc, tier-clone) pairs
found), and the mean/min estimated Jaccard of the found pairs. The curve is
the measured complement of BENCH/SWEEP.md's analytic S-curve table.

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_recall_curve.py [sf_dir] [shingle_mode]
shingle_mode ∈ {char, word} (default char — the pipeline default). Either
way the SHINGLE-domain Jaccard the sketch estimates decays faster than
token-level Jaccard under word edits: a replaced word kills every shingle
overlapping it (~word_len+4 char 5-shingles; 1-(1-f)^5 of word 5-shingles —
the word mode is the MORE sensitive one at equal shingle_size). The curve
quantifies that mapping so users set `jaccard_threshold` in the domain the
estimator actually measures. Prints one JSON line + a markdown table on
stderr.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from minhash_spark.session import get_spark, default_parallelism
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.lsh import bands_table, candidate_pairs, release_persisted
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.config import DedupConfig, MinHashConfig

# replacement fraction per tier → word-level J ≈ (1-f)/(1+f)
TIERS = [0.02, 0.05, 0.11, 0.18, 0.25, 0.33, 0.45]
TIER_STRIDE = 1_000_000  # clone id = doc_id + (tier_index+1) * stride


def graded_corpus(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    parts = [d]
    for t, frac in enumerate(TIERS):
        toks = F.split(F.col("text"), " ")
        # deterministically replace ~frac of token positions with
        # (doc, tier)-unique junk; xxhash64 spreads positions uniformly
        salt = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(t)), F.lit(99991))
        mutated = F.array_join(
            F.zip_with(
                toks,
                F.sequence(F.lit(1), F.size(toks)),
                lambda tok, i: F.when(
                    F.pmod(F.xxhash64(i, salt), F.lit(10_000))
                    < F.lit(int(frac * 10_000)),
                    F.concat(salt.cast("string"), F.lit("q"), i.cast("string")),
                ).otherwise(tok),
            ),
            " ",
        )
        parts.append(
            d.select(
                (F.col("doc_id") + (t + 1) * TIER_STRIDE).alias("doc_id"),
                mutated.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(2 * default_parallelism())


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mode = sys.argv[2] if len(sys.argv) > 2 else "char"
    CFG = DedupConfig(
        minhash=MinHashConfig(sketch_size=128, seed=42), shingle_mode=mode
    )
    spark = get_spark("recall-curve")
    docs = graded_corpus(spark, sf_dir).persist()
    n_base = docs.where(F.col("doc_id") < TIER_STRIDE).count()

    sigs = with_minhash_signature(docs, CFG).select(
        "doc_id", "minhash"
    ).persist()
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    # threshold 0: keep every verified candidate so one run yields the
    # whole curve; detection at the default threshold is a filter on est
    found = (
        verify_pairs(cands, sigs, CFG, id_col="doc_id", threshold=0.0)
        .where(
            # keep only (base, its own tier clone) pairs
            (F.col("url_a") < TIER_STRIDE)
            & (F.pmod(F.col("url_b"), F.lit(TIER_STRIDE)) == F.col("url_a"))
        )
        .select(
            (F.col("url_b") / TIER_STRIDE).cast("int").alias("tier"),
            "est_jaccard",
        )
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_candidates"),
            F.sum(
                F.when(F.col("est_jaccard") >= CFG.jaccard_threshold, 1).otherwise(0)
            ).alias("n_detected"),
            F.round(F.avg("est_jaccard"), 4).alias("mean_est_j"),
            F.round(F.min("est_jaccard"), 4).alias("min_est_j"),
        )
        .collect()
    )
    release_persisted()
    by_tier = {r["tier"]: r.asDict() for r in found}

    rows = []
    for t, frac in enumerate(TIERS):
        r = by_tier.get(t + 1, {})
        word_j = round((1 - frac) / (1 + frac), 3)
        rows.append(
            {
                "replaced_frac": frac,
                "word_jaccard_approx": word_j,
                "candidate_rate": round(r.get("n_candidates", 0) / n_base, 4),
                "detect_rate_at_thr": round(r.get("n_detected", 0) / n_base, 4),
                "mean_est_j": r.get("mean_est_j"),
                "min_est_j": r.get("min_est_j"),
            }
        )
    print(
        json.dumps(
            {
                "metric": "recall_by_similarity",
                "sf": os.path.basename(sf_dir.rstrip("/")),
                "n_base_docs": n_base,
                "threshold": CFG.jaccard_threshold,
                "config": f"sketch=128 bands=32 rows=4 min_band_matches=2 shingle={mode}",
                "tiers": rows,
            }
        )
    )
    md = [
        "| replaced | ~word J | candidate rate | detected @0.8 | mean est J | min est J |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        md.append(
            f"| {r['replaced_frac']} | {r['word_jaccard_approx']} | "
            f"{r['candidate_rate']} | {r['detect_rate_at_thr']} | "
            f"{r['mean_est_j']} | {r['min_est_j']} |"
        )
    print("\n".join(md), file=sys.stderr)


if __name__ == "__main__":
    main()
