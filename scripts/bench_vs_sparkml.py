"""Head-to-head vs Spark ML's built-in MinHashLSH on the same dedup task.

pyspark.ml.feature.MinHashLSH + approxSimilarityJoin is the stock Spark way
to do near-dup pair mining. This bench runs BOTH engines over the same
amplified corpus and ground truth (bench.amplified_docs clone groups):

- ours: shingle → packed MinHash signatures → banded candidates → verified
  pairs (the full pipeline, minus clustering, to match what
  approxSimilarityJoin returns: pairs).
- sparkml: whitespace tokens → binary HashingTF(2^18) → MinHashLSH →
  approxSimilarityJoin at Jaccard distance ≤ 0.2 (J ≥ 0.8 on token sets).

Caveats stated up front: the feature spaces differ (token sets vs char
5-shingles) but the task, corpus, ground truth, similarity cutoff and
returned artifact (verified near-dup pairs) are identical, and the clone
pairs sit at J ≈ 0.97 in BOTH spaces — recall is comparable. Spark ML's
LSH has OR-amplification only (one hash per table, no banding/rows knob)
and verifies with exact sparse-vector Jaccard per candidate; numHashTables
is set to 8 (its candidate rate at J≈0.97 is already ~1, more tables only
add cost).

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_vs_sparkml.py [sf_dir] [amplify] [engine]
engine ∈ {both, ours, sparkml} (default both) — the Spark ML leg can need a
far larger wall budget than ours at the same corpus.
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
from minhash_spark.queries import CFG
import bench


def truth_pairs(docs):
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
        .select(F.col("a.doc_id").alias("url_a"), F.col("b.doc_id").alias("url_b"))
    )


def run_ours(spark, docs):
    t0 = time.time()
    sigs = with_minhash_signature(docs, CFG).select(
        "doc_id", "minhash"
    ).persist()
    cands = candidate_pairs(
        bands_table(sigs, CFG, id_col="doc_id"), CFG, id_col="doc_id"
    )
    pairs = verify_pairs(cands, sigs, CFG, id_col="doc_id").select(
        "url_a", "url_b"
    ).persist()
    n = pairs.count()
    wall = time.time() - t0
    return pairs, n, wall, [sigs, pairs]


def run_sparkml(spark, docs):
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    t0 = time.time()
    tok = Tokenizer(inputCol="text", outputCol="_tokens")
    tf = HashingTF(
        inputCol="_tokens", outputCol="_features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(tok.transform(docs)).select("doc_id", "_features")
    # MinHashLSH requires at least one non-zero entry per vector
    feats = feats.where(F.udf(lambda v: v.numNonzeros() > 0, "boolean")("_features"))
    feats = feats.persist()
    feats.count()
    lsh = MinHashLSH(inputCol="_features", outputCol="_hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.2, distCol="_dist")
    pairs = (
        joined.select(
            F.col("datasetA.doc_id").alias("url_a"),
            F.col("datasetB.doc_id").alias("url_b"),
        )
        .where(F.col("url_a") < F.col("url_b"))
        .distinct()
        .persist()
    )
    n = pairs.count()
    wall = time.time() - t0
    return pairs, n, wall, [feats, pairs]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    which = sys.argv[3] if len(sys.argv) > 3 else "both"
    spark = get_spark("bench-vs-sparkml")
    docs = bench.corpus_parquet(spark, sf_dir, amplify).persist()
    n_docs = docs.count()
    truth = truth_pairs(docs).persist()
    n_truth = truth.count()

    out = {"n_docs": n_docs, "n_truth_pairs": n_truth,
           "cpus": default_parallelism(), "amplify": amplify, "engines": {}}
    engines = [("ours", run_ours), ("sparkml_minhashlsh", run_sparkml)]
    if which == "ours":
        engines = engines[:1]
    elif which == "sparkml":
        engines = engines[1:]
    for name, fn in engines:
        pairs, n, wall, handles = fn(spark, docs)
        n_hit = pairs.join(truth, ["url_a", "url_b"], "inner").count()
        out["engines"][name] = {
            "wall_sec": round(wall, 1),
            "docs_per_sec": round(n_docs / wall, 0),
            "pairs": n,
            "recall": round(n_hit / n_truth, 5),
            "precision": round(n_hit / n, 5) if n else 1.0,
        }
        for h in handles:
            h.unpersist()
        release_persisted()
        print(f"# {name}: {out['engines'][name]}", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
