"""Adversarial band-key skew bench — SURVEY §7 "hard part (e)" measured.

Real Common-Crawl corpora are boilerplate-heavy: thousands-to-tens-of-
thousands of pages share one template with tiny edits, so single band
buckets hold 10^4+ members and a naive all-pairs enumerator owes m² pairs
in ONE join group (the exact blow-up that DNF'd Spark ML's MinHashLSH at
100k docs, BENCH/BASELINE.md). This bench builds such a corpus at the same
100k-doc scale as the headline bench and measures OUR 3-tier enumerator
(operators/lsh.py) against it:

- corpus A (uniform): the standard amplified bench corpus — 5-clone
  near-dup groups, no hot keys. Baseline wall + recall.
- corpus B (skewed, same size): 70% uniform + 30% boilerplate —
  one 25k-member mega template (star tier, m > salted_bucket_max),
  two 1,200-member medium templates (salted tier), and 400 small 5-member
  template clusters (small tier), each member 3 token edits off its
  template.

Recorded per corpus: e2e dedup wall (signatures → bands → tiered candidate
pairs → verify → connected components), WHICH TIER each multi-member
bucket landed in (small/salted/star bucket counts + max bucket size, read
off the enumerator's persisted bucket table), clone-pair recall on the
uniform clone groups, and template-cluster integrity (every template's
members must land in ONE cluster — the star tier's O(m) enumeration keeps
mega clusters connected through the anchor, so integrity is the right
recall metric where pairwise truth is deliberately not enumerated).

Usage: SPARK_GRAFT_CPUS=32 python scripts/bench_skew.py [sf_dir] [amplify]
Prints one JSON line; also writes nothing — BENCH/SKEW.md is authored from
the output.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from minhash_spark.operators.cluster import connected_components
from minhash_spark.operators.lsh import bands_table, candidate_pairs
from minhash_spark.operators.signatures import with_minhash_signature
from minhash_spark.operators.verify import verify_pairs
from minhash_spark.queries import CFG
from minhash_spark.session import get_spark, default_parallelism
import bench

SKEW_CACHE = "/dev/shm/bench_skew_corpus"
TEMPLATE_ID_BASE = 5_000_000_000  # far above amplified ids


def _template_tokens(rng: np.random.Generator, n_tokens: int = 200) -> list[str]:
    return [f"tmpl{rng.integers(0, 99999):05d}w" for _ in range(n_tokens)]


def template_variants(spark, tokens: list[str], n: int, id_base: int, edits: int = 3):
    """n variants of one template, each with `edits` token positions
    replaced by a (doc, edit)-unique token — J(variant, variant) ≈ 0.9+ in
    the char-shingle domain, the boilerplate shape. Pure JVM exprs."""
    df = spark.range(n).select((F.col("id") + id_base).alias("doc_id"))
    arr = F.array(*[F.lit(t) for t in tokens])
    # deterministic edit positions per doc (1-indexed into the token array)
    pos = [
        F.pmod(F.xxhash64("doc_id", F.lit(k)), F.lit(len(tokens))) + 1
        for k in range(edits)
    ]
    repl = lambda i: F.concat(
        F.lit("ed"), F.col("doc_id").cast("string"), F.lit("p"), i.cast("string")
    )
    mutated = F.zip_with(
        arr,
        F.sequence(F.lit(1), F.lit(len(tokens))),
        lambda t, i: F.when(
            sum((i == p).cast("int") for p in pos) > 0, repl(i)
        ).otherwise(t),
    )
    return df.select("doc_id", F.array_join(mutated, " ").alias("text"))


def skewed_corpus(spark, sf_dir: str, amplify: int):
    """Same total size as the uniform bench corpus: 70% of its docs + 30%
    boilerplate across the three tier shapes."""
    path = f"{SKEW_CACHE}_v2_{os.path.basename(sf_dir.rstrip('/'))}_{amplify}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return spark.read.parquet(path)
    uniform = bench.corpus_parquet(spark, sf_dir, amplify)
    n_total = uniform.count()
    n_keep = int(n_total * 0.7)
    n_skew = n_total - n_keep
    kept = uniform.orderBy("doc_id").limit(n_keep)

    rng = np.random.default_rng(20260817)
    n_mega = int(n_skew * 25 / 30)
    n_mid = 1200
    parts = [template_variants(spark, _template_tokens(rng), n_mega, TEMPLATE_ID_BASE)]
    base = TEMPLATE_ID_BASE + 100_000_000
    for t in range(2):
        parts.append(
            template_variants(
                spark, _template_tokens(rng), n_mid, base + t * 10_000_000
            )
        )
    n_small_clusters = (n_skew - n_mega - 2 * n_mid) // 5
    small_base = TEMPLATE_ID_BASE + 500_000_000
    # 5-member small-template clusters, all from one range() + one template
    # pool: cluster c uses token pool slice c % n_pools
    pools = [_template_tokens(rng) for _ in range(8)]
    small = spark.range(n_small_clusters * 5).select(
        (F.col("id") + small_base).alias("doc_id"),
        (F.col("id") / 5).cast("long").alias("cluster"),
    )
    pool_arr = F.array(
        *[F.array(*[F.lit(t) for t in p]) for p in pools]
    )
    toks = F.element_at(pool_arr, (F.pmod("cluster", F.lit(len(pools))) + 1).cast("int"))
    pos = [
        F.pmod(F.xxhash64("doc_id", F.lit(k)), F.lit(200)) + 1 for k in range(3)
    ]
    # cluster-unique tokens: hash (pool token, cluster) into the token text
    # so clusters sharing a pool share NO char shingles — an appended suffix
    # would leave the token bodies (hence most 5-grams) common across
    # clusters and legitimately merge them at J ≥ 0.8
    mutated = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.lit(200)),
        lambda t, i: F.when(
            sum((i == p).cast("int") for p in pos) > 0,
            F.concat(F.lit("ed"), F.col("doc_id").cast("string"), F.lit("p"), i.cast("string")),
        ).otherwise(
            F.concat(F.lit("t"), F.pmod(F.xxhash64(t, "cluster"), F.lit(10**12)).cast("string"))
        ),
    )
    parts.append(small.select("doc_id", F.array_join(mutated, " ").alias("text")))

    out = kept.select("doc_id", "text")
    for p in parts:
        out = out.unionByName(p)
    out.repartition(2 * default_parallelism()).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def run_dedup(spark, docs, label: str) -> dict:
    docs = docs.persist()
    n_docs = docs.count()
    t0 = time.time()
    sigs = with_minhash_signature(docs, CFG).select(
        "doc_id", "minhash"
    ).persist()
    bands = bands_table(sigs, CFG, id_col="doc_id")
    handles: list = []
    cands = candidate_pairs(bands, CFG, id_col="doc_id", handles_out=handles)
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id").persist()
    n_pairs = verified.count()
    clusters = connected_components(verified).persist()
    n_clustered = clusters.count()
    wall = round(time.time() - t0, 1)

    # tier accounting off the enumerator's persisted bucket table (anchor
    # row = one row per bucket)
    multi = handles[0]
    anchor = multi.where(F.col("_id") == F.col("_anchor"))
    tiers = anchor.agg(
        F.sum((F.col("_m") <= CFG.max_bucket_size).cast("long")).alias("small"),
        F.sum(
            (
                (F.col("_m") > CFG.max_bucket_size)
                & (F.col("_m") <= CFG.salted_bucket_max)
            ).cast("long")
        ).alias("salted"),
        F.sum((F.col("_m") > CFG.salted_bucket_max).cast("long")).alias("star"),
        F.max("_m").alias("max_bucket"),
    ).collect()[0].asDict()

    # clone-pair recall on the uniform clone groups present in this corpus.
    # Expected pairs come from the ACTUAL group sizes — the 70% doc_id-prefix
    # cut truncates one mutation tier's groups to 4 of 5 members, so a
    # complete-group formula would misread perfect detection as ~0.93.
    group = lambda c: F.struct(
        F.pmod(c, F.lit(10_000_000)).alias("base"),
        (c / F.lit(10_000_000 * bench.N_CLONES)).cast("long").alias("mut"),
    )
    uni = F.col("url_a") < TEMPLATE_ID_BASE
    found = verified.where(
        uni & (group(F.col("url_a")) == group(F.col("url_b")))
    ).count()
    expected = int(
        docs.where(F.col("doc_id") < TEMPLATE_ID_BASE)
        .groupBy(group(F.col("doc_id")).alias("g"))
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long"))
        .collect()[0][0]
        or 0
    )
    recall = round(found / expected, 5) if expected else 1.0

    # template-cluster integrity: no template may be SPLIT across clusters
    # (split_templates == 0). n_clusters is context only — genuinely
    # similar templates merging is correct behavior, splitting is a miss.
    integrity = {}
    for name, lo, hi, tmpl_of in [
        ("mega", TEMPLATE_ID_BASE, TEMPLATE_ID_BASE + 100_000_000, F.lit(0)),
        (
            "medium",
            TEMPLATE_ID_BASE + 100_000_000,
            TEMPLATE_ID_BASE + 500_000_000,
            ((F.col("url") - (TEMPLATE_ID_BASE + 100_000_000)) / 10_000_000).cast("long"),
        ),
        (
            "small",
            TEMPLATE_ID_BASE + 500_000_000,
            TEMPLATE_ID_BASE + 900_000_000,
            ((F.col("url") - (TEMPLATE_ID_BASE + 500_000_000)) / 5).cast("long"),
        ),
    ]:
        members = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).count()
        if members == 0:
            continue
        in_range = clusters.where((F.col("url") >= lo) & (F.col("url") < hi))
        got = in_range.agg(
            F.count("*").alias("assigned"),
            F.count_distinct("cluster_id").alias("n_clusters"),
        ).collect()[0]
        splits = (
            in_range.groupBy(tmpl_of.alias("tmpl"))
            .agg(F.count_distinct("cluster_id").alias("nc"))
            .where(F.col("nc") > 1)
            .count()
        )
        integrity[name] = {
            "members": members,
            "assigned": got["assigned"],
            "n_clusters": got["n_clusters"],
            "split_templates": splits,
        }

    for h in handles:
        h.unpersist()
    sigs.unpersist()
    verified.unpersist()
    clusters.unpersist()
    docs.unpersist()
    return {
        "corpus": label,
        "n_docs": n_docs,
        "wall_sec": wall,
        "n_verified_pairs": n_pairs,
        "n_clustered_docs": n_clustered,
        "tier_buckets": tiers,
        "clone_pair_recall": recall,
        "template_integrity": integrity,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amplify = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("minhash-skew-bench")

    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    uniform = bench.corpus_parquet(spark, sf_dir, amplify)
    skewed = skewed_corpus(spark, sf_dir, amplify)

    # wall noise on this box is ±40-80%: interleave the two corpora within
    # ONE session and keep per-corpus minima so the ratio compares work, not
    # scheduling luck
    runs: dict[str, list[dict]] = {"uniform": [], "skewed": []}
    for _ in range(repeats):
        runs["uniform"].append(
            run_dedup(spark, uniform.select("doc_id", "text"), "uniform")
        )
        print(f"# {runs['uniform'][-1]}", file=sys.stderr, flush=True)
        runs["skewed"].append(
            run_dedup(spark, skewed.select("doc_id", "text"), "skewed")
        )
        print(f"# {runs['skewed'][-1]}", file=sys.stderr, flush=True)

    results = []
    for label in ("uniform", "skewed"):
        best = min(runs[label], key=lambda r: r["wall_sec"])
        best["walls"] = [r["wall_sec"] for r in runs[label]]
        results.append(best)
    print(
        json.dumps(
            {
                "metric": "skew_bench",
                "sf": os.path.basename(sf_dir.rstrip("/")),
                "amplify": amplify,
                "repeats": repeats,
                "cpus": default_parallelism(),
                "runs": results,
                "wall_ratio": round(
                    results[1]["wall_sec"] / max(results[0]["wall_sec"], 1e-9), 2
                ),
                "pairs_per_sec": {
                    r["corpus"]: round(r["n_verified_pairs"] / r["wall_sec"], 1)
                    for r in results
                },
            }
        )
    )


if __name__ == "__main__":
    main()
