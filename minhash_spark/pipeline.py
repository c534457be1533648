"""End-to-end near-duplicate pipeline: normalize/shingle → MinHash signatures
→ LSH bands → candidate pairs → Jaccard verify → connected components —
resumable, with per-partition lineage and a metrics table.

Stage outputs are Parquet directories under `out_dir` (Iceberg tables when a
catalog is configured; same layout either way):

    signatures/   (url, ds, minhash)          partitioned by ds
    candidates/   (url_a, url_b)
    pairs/        (url_a, url_b, est_jaccard)
    clusters/     (url, cluster_id)
    metrics/      one JSON line per stage run (lineage checkpoint); the
                  clusters line carries the CC path, rounds and edge count

Candidate generation and verification are SEPARATE stages (each one job,
each ending in a parquet write) on purpose: the two biggest shuffles in the
whole pipeline — the cross-band pair dedup groupBy and the two
signature-verify joins — then never coexist in one job's scratch. In a
single fused job the full lineage pins every shuffle file until the job
ends, so peak shuffle-scratch is the SUM of the stages (measured: a fused
5M-doc run needs >120 GB local-dir scratch and died on this box, while the
staged run peaks at the largest single stage). At 100 TB each stage is its
own spark-submit against the previous stage's table, which is also what
makes the pipeline resumable mid-corpus.

Resumability = the reference's snapshot semantics re-expressed with table
immutability (get_global_sketch / version list,
/root/reference/src/fcds/minhash-fcds.c:195-222 — SURVEY.md §2.1 op#11):
completed work is a committed snapshot; on restart the signature stage
anti-joins the already-committed `ds` partitions and computes only the rest.
Downstream stages rebuild only if their output is missing or upstream was
extended.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .operators.signatures import with_minhash_signature
from .operators.lsh import bands_table, candidate_pairs, multi_bucket_stats
from .operators.verify import verify_pairs
from .operators.cluster import connected_components


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


@dataclass
class PipelineResult:
    out_dir: str
    signatures_path: str
    pairs_path: str
    clusters_path: str
    metrics: list[dict] = field(default_factory=list)

    def clusters(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.clusters_path)

    def pairs(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.pairs_path)


class DedupPipeline:
    def __init__(self, spark: SparkSession, cfg: DedupConfig, out_dir: str):
        self.spark = spark
        self.cfg = cfg
        self.out_dir = out_dir
        self.metrics_dir = os.path.join(out_dir, "metrics")
        os.makedirs(self.metrics_dir, exist_ok=True)

    # -- lineage / metrics ------------------------------------------------
    def _log_metric(self, stage: str, **kv) -> dict:
        rec = {"stage": stage, "ts": time.time(), "config": self.cfg.to_dict(), **kv}
        path = os.path.join(self.metrics_dir, f"{stage}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")
        return rec

    # -- stages ------------------------------------------------------------
    def compute_signatures(self, pages: DataFrame, resume: bool = True) -> str:
        """Signature stage, partitioned + resumable by `ds` (date of warc_ts).

        Column pruning: only url/ds/text are selected, so the Parquet scan
        never reads the html binary column (check with .explain → ReadSchema).
        """
        out = os.path.join(self.out_dir, "signatures")
        t0 = time.time()
        src = pages
        if "ds" not in src.columns:
            src = src.withColumn("ds", F.date_format("warc_ts", "yyyy-MM-dd"))
        src = src.select("url", "ds", "text")

        done_ds: list[str] = []
        if resume and _exists(out):
            existing = self.spark.read.parquet(out)
            # format guard BEFORE appending: this build writes the packed
            # little-endian int32 BinaryType signature; a signatures dir
            # written by the pre-packed build carries array<int>. Appending
            # would mix two incompatible parquet schemas for one column and
            # break compute_pairs' read / verify's dtype-based estimator —
            # the same failure the incremental store's _store_meta.json
            # sig_format check prevents (streaming/incremental.py).
            existing_type = existing.schema["minhash"].dataType.simpleString()
            if existing_type != "binary":
                raise ValueError(
                    f"signatures at {out} carry minhash as {existing_type!r}, "
                    "but this build writes packed 'binary' signatures. "
                    "Resuming would mix incompatible schemas in one dataset — "
                    "delete the signatures directory (or the whole out_dir) "
                    "and rebuild."
                )
            done = existing.select("ds").distinct()
            done_ds = [r["ds"] for r in done.collect()]
            if done_ds:
                src = src.join(F.broadcast(done), "ds", "left_anti")

        todo = src.count()
        if todo > 0:
            # guard against under-partitioned inputs (in-memory fixtures,
            # single-file tables): the UDF stage should use every core. Real
            # corpora already arrive in enough parquet splits.
            par = self.spark.sparkContext.defaultParallelism
            if src.rdd.getNumPartitions() < par:
                src = src.repartition(2 * par)
            sigs = with_minhash_signature(src, self.cfg, packed=True).select("url", "ds", "minhash")
            mode = "append" if done_ds else "overwrite"
            sigs.write.mode(mode).partitionBy("ds").parquet(out)
        self._log_metric(
            "signatures",
            docs_processed=todo,
            resumed_partitions=len(done_ds),
            seconds=time.time() - t0,
        )
        return out

    def compute_candidates(self, signatures_path: str, force: bool = False) -> str:
        """Banding + tiered pair enumeration + cross-band dedup, ending in a
        parquet write of the distinct candidate set. Kept as its own job so
        the pair-dedup shuffle (the widest in the pipeline: one row per
        band collision before the groupBy) is released before verification
        starts — see the module docstring's scratch argument."""
        out = os.path.join(self.out_dir, "candidates")
        if _exists(out) and not force:
            return out
        t0 = time.time()
        sigs = self.spark.read.parquet(signatures_path).select("url", "minhash")
        bands = bands_table(sigs, self.cfg)
        handles: list = []
        cands = candidate_pairs(bands, self.cfg, handles_out=handles)
        cands.write.mode("overwrite").parquet(out)
        # stats AFTER the write, FROM the persisted multi-bucket table the
        # pair enumerator cached and populated during the write — a cache
        # read, not a second banding job (singleton buckets are excluded:
        # only multi-member buckets matter for skew/overflow accounting)
        stats = multi_bucket_stats(handles[0], self.cfg).collect()[0].asDict()
        for h in handles:
            h.unpersist()
        n = self.spark.read.parquet(out).count()
        self._log_metric(
            "candidates", n_candidate_pairs=n, seconds=time.time() - t0, **stats
        )
        return out

    def compute_verified(
        self, signatures_path: str, candidates_path: str, force: bool = False
    ) -> str:
        """Jaccard verification of a materialized candidate set: two joins
        against the signature table (the session conf picks broadcast or
        shuffled hash from real sizes), an Arrow pandas UDF estimate, and a
        filter at cfg.jaccard_threshold."""
        out = os.path.join(self.out_dir, "pairs")
        if _exists(out) and not force:
            return out
        t0 = time.time()
        sigs = self.spark.read.parquet(signatures_path).select("url", "minhash")
        cands = self.spark.read.parquet(candidates_path)
        verified = verify_pairs(cands, sigs, self.cfg)
        verified.write.mode("overwrite").parquet(out)
        n = self.spark.read.parquet(out).count()
        self._log_metric("pairs", n_verified_pairs=n, seconds=time.time() - t0)
        return out

    def compute_pairs(self, signatures_path: str, force: bool = False) -> str:
        cand_path = self.compute_candidates(signatures_path, force=force)
        return self.compute_verified(signatures_path, cand_path, force=force)

    def compute_clusters(self, pairs_path: str, force: bool = False) -> str:
        out = os.path.join(self.out_dir, "clusters")
        if _exists(out) and not force:
            return out
        t0 = time.time()
        edges = self.spark.read.parquet(pairs_path)
        cc: dict = {}
        connected_components(edges, stats_out=cc).write.mode("overwrite").parquet(out)
        n = self.spark.read.parquet(out).count()
        self._log_metric(
            "clusters",
            n_clustered_docs=n,
            cc_path=cc["path"],
            cc_rounds=cc["rounds"],
            n_edges=cc["n_edges"],
            seconds=time.time() - t0,
        )
        return out

    def run(self, pages: DataFrame, resume: bool = True) -> PipelineResult:
        t0 = time.time()
        sig_path = self.compute_signatures(pages, resume=resume)
        # pairs/clusters always rebuild: they must reflect the (possibly
        # extended) signature set; only the signature stage is incremental
        pairs_path = self.compute_pairs(sig_path, force=True)
        clusters_path = self.compute_clusters(pairs_path, force=True)
        rec = self._log_metric("pipeline", seconds=time.time() - t0)
        return PipelineResult(
            out_dir=self.out_dir,
            signatures_path=sig_path,
            pairs_path=pairs_path,
            clusters_path=clusters_path,
            metrics=[rec],
        )


def run_dedup(
    spark: SparkSession, pages: DataFrame, out_dir: str, cfg: DedupConfig | None = None,
    resume: bool = True,
) -> PipelineResult:
    return DedupPipeline(spark, cfg or DedupConfig(), out_dir).run(pages, resume=resume)
