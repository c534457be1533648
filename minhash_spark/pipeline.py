"""End-to-end near-duplicate pipeline: normalize/shingle → MinHash signatures
→ LSH bands → candidate pairs → Jaccard verify → connected components —
resumable, with per-partition lineage and a metrics table.

Stage outputs are Parquet directories under `out_dir` (Iceberg tables when a
catalog is configured; same layout either way):

    signatures/   (url, ds, minhash)          partitioned by ds
    candidates/   (url_a, url_b)
    pairs/        (url_a, url_b, est_jaccard)
    clusters/     (url, cluster_id)
    metrics/      one JSON line per stage run (lineage checkpoint); each
                  stage line names the `path` (local or spark) that
                  wrote it; the signatures line on either path and the
                  local lines split collect_s/kernel_s/write_s, the
                  signatures line names the signer's threads, and the
                  clusters line the CC path, rounds and edge count

The signature stage signs on the driver when the rows to sign fit
`_LOCAL_MAX_DOCS` rows and `signatures._LOCAL_MAX_SIGN_BYTES` of text (the
cap the store's narrow path shares, measured by scripts/bench_sign_cap.py):
one JVM-only job collects the text lengths, a second the (url, ds, text)
rows, `signatures.sign_texts` signs them over a thread pool, and pyarrow
writes one file per `ds` partition. Above either cap the signature UDF
signs in Spark, and only the text lengths reached the driver. Both write
the same rows to the same partition directories, so a resume may mix them.

After the signature stage, `run` takes one of two paths:

- **local**, when the corpus fits two caps (`_LOCAL_MAX_DOCS` signature rows
  and `_LOCAL_MAX_PAIR_ROWS` bucket pair rows, the second counted from
  bucket sizes before anything is enumerated): the signatures this run
  signed on the driver stay in memory (otherwise one bounded Arrow collect
  of (url, minhash, band keys) brings them to the driver), the numpy
  kernels of `local` key the bands, enumerate, verify and cluster on row
  indices, and pyarrow writes candidates/, pairs/ and clusters/, each as
  one file plus `_SUCCESS`. A corpus under both signing caps runs no Python
  stage at all, and a local-path run of it is two Spark jobs.
- **spark**, above either cap: candidate generation and verification are
  SEPARATE stages (each one job, each ending in a parquet write) on
  purpose: the two biggest shuffles in the whole pipeline — the cross-band
  pair dedup groupBy and the two signature-verify joins — then never
  coexist in one job's scratch. In a single fused job the full lineage pins
  every shuffle file until the job ends, so peak shuffle-scratch is the SUM
  of the stages (measured: a fused 5M-doc run needs >120 GB local-dir
  scratch and died on this box, while the staged run peaks at the largest
  single stage). At 100 TB each stage is its own spark-submit against the
  previous stage's table, which is also what makes the pipeline resumable
  mid-corpus.

Both paths write the same rows: the same candidate set, the same verified
pairs (one row per signature row of url_a × signature row of url_b) and the
same clusters.

Resumability = the reference's snapshot semantics re-expressed with table
immutability (get_global_sketch / version list,
/root/reference/src/fcds/minhash-fcds.c:195-222 — SURVEY.md §2.1 op#11):
completed work is a committed snapshot; on restart the signature stage
anti-joins the already-committed `ds` partitions and computes only the rest.
The driver's writer commits each partition file by rename, so a crash
leaves only whole partitions. Downstream stages rebuild only if their
output is missing or upstream was extended.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from . import local
from .config import DedupConfig
from .operators.signatures import (
    collect_signed,
    packed_array,
    signature_rows,
    with_minhash_signature,
)
from .operators.lsh import band_keys, bands_table, candidate_pairs, multi_bucket_stats
from .operators.verify import verify_pairs
from .operators.cluster import connected_components

# Caps of the local path: signature rows collected, and bucket pair rows
# (module docstring). Measured peak driver-Python RSS of the kernels and
# writes, on a 4-core box with ~60-byte urls: 0.79 GB at 2^17 rows with 6.3 M
# pair rows (the collected Arrow table is 0.1 GB of it), 0.54 GB at 5,760
# rows with 8.2 M pair rows.
_LOCAL_MAX_DOCS = 1 << 17
_LOCAL_MAX_PAIR_ROWS = 1 << 23
_CC_MAX_ITERATIONS = 50  # connected_components' default


def _exists(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


# the characters Spark escapes as %XX in a partition directory name
# (ExternalCatalogUtils.escapePathName), and its name for a null value
_PATH_ESCAPES = frozenset('"#%\'*/:=?\\\x7f{[]^' + "".join(map(chr, range(1, 32))))
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_dir(ds: str | None) -> str:
    """The directory Spark's partitionBy("ds") writes a string value to."""
    if not ds:  # Spark writes an empty string as null
        return f"ds={_NULL_PARTITION}"
    return "ds=" + "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in ds)


def _write_partitions(tbl: pa.Table, out: str, append: bool) -> None:
    """Write (url, ds, minhash) rows as Spark's partitionBy("ds") parquet
    write does: the rows of each ds value as (url, minhash) under
    out/ds=<value>/, then _SUCCESS. Each file is written under a hidden
    name that both Spark and pyarrow skip, then renamed into place under a
    unique name, so a crash leaves only whole partitions and an append
    never replaces a committed file. Without `append`, out is emptied
    first."""
    if not append:
        shutil.rmtree(out, ignore_errors=True)
    ds = tbl["ds"]
    for value in pc.unique(ds).to_pylist():
        rows = tbl.filter(pc.is_null(ds) if value is None else pc.equal(ds, value))
        part = os.path.join(out, _partition_dir(value))
        os.makedirs(part, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(part, f".{name}.tmp")
        pq.write_table(rows.select(["url", "minhash"]), tmp)
        os.replace(tmp, os.path.join(part, name))
    open(os.path.join(out, "_SUCCESS"), "w").close()


def _write_table(tbl: pa.Table, out: str) -> None:
    """Overwrite the dataset `out` with one parquet file of tbl, then mark
    it complete with _SUCCESS, as a Spark write does."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    pq.write_table(tbl, os.path.join(out, "part-00000.parquet"))
    open(os.path.join(out, "_SUCCESS"), "w").close()


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
        self._signed = None  # (url, signatures) of a driver-signed run

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

        The rows still to sign (those of `ds` partitions not yet committed)
        are signed on the driver when they fit `_LOCAL_MAX_DOCS` rows and
        `signatures._LOCAL_MAX_SIGN_BYTES` of text (`collect_signed`, which
        brings only text lengths to the driver above either cap), and
        pyarrow writes them (`_write_partitions`); above either cap the
        signature UDF signs them in Spark. Both write the same rows in the
        same `ds=` directories. When this run signed every row on the
        driver, it keeps (url, signatures) in `self._signed` for the local
        path, which then reads nothing back.

        Column pruning: only url/ds/text are selected, so the Parquet scan
        never reads the html binary column (check with .explain → ReadSchema).
        """
        out = os.path.join(self.out_dir, "signatures")
        t0 = time.time()
        self._signed = None
        src = pages
        if "ds" not in src.columns:
            src = src.withColumn("ds", F.date_format("warc_ts", "yyyy-MM-dd"))
        # a partition directory is named by the value cast to string, for
        # either writer, and both write an empty string as null
        ds = F.nullif(F.col("ds").cast("string"), F.lit(""))
        src = src.select("url", ds.alias("ds"), "text")

        done_ds: list[str | None] = []
        if resume and _exists(out):
            existing = self.spark.read.parquet(out)
            # format guard BEFORE appending: this build writes the packed
            # little-endian int32 BinaryType signature; a signatures dir
            # written by the pre-packed build carries array<int>. Appending
            # would mix two incompatible parquet schemas for one column,
            # which every later read and the banding/verify boundary check
            # reject — the failure the incremental store's _store_meta.json
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
            # the committed ds values as strings: Spark would infer a date
            # type from values like 2024-01-01, and the anti-join would then
            # cast each source ds to a date, which fails on any other value
            done = self.spark.read.schema("ds string").parquet(out).distinct()
            done_ds = [r["ds"] for r in done.collect()]
            if done_ds:
                # null-safe: the rows of a null ds are stored under
                # ds=__HIVE_DEFAULT_PARTITION__ and read back as null
                done = self.spark.createDataFrame([(d,) for d in done_ds], "done_ds string")
                src = src.join(F.broadcast(done), src.ds.eqNullSafe(done.done_ds), "left_anti")

        st: dict = {}
        todo, tbl, S = collect_signed(src, self.cfg, _LOCAL_MAX_DOCS, st)
        t1 = time.time()
        if tbl is not None:
            if todo > 0:
                tbl = tbl.append_column("minhash", packed_array(S))
                _write_partitions(tbl, out, append=bool(done_ds))
            if not done_ds:
                self._signed = (tbl["url"], S)
        else:
            if todo > _LOCAL_MAX_DOCS:  # the length collect stopped there
                todo = src.count()
            # guard against under-partitioned inputs (in-memory fixtures,
            # single-file tables): one UDF task per core uses every core and
            # starts one Python worker per core (each ~0.1 s before it sees
            # data), and writes one file per core and ds. Real corpora
            # already arrive in enough parquet splits.
            par = self.spark.sparkContext.defaultParallelism
            if src.rdd.getNumPartitions() < par:
                src = src.repartition(par)
            sigs = with_minhash_signature(src, self.cfg).select("url", "ds", "minhash")
            mode = "append" if done_ds else "overwrite"
            sigs.write.mode(mode).partitionBy("ds").parquet(out)
        t2 = time.time()
        self._log_metric(
            "signatures",
            path="local" if tbl is not None else "spark",
            docs_processed=todo,
            resumed_partitions=len(done_ds),
            # on the spark path the UDF signs inside the write job, one
            # thread per task
            collect_s=st["collect_s"],
            kernel_s=st["kernel_s"],
            write_s=t2 - t1,
            threads=st["threads"] or 1,
            seconds=t2 - t0,
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
            "candidates", path="spark", n_candidate_pairs=n,
            seconds=time.time() - t0, **stats,
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
        self._log_metric(
            "pairs", path="spark", n_verified_pairs=n, seconds=time.time() - t0
        )
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
            path="spark",
            n_clustered_docs=n,
            cc_path=cc["path"],
            cc_rounds=cc["rounds"],
            n_edges=cc["n_edges"],
            seconds=time.time() - t0,
        )
        return out

    def _resolve_locally(self, signatures_path: str, url_field: StructField, signed=None) -> bool:
        """The local path (module docstring): writes candidates/, pairs/ and
        clusters/ with their metrics lines from the driver. `signed`, the
        (url, signatures) of a run that signed every row on the driver,
        stands in for reading the signatures back. False, with nothing
        written, when the signatures pass either cap."""
        cfg = self.cfg
        t0 = time.time()
        if signed is None:
            # the JVM band_keys, so bucket membership is bands_table's; the
            # schema (the pages' url field) skips Spark's footer-reading
            # schema-inference job
            tbl = (
                self.spark.read.schema(StructType([url_field, StructField("minhash", BinaryType())]))
                .parquet(signatures_path)
                .select("url", "minhash", band_keys("minhash", cfg).alias("band_keys"))
                .limit(_LOCAL_MAX_DOCS + 1)
                .toArrow()
            )
            if tbl.num_rows > _LOCAL_MAX_DOCS:
                return False
            urls = tbl["url"]
            S = signature_rows(tbl["minhash"].to_pylist(), cfg.minhash.sketch_size)
            keys = pc.list_flatten(tbl["band_keys"]).to_numpy().reshape(-1, cfg.bands)
            t1 = time.time()
        else:
            t1 = t0
            urls, S = signed
            keys = local.band_keys(S, cfg)  # `lsh.band_keys` in numpy
        ids, codes = local.url_codes(urls)
        res = local.band_pairs(keys, codes, cfg, _LOCAL_MAX_PAIR_ROWS)
        if res is None:
            return False
        ca, cb, stats = res
        t2 = time.time()
        _write_table(
            pa.table({"url_a": ids.take(ca), "url_b": ids.take(cb)}),
            os.path.join(self.out_dir, "candidates"),
        )
        t3 = time.time()
        self._log_metric(
            "candidates", path="local", n_candidate_pairs=len(ca), **stats,
            collect_s=t1 - t0, kernel_s=t2 - t1, write_s=t3 - t2, seconds=t3 - t0,
        )

        # verify every (signature row of url_a, signature row of url_b)
        ia, ib = local.pair_rows(codes, ca, cb)
        keep, est = local.verify(S, ia, ib, cfg.jaccard_threshold)
        ea, eb = codes[ia[keep]], codes[ib[keep]]
        t4 = time.time()
        _write_table(
            pa.table({"url_a": ids.take(ea), "url_b": ids.take(eb), "est_jaccard": est}),
            os.path.join(self.out_dir, "pairs"),
        )
        t5 = time.time()
        self._log_metric(
            "pairs", path="local", n_verified_pairs=len(ea),
            kernel_s=t4 - t3, write_s=t5 - t4, seconds=t5 - t3,
        )

        cc = local.components(ea, eb, len(ids), _CC_MAX_ITERATIONS)
        if cc is None:
            raise RuntimeError(
                f"connected_components (local) did not converge within "
                f"{_CC_MAX_ITERATIONS} rounds on {len(ea)} edges"
            )
        lab, rounds = cc
        v = np.unique(np.concatenate([ea, eb]))
        t6 = time.time()
        _write_table(
            pa.table({"url": ids.take(v), "cluster_id": ids.take(lab[v])}),
            os.path.join(self.out_dir, "clusters"),
        )
        t7 = time.time()
        self._log_metric(
            "clusters", path="local", n_clustered_docs=len(v), cc_path="local",
            cc_rounds=rounds, n_edges=len(ea),
            kernel_s=t6 - t5, write_s=t7 - t6, seconds=t7 - t5,
        )
        return True

    def run(self, pages: DataFrame, resume: bool = True) -> PipelineResult:
        t0 = time.time()
        sig_path = self.compute_signatures(pages, resume=resume)
        # pairs/clusters always rebuild: they must reflect the (possibly
        # extended) signature set; only the signature stage is incremental
        pairs_path = os.path.join(self.out_dir, "pairs")
        clusters_path = os.path.join(self.out_dir, "clusters")
        signed, self._signed = self._signed, None
        if not self._resolve_locally(sig_path, pages.schema["url"], signed):
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
