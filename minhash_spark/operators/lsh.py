"""LSH banding + candidate-pair generation.

Banding slices each signature into `bands` groups of `rows` values and keys
each slice with xxhash64 (`band_keys`) — documents agreeing on at least
cfg.min_band_matches bands become a candidate pair (MinHash-LSH; the
signature semantics underneath are the reference's, SURVEY.md §2.3).
All JVM-side: substring/transform/explode/xxhash64 are built-in
expressions; no Python.

Scale/skew design:
- The candidate join is a self equi-join on band_key — shuffle
  partitioned by the key, AQE skew-split enabled (session.py).
- Boilerplate pages collapse into mega-buckets ⇒ O(m²) pair blowup, so a
  bucket's size picks its tier (`tiered_bucket_pairs`): up to
  cfg.max_bucket_size a plain all-pairs join, up to cfg.salted_bucket_max a
  salted all-pairs join (same pair set, spread over salt_factor join
  groups), and above that a star of (anchor, member) pairs. The buckets over
  max_bucket_size are counted by `multi_bucket_stats` (and by the stats of
  `local.band_pairs` on the driver path).
- Pair dedup across bands is a groupBy on (url_a, url_b) — map-side partial
  aggregation keeps the shuffle small (the same partial→final algebra as the
  reference's FCDS local→global merge, SURVEY.md §2.1 op#9/10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupConfig
from .signatures import require_packed

# Fallback registry for bucket tables persisted by tiered_bucket_pairs when
# the caller does not collect handles itself (handles_out=None). The persist
# is load-bearing (four plan branches read the same exploded bucket table
# within one action), but long-lived sessions (pipeline runs, benches,
# streaming micro-batches) must not leak one cached table per invocation —
# callers that materialize the pairs should pass `handles_out` and unpersist
# the handles they receive; the module registry exists only so one-shot
# callers are still bounded via release_persisted().
_PERSISTED: list[DataFrame] = []


def release_persisted() -> None:
    """Unpersist every bucket table registered in the module fallback
    registry. Call after the returned pair DataFrame has been materialized
    (count/write). Callers that passed `handles_out` own their handles and
    are unaffected."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def band_keys(sig_col: str, cfg: DedupConfig) -> Column:
    """array<bigint> of a packed signature's `bands` band keys: band i's key
    is xxhash64(i, bytes of band i), its `rows` int32 values cut out of the
    packed buffer with substring(). The band index is folded INTO the key,
    so equal slices in different bands never collide into one bucket and no
    separate band_id column travels through the caches and shuffles.
    `local.band_keys` is the same derivation in numpy, and incremental
    stores are written with it."""
    w = cfg.rows * 4
    sig = F.col(sig_col)
    return F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda i: F.xxhash64(i, F.substring(sig, i * w + 1, w)),
    )


def bands_table(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "url", sig_col: str = "minhash"
) -> DataFrame:
    """(id, minhash) → (id, band_key): one row per band of `band_keys`. At
    10^12 docs the band table is the biggest intermediate and every column on
    it is paid 32×/doc, so it carries only the id and the key. The signature
    column must be the packed binary form."""
    require_packed(sig_df, sig_col)
    return sig_df.select(id_col, F.explode(band_keys(sig_col, cfg)).alias("band_key"))


def multi_bucket_stats(multi: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Skew/overflow accounting from the persisted multi-member bucket table
    (the `handles_out` handle of tiered_bucket_pairs: one row per bucket
    MEMBER with `_m` size and `_anchor` min-id columns) — a cache read, not a
    second banding job. Per-bucket rows are deduped via the anchor row (each
    bucket has exactly one row where _id == _anchor). Singleton buckets
    (size 1 — the overwhelming majority, and irrelevant to skew) are not in
    the table; the reported n_multi_buckets/max_bucket/capped columns are
    exactly the skew signals the metrics table needs."""
    is_anchor = F.col("_id") == F.col("_anchor")
    return multi.agg(
        F.coalesce(F.sum(F.when(is_anchor, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_multi_buckets"),
        F.coalesce(F.max("_m"), F.lit(0)).cast("long").alias("max_bucket"),
        F.coalesce(
            F.sum(
                F.when(is_anchor & (F.col("_m") > cfg.max_bucket_size), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_capped_buckets"),
        F.coalesce(
            F.sum(
                F.when(
                    is_anchor & (F.col("_m") > cfg.max_bucket_size), F.col("_m")
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("docs_in_capped_buckets"),
    )


def candidate_pairs(
    bands: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    handles_out: list | None = None,
) -> DataFrame:
    """Distinct candidate (url_a, url_b) with url_a < url_b — three skew
    tiers, because a hot band key cannot be split by AQE (skew split is
    per-key) and one 12k-doc bucket alone would put 80M pairs in one task:

    - m ≤ max_bucket_size: plain all-pairs self-join on band_key.
    - max_bucket_size < m ≤ salted_bucket_max: SALTED all-pairs — members get
      a salt in [0, salt_factor); the left side is replicated to every salt
      and joined on (band, key, salt of the right member), so the bucket's
      m² pairs spread across salt_factor independent join groups instead of
      one. Exact same pair set, parallel hot key.
    - m > salted_bucket_max: STAR fallback — only (bucket-min, other) pairs,
      O(m) instead of O(m²). A genuine mega near-dup cluster stays connected
      through its anchor after verification (cluster assignment preserved by
      CC transitive closure); a junk collision bucket costs O(m) failed
      verifications instead of O(m²).
    """
    pairs = tiered_bucket_pairs(
        bands,
        bucket_cols=["band_key"],
        id_col=id_col,
        max_bucket_size=cfg.max_bucket_size,
        salted_bucket_max=cfg.salted_bucket_max,
        salt_factor=cfg.salt_factor,
        handles_out=handles_out,
    )
    # dedup across bands with a partial-agg-friendly groupBy; the band-match
    # count doubles as the candidate pre-filter (cfg.min_band_matches)
    counted = pairs.groupBy("url_a", "url_b").agg(F.count("*").alias("n_bands"))
    if cfg.min_band_matches > 1:
        counted = counted.where(F.col("n_bands") >= cfg.min_band_matches)
    return counted.drop("n_bands")


def tiered_bucket_pairs(
    buckets: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int,
    salted_bucket_max: int,
    salt_factor: int,
    handles_out: list | None = None,
) -> DataFrame:
    """The shared three-tier pair enumerator over (bucket_cols..., id) rows.
    Emits one row per (bucket, pair) occurrence — callers dedup/count.
    `handles_out`, if given, receives the persisted multi-member bucket table
    (one row per bucket MEMBER: *bucket_cols, _id, _m bucket size, _anchor
    bucket min-id) — the caller OWNS it: read bucket stats off it
    (multi_bucket_stats) after materializing the pairs, then unpersist it.
    Without handles_out the handle goes to the module fallback registry
    (release via release_persisted()).

    Shape (one wide shuffle, no driver barrier, no broadcast pruning):
    bucket size and anchor are STREAMING WINDOW AGGREGATES (count/min over a
    bucket-key window) — one exchange + sort, the same volume the old
    collect_list groupBy paid, but sort-based and spill-safe instead of an
    ObjectHashAggregate building per-task object maps of member arrays.
    Measured on this box, the array-building aggregate spent a share of task
    time in JVM GC that GREW with core count (2% at local[2] → 14% at
    local[8] → 21% at local[32]) — a concurrency-scaling loss, and at
    10^12 docs an outright OOM hazard for hot buckets; the window form keeps
    only one bucket group buffered per task and spills via the external
    sorter. Singleton buckets (the overwhelming majority: most band keys are
    unique) are dropped BEFORE the persist. Tiers are plain filters on _m.
    The small tier self-joins the cached rows on the bucket key; both sides
    inherit the window's hash partitioning, so the join adds NO exchange.
    The salted tier exchanges only its few hot buckets; the star tier needs
    no join at all (anchor = the window min)."""
    w = Window.partitionBy(*bucket_cols)
    sized = (
        buckets.select(F.col(id_col).alias("_id"), *bucket_cols)
        .withColumn("_m", F.count("*").over(w))
        .withColumn("_anchor", F.min("_id").over(w))
    )
    multi = sized.where(F.col("_m") >= 2).persist()
    if handles_out is not None:
        handles_out.append(multi)
    else:
        _PERSISTED.append(multi)

    small = multi.where(F.col("_m") <= max_bucket_size)
    all_pairs = (
        small.select(*bucket_cols, F.col("_id").alias("url_a"))
        .join(small.select(*bucket_cols, F.col("_id").alias("url_b")), bucket_cols)
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )

    mid = multi.where(
        (F.col("_m") > max_bucket_size) & (F.col("_m") <= salted_bucket_max)
    )
    warm_right = mid.select(
        *bucket_cols,
        F.pmod(F.xxhash64("_id"), F.lit(salt_factor)).alias("_salt"),
        F.col("_id").alias("url_b"),
    )
    warm_left = mid.select(
        *bucket_cols,
        F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))).alias("_salt"),
        F.col("_id").alias("url_a"),
    ).withColumn("_salt", F.col("_salt").cast("long"))
    salted_pairs = (
        warm_left.join(warm_right, bucket_cols + ["_salt"])
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
    )

    big = multi.where(F.col("_m") > salted_bucket_max)
    star_pairs = (
        big.where(F.col("_id") != F.col("_anchor"))
        .select(
            F.least("_id", "_anchor").alias("url_a"),
            F.greatest("_id", "_anchor").alias("url_b"),
        )
    )
    return all_pairs.unionByName(salted_pairs).unionByName(star_pairs)
