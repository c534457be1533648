"""Incremental ingest via Structured Streaming.

The reference is a batch data structure — its "infinite write" tests are
throughput harnesses, not streaming semantics
(/root/reference/test/fcds/test_fixed_queries_infinite_write.c:94-99) — so
streaming here is an ENGINE capability, not reference parity: new page files
land in a directory, signatures are computed per micro-batch (same Arrow UDF
as the batch path — the signature is insertion-order independent, so
incremental == batch by the reference's own determinism invariant), and each
micro-batch is deduplicated against the accumulated signature store
(mergeability: sketch(A ∪ B) = merge semantics, src/utils/utils.c:36-46).

``availableNow`` triggers make the same code run as a drain-and-stop job —
the pattern for periodic incremental dedup over a landing zone.

The store (`incremental_dedup_batch`, `probe_store`) has two paths with the
same results and the same store rows. A narrow batch (rows × bands within
_KEY_PRUNE_MAX_KEYS) runs two JVM-only Spark jobs and starts no Python
worker: the first brings its text lengths to the driver, the second its
urls and texts, and the driver computes the signatures and band keys the
UDF and `lsh.band_keys` would, with the threaded signer the pipeline uses
(a batch of more than `signatures._LOCAL_MAX_SIGN_BYTES` of text is signed
by the UDF instead, and its text stays in Spark). After
that the driver touches the store only through pyarrow:
it prunes the store by Bloom filter, reads the matching band rows and
stored signatures, counts and verifies pairs in numpy, and writes both
store sides. A wide batch runs the same steps as Spark joins and UDFs.
`compact_store` likewise rewrites a side of up to _LOCAL_MAX_COMPACT_ROWS
rows on the driver and a larger one with Spark. Every store file is
written by one per-bucket writer, `_write_bucket`: the driver calls it
for each bucket, and the wide ingest and Spark compaction run it once per
bucket in an executor task (`_write_buckets_on_spark`). The driver then
writes `_SUCCESS` and the manifest, so both paths write the same files.
"""

from __future__ import annotations

import base64
import json
import logging
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from .. import local
from ..config import DedupConfig
from ..operators.signatures import (
    collect_signed,
    packed_array,
    signature_rows,
    with_minhash_signature,
)
from ..operators.lsh import band_keys, bands_table
from ..operators.verify import verify_pairs

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def stream_signatures(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    available_now: bool = True,
):
    """File-source stream → signature store (append-only parquet of url and
    packed minhash, the form DedupPipeline and the incremental store
    write). Returns the StreamingQuery; with available_now=True it drains
    pending files and stops (call .awaitTermination())."""
    cfg = cfg or DedupConfig()
    src = (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(input_dir)
        .select("url", "text")
    )
    sigs = with_minhash_signature(src, cfg).select("url", "minhash")
    writer = (
        sigs.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# on-disk signature representation of THIS build (packed little-endian int32
# buffers); stamped into _store_meta.json because band_key derivation depends
# on it — see _effective_store_buckets
_SIG_FORMAT = "packed-i4le"


def _store_subdirs(store_path: str) -> tuple[str, str]:
    return os.path.join(store_path, "signatures"), os.path.join(store_path, "bands")


def _has_batches(path: str) -> bool:
    return os.path.isdir(path) and any(
        d.startswith("batch_id=") for d in os.listdir(path)
    )


def _effective_store_buckets(store_path: str, requested: int | None) -> int:
    """The store's bucket count is a property of its on-disk LAYOUT: every
    batch must hash with the same modulus or later reads would prune to the
    wrong directories and silently MISS candidates. The first batch writes
    `_store_meta.json`; afterwards the persisted value wins over the
    argument (a mismatch is logged, not fatal — the store knows best).

    `requested=None` is the READ-ONLY lookup path (probe_store): the caller
    has no opinion about the layout, so the stored value is returned with no
    mismatch warning; a store with no meta cannot be probed."""
    os.makedirs(store_path, exist_ok=True)
    meta_path = os.path.join(store_path, "_store_meta.json")
    if not os.path.exists(meta_path) and any(
        _has_batches(d) for d in _store_subdirs(store_path)
    ):
        # a populated store with no manifest predates the bucketed layout —
        # stamping fresh meta would make pruned_store_read fail later with
        # an unrelated-looking missing-`store_bucket`-column error
        raise ValueError(
            f"incremental store {store_path} contains batches but no "
            "_store_meta.json: legacy/unbucketed store layout. Rebuild the "
            "store (or migrate it by adding store_bucket partition columns "
            "and a _store_meta.json with its n_store_buckets)."
        )
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        stored = int(meta["n_store_buckets"])
        if meta.get("sig_format") != _SIG_FORMAT:
            # a store written by a build that kept array<int> signatures has
            # other band_key values (xxhash64 of an int list, not of packed
            # bytes) — a new batch would silently never collide with it
            raise ValueError(
                f"incremental store {store_path} was written with signature "
                f"format {meta.get('sig_format')!r}; this build writes "
                f"{_SIG_FORMAT!r}. Rebuild the store."
            )
        if requested is not None and stored != requested:
            logging.getLogger(__name__).warning(
                "incremental store %s was created with n_store_buckets=%d; "
                "ignoring requested %d (the layout is fixed at creation)",
                store_path, stored, requested,
            )
        return stored
    if requested is None:
        raise ValueError(
            f"incremental store {store_path} has no _store_meta.json — "
            "nothing to probe (read-only lookups need an existing store)"
        )
    with open(meta_path, "w") as f:
        json.dump({"n_store_buckets": requested, "sig_format": _SIG_FORMAT}, f)
    return requested


_MANIFEST = "_bucket_manifest.json"

# ---- key-level manifest Bloom filters --------------------------------------
# Bucket-level (directory) pruning cannot help a batch whose band keys touch
# every store bucket: directory pruning excludes nothing and the batch-vs-
# store join input grows O(store). These per-(batch, bucket) Bloom filters
# over the partition's KEY SET prune INSIDE touched buckets: a store
# partition is read only if at least one of the micro-batch's keys may be
# present in it. This is the Spark analog of the reference's merge-
# amortization knob `b` (src/parallel/minhash-concurrent.c:494-506) applied
# to reads — stale store regions the new data cannot collide with are never
# scanned. Bloom filters have NO false negatives, so pruning can never drop
# a real candidate; false positives only cost an extra partition read.
_BLOOM_K = 4  # probes per key
_BLOOM_BITS_PER_KEY = 24  # → fill ≈ 0.15 at k=4 → fpp ≈ 5e-4 per key test
_BLOOM_MIN_BITS = 1024
# driver-side cap on collected rows. A batch is narrow (resolved on the
# driver) while rows × bands, its store band matches and its band collisions
# stay within it; the wide path Bloom-probes only while its distinct
# (bucket, key) pairs do, and degrades to bucket pruning past it. The
# text-byte cap on signing a narrow batch on the driver is shared with the
# pipeline: `signatures._LOCAL_MAX_SIGN_BYTES`, measured there
_KEY_PRUNE_MAX_KEYS = 1 << 18


def _bloom_m_bits(n_keys: int) -> int:
    m = _BLOOM_MIN_BITS
    while m < n_keys * _BLOOM_BITS_PER_KEY:
        m <<= 1
    return m


def _bloom_positions(keys_u64, m: int):
    """(n, k) bit positions via splitmix64 double hashing — pure-numpy and
    deterministic, so the write-side builder (driver or executor task) and
    the read-side prober (driver) agree bit-for-bit."""
    def mix(x, c):
        x = x + np.uint64(c)
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return x

    keys_u64 = np.asarray(keys_u64, dtype=np.uint64)
    h1 = mix(keys_u64, 0x9E3779B97F4A7C15)
    h2 = mix(keys_u64, 0xD1B54A32D192ED03) | np.uint64(1)
    i = np.arange(_BLOOM_K, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) & np.uint64(m - 1)


def _bloom_build(keys_u64, m: int):
    bitmap = np.zeros(m // 8, dtype=np.uint8)
    pos = _bloom_positions(keys_u64, m).ravel()
    np.bitwise_or.at(bitmap, pos >> np.uint64(3), (1 << (pos & np.uint64(7))).astype(np.uint8))
    return bitmap


def _bloom_maybe_any(bitmap, m: int, keys_u64) -> bool:
    """True iff AT LEAST ONE key may be present (all k bits set for it)."""
    pos = _bloom_positions(keys_u64, m)
    bits = (bitmap[(pos >> np.uint64(3)).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
    return bool(bits.all(axis=1).any())


def _bloom_entry(keys_u64) -> dict:
    """Manifest entry {n, m, bits (base64)} of one partition's distinct keys."""
    m = _bloom_m_bits(len(keys_u64))
    bits = base64.b64encode(_bloom_build(keys_u64, m).tobytes()).decode()
    return {"n": len(keys_u64), "m": m, "bits": bits}


def _bucket_rows(keys_i64, n_buckets: int) -> list[tuple[int, "object"]]:
    """(store_bucket, row indices) of int64 keys on the driver, in bucket
    order, with the JVM's bucket (`_bucket_col`: pmod of an xxhash64
    value)."""
    bucket = np.mod(keys_i64, n_buckets)  # numpy's mod takes the divisor's sign
    order = np.argsort(bucket, kind="stable")
    ids, starts = np.unique(bucket[order], return_index=True)
    return [(int(b), i) for b, i in zip(ids, np.split(order, starts[1:]))]


def _keys_by_bucket(keys_i64, n_buckets: int) -> dict[int, "object"]:
    """{store_bucket: distinct uint64 keys} of int64 keys."""
    keys = np.unique(np.asarray(keys_i64, dtype=np.int64))
    return {b: keys[i].view(np.uint64) for b, i in _bucket_rows(keys, n_buckets)}


def _write_bucket_manifest(out: str, written, extra: dict | None = None) -> int:
    """Mark the batch directory `out` complete once its bucket files are
    written: `_SUCCESS`, then the manifest of `written` ((bucket, Bloom
    entry, bytes) per file). The manifest records which store_bucket
    partitions the batch wrote, so readers prune with zero filesystem
    listing at all: the object-store-friendly form of the explicit-path
    read (an S3 LIST per batch per micro-batch is exactly the metadata tax
    the bucketed layout exists to avoid). Each bucket's key Bloom filter
    enables KEY-LEVEL pruning inside touched buckets (see the module-level
    Bloom notes). Returns the data bytes written."""
    written = sorted(written, key=lambda w: w[0])
    payload: dict = {"store_buckets": [b for b, _, _ in written]}
    if written:
        payload["bloom_k"] = _BLOOM_K
        payload["blooms"] = {str(b): e for b, e, _ in written}
    if extra:
        payload.update(extra)
    open(os.path.join(out, "_SUCCESS"), "w").close()
    with open(os.path.join(out, _MANIFEST), "w") as f:
        json.dump(payload, f)
    return sum(n for _, _, n in written)


def _batch_manifest(store_dir: str, batch_dir_name: str) -> dict:
    """Manifest dict for one batch directory: the stored manifest if
    available (no listing), else a synthesized {store_buckets} from a
    directory listing (stores written before manifests — no blooms)."""
    batch_dir = os.path.join(store_dir, batch_dir_name)
    mpath = os.path.join(batch_dir, _MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            return json.load(f)
    return {
        "store_buckets": [
            int(d.split("=", 1)[1])
            for d in os.listdir(batch_dir)
            if d.startswith("store_bucket=")
        ]
    }


def _batch_buckets(store_dir: str, batch_dir_name: str) -> list[int]:
    return _batch_manifest(store_dir, batch_dir_name)["store_buckets"]


def _key_col(col: str):
    """The int64 key a store side is bucketed and Bloom-filtered by:
    band_key is already an xxhash64 value; other columns get an xxhash64."""
    return F.col(col) if col == "band_key" else F.xxhash64(F.col(col))


def _bucket_col(col: str, n_buckets: int):
    """Stable hash bucket for store partitioning: a plain pmod of the
    uniformly spread `_key_col`."""
    return F.pmod(_key_col(col), F.lit(n_buckets)).cast("int")


def _collect_key_filter(
    df: DataFrame, bucket_expr, key_expr, cap: int = _KEY_PRUNE_MAX_KEYS
) -> dict[int, "object"] | None:
    """Driver-side {bucket: uint64 key array} of the batch's distinct
    (bucket, key) pairs, for Bloom probing of store partitions. Returns None
    when the batch is too wide to collect (> cap distinct keys) — callers
    then fall back to bucket-level pruning only. The collect is explicitly
    bounded: ≤ cap rows of (int, long)."""
    pairs = df.select(
        bucket_expr.alias("__b"), key_expr.alias("__k")
    ).distinct()
    # limit(cap+1) bounds the size check itself — no full count of a wide
    # batch's key set just to learn it is too big
    rows = pairs.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["__b"]), []).append(r["__k"])
    return {
        b: np.array(ks, dtype=np.int64).view(np.uint64) for b, ks in out.items()
    }


def pruned_store_read(
    spark: SparkSession,
    store_dir: str,
    epoch_id: int,
    touched_buckets: list[int],
    schema: StructType,
    key_filter: dict[int, "object"] | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Read a bucketed store side (`<store>/bands` or `<store>/signatures`)
    pruned to (a) batches other than `epoch_id` (a failed previous attempt of
    this same epoch is about to be overwritten) and (b) only the hash buckets
    in `touched_buckets`.

    The touched partition directories are enumerated EXPLICITLY and passed as
    scan paths (with basePath so the partition columns survive) instead of
    root-reading the store and filtering: a root read must LIST the whole
    store before partition pruning can apply, which is O(total batches ×
    buckets) file-system metadata per micro-batch — measured 45 s for a
    3-document probe against a 10-batch × 1024-bucket store, vs O(touched)
    existence checks here. On a real deployment the listdir/isdir calls
    below are the same O(touched) calls against the object store (or an
    Iceberg manifest lookup). df.inputFiles() on the result shows exactly
    the touched files.

    With `key_filter` ({bucket: uint64 key array} of the batch's keys), a
    touched partition is additionally Bloom-probed against its manifest's
    per-bucket key filter and skipped when NO batch key can be present —
    key-level pruning inside touched buckets, the piece bucket pruning
    cannot provide when a wide batch touches every bucket. Partitions whose
    manifests predate blooms are kept unconditionally (no false pruning).

    `schema` holds the side's data columns, so Spark runs no
    schema-inference job; the partition columns are taken from the paths.
    When no partition is kept (no touched bucket, or all Bloom-pruned) the
    read is an empty frame of `schema`, built without a Spark job.
    `stats_out` as in `_pruned_paths`."""
    paths = _pruned_paths(store_dir, epoch_id, touched_buckets, key_filter, stats_out)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", store_dir).parquet(*paths)


def _data_files(part_dir: str) -> list[str]:
    """The parquet files of one partition directory (hidden temp files of
    `_write_bucket`, and Spark's `.crc` and `_SUCCESS` files, excluded)."""
    return sorted(
        os.path.join(part_dir, f)
        for f in os.listdir(part_dir)
        if not f.startswith((".", "_"))
    )


def _pruned_paths(
    store_dir: str,
    epoch_id: int,
    touched_buckets: list[int],
    key_filter: dict[int, "object"] | None = None,
    stats_out: dict | None = None,
) -> list[str]:
    """The partition directories of pruned_store_read that may hold a batch
    key.

    `stats_out`, if given, has the numbers of partitions read and
    Bloom-pruned, and the data files and bytes of the partitions read, added
    to its `partitions_read`, `partitions_bloom_pruned`, `files_read` and
    `bytes_read` (callers read both store sides into one dict)."""
    want = {int(b) for b in touched_buckets}
    paths: list[str] = []
    n_bloom_pruned = 0
    if os.path.isdir(store_dir):
        for d in os.listdir(store_dir):
            if not d.startswith("batch_id="):
                continue
            if int(d.split("=", 1)[1]) == epoch_id:
                continue
            man = _batch_manifest(store_dir, d)
            blooms = man.get("blooms") or {}
            for b in want.intersection(man["store_buckets"]):
                path = os.path.join(store_dir, d, f"store_bucket={b}")
                if key_filter is not None and str(b) in blooms:
                    keys = key_filter.get(b)
                    info = blooms[str(b)]
                    if (
                        keys is None
                        or not len(keys)
                        or not _bloom_maybe_any(
                            np.frombuffer(
                                base64.b64decode(info["bits"]), dtype=np.uint8
                            ),
                            int(info["m"]),
                            keys,
                        )
                    ):
                        # no batch key can be in this partition
                        n_bloom_pruned += 1
                        continue
                paths.append(path)
    if stats_out is not None:
        files = [f for p in paths for f in _data_files(p)]
        for k, n in (
            ("partitions_read", len(paths)),
            ("partitions_bloom_pruned", n_bloom_pruned),
            ("files_read", len(files)),
            ("bytes_read", sum(os.path.getsize(f) for f in files)),
        ):
            stats_out[k] = stats_out.get(k, 0) + n
    return paths


def _spark_pruned_read(
    spark: SparkSession,
    store_dir: str,
    epoch_id: int,
    schema: StructType,
    df: DataFrame,
    bucket_expr,
    key_expr,
    stats_out: dict | None,
) -> DataFrame:
    """pruned_store_read of the partitions that may hold df's keys, from keys
    that stay in Spark: Bloom-probed when the distinct (bucket, key) pairs
    fit _collect_key_filter's cap, else pruned by bucket only."""
    kf = _collect_key_filter(df, bucket_expr, key_expr)
    if kf is None:
        touched = [
            r[0] for r in df.select(bucket_expr.alias("b")).distinct().collect()
        ]
    else:
        touched = list(kf)
    return pruned_store_read(spark, store_dir, epoch_id, touched, schema, kf, stats_out)


def _new_stats(path: str) -> dict:
    return {
        "path": path,
        "partitions_read": 0,
        "partitions_bloom_pruned": 0,
        "files_read": 0,
        "bytes_read": 0,
    }


def _pair_schema(url_type) -> StructType:
    return StructType(
        [
            StructField("url_a", url_type),
            StructField("url_b", url_type),
            StructField("est_jaccard", DoubleType()),
        ]
    )


def _collect_batch(batch_df: DataFrame, cfg: DedupConfig):
    """Step 1 of the narrow path: the batch's (url, minhash, band_keys) as
    an Arrow table, or None when the batch is wide (more than max_rows =
    _KEY_PRUNE_MAX_KEYS / bands rows). `signatures.collect_signed` brings
    a narrow batch of up to `signatures._LOCAL_MAX_SIGN_BYTES` of text to
    the driver and signs it there, and `local.band_keys` derives the band
    keys: the values of the signature UDF and `lsh.band_keys`, with no
    Python worker started. A wide batch, or one of more text, brings only
    its text lengths to the driver; the UDF signs a narrow one of more
    text in parallel instead. None, with no job run, when `local.xxhash64`
    cannot bucket the url type as Spark does."""
    max_rows = _KEY_PRUNE_MAX_KEYS // cfg.bands
    if not local.xxhash64_supports(to_arrow_type(batch_df.schema["url"].dataType)):
        return None
    batch = batch_df.select("url", "text")
    n, tbl, S = collect_signed(batch, cfg, max_rows)
    if n > max_rows:
        return None
    if tbl is None:
        sigs = with_minhash_signature(batch, cfg)
        return sigs.select(
            "url", "minhash", band_keys("minhash", cfg).alias("band_keys")
        ).toArrow()
    keys = local.band_keys(S, cfg)
    return pa.table(
        {
            "url": tbl["url"],
            "minhash": packed_array(S),
            "band_keys": pa.ListArray.from_arrays(
                np.arange(0, keys.size + 1, cfg.bands, dtype=np.int32), keys.ravel()
            ),
        }
    )


def _batch_sigs(spark: SparkSession, batch_df: DataFrame, tbl, cfg) -> DataFrame:
    """The batch's (url, minhash) for the Spark path: the collected table of
    `_collect_batch` when it ran (no batch is signed twice), else the
    signature UDF."""
    if tbl is None:
        return with_minhash_signature(batch_df.select("url", "text"), cfg).select(
            "url", "minhash"
        )
    schema = StructType([batch_df.schema["url"], StructField("minhash", BinaryType())])
    return spark.createDataFrame(tbl.select(["url", "minhash"]), schema)


def _read_on_driver(
    store_dir: str,
    epoch_id: int,
    keys,
    n_store_buckets: int,
    schema: pa.Schema,
    where: ds.Expression,
    stats: dict,
    limit: int | None = None,
) -> pa.Table | None:
    """The rows matching `where` of the store partitions that may hold one
    of `keys` (int64 band keys or url hashes), read with pyarrow; None when
    they exceed `limit` rows (the scan stops at limit + 1)."""
    kf = _keys_by_bucket(keys, n_store_buckets)
    paths = _pruned_paths(store_dir, epoch_id, list(kf), kf, stats)
    files = [f for p in paths for f in _data_files(p)]
    scan = ds.dataset(files, schema=schema, format="parquet").scanner(filter=where)
    if limit is None:
        return scan.to_table()
    got = scan.head(limit + 1)
    return None if got.num_rows > limit else got


def _resolve_on_driver(
    tbl,
    url_type,
    store_path: str,
    cfg: DedupConfig,
    epoch_id: int,
    n_store_buckets: int,
    probe: bool,
    stats: dict,
):
    """Steps 2-6 of the narrow path (see incremental_dedup_batch) for the
    table of `_collect_batch`: the verified (url_a, url_b, est_jaccard) as an
    Arrow table, or None when the band collisions exceed _KEY_PRUNE_MAX_KEYS
    rows (a hot band key), for the Spark path to take over.

    An ingest pairs the batch with itself (url_a < url_b) and with the store
    minus `epoch_id` (canonicalized), and verifies with every signature row
    of a candidate url, as verify_pairs over store ∪ batch does. A probe
    pairs only with the store (url_a = probe url), and its signature
    overrides a stored one of the same url. All of it runs on url codes
    with `local`'s kernels. Fills `stats` with n_candidates,
    n_store_band_rows and the partition and file counts."""
    cap = _KEY_PRUNE_MAX_KEYS
    at = to_arrow_type(url_type)
    sig_store, band_store = _store_subdirs(store_path)
    tbl = tbl.filter(pc.is_valid(tbl["url"]))  # a null url never joins
    urls = tbl["url"].cast(at)
    keys = pc.list_flatten(tbl["band_keys"]).to_numpy()
    store_keys, store_urls = keys[:0], pa.array([], at)
    if _has_batches(band_store):
        # the store's band rows sharing a key with the batch, from the
        # Bloom-surviving partitions
        uniq = np.unique(keys)
        got = _read_on_driver(
            band_store, epoch_id, uniq, n_store_buckets,
            pa.schema([("url", at), ("band_key", pa.int64())]),
            ds.field("band_key").isin(uniq) & ds.field("url").is_valid(),
            stats, cap,
        )
        if got is None:
            return None
        store_keys, store_urls = got["band_key"].to_numpy(), got["url"]
    ids, codes, store_codes = local.url_codes(urls, store_urls)
    key_codes = np.repeat(codes, cfg.bands)

    # band collisions, each counted once as in candidate_pairs: the batch
    # with the store (disjoint sides: the store excludes this epoch), and an
    # ingest's batch with itself once per unordered pair; the cap holds the
    # rows of both joins, the latter over keys of two or more batch rows
    joined = local.key_pairs(keys, store_keys, cap)
    if joined is None:
        return None
    ca, cb = key_codes[joined[0]], store_codes[joined[1]]
    ca, cb = ca[ca != cb], cb[ca != cb]
    if not probe:
        ca, cb = np.minimum(ca, cb), np.maximum(ca, cb)
        _, inv, cnt = np.unique(keys, return_inverse=True, return_counts=True)
        multi = np.flatnonzero(cnt[inv] >= 2)
        self_joined = local.key_pairs(keys[multi], keys[multi], cap - len(joined[0]))
        if self_joined is None:
            return None
        a, b = (key_codes[multi[i]] for i in self_joined)
        ca, cb = np.r_[ca, a[a < b]], np.r_[cb, b[a < b]]
    n = max(len(ids), 1)
    pair, n_bands = np.unique(ca * n + cb, return_counts=True)
    pair = pair[n_bands >= cfg.min_band_matches]
    ca, cb = pair // n, pair % n
    stats.update(n_candidates=len(pair), n_store_band_rows=len(store_keys))

    sig_codes, minhash = codes, tbl["minhash"].to_pylist()
    need = np.unique(cb if probe else np.r_[ca, cb])
    if len(need) and _has_batches(sig_store):
        # the stored signatures of the candidate urls, from the partitions
        # their hash may be in
        need = ids.take(need)
        stored = _read_on_driver(
            sig_store, epoch_id, local.xxhash64(need), n_store_buckets,
            pa.schema([("url", at), ("minhash", pa.binary())]),
            ds.field("url").isin(need), stats,
        )
        if probe:
            stored = stored.filter(pc.invert(pc.is_in(stored["url"], value_set=urls)))
        sig_codes = np.r_[pc.index_in(stored["url"], value_set=ids).to_numpy(), codes]
        minhash = stored["minhash"].to_pylist() + minhash

    # verify every (pair, signature row of url_a, signature row of url_b)
    S = signature_rows(minhash, cfg.minhash.sketch_size)
    ia, ib = local.pair_rows(sig_codes, ca, cb)
    keep, est = local.verify(S, ia, ib, cfg.jaccard_threshold)
    ea, eb = sig_codes[ia[keep]], sig_codes[ib[keep]]
    return pa.table({"url_a": ids.take(ea), "url_b": ids.take(eb), "est_jaccard": est})


def _write_parquet(rows: pa.Table, path: str) -> None:
    """pq.write_table with the encoding choices that keep a store file
    small: a column is dictionary-encoded only when its dictionary plus
    bit-packed indices take fewer bytes than its plain values (the test
    Spark's parquet writer makes before it falls back to plain), and the
    signatures, random bytes, get no min/max statistics."""
    dictionary = []
    for name in rows.column_names:
        col = rows[name]
        n, d = len(col), pc.count_distinct(col).as_py()
        if n and col.nbytes * d / n + n * max(d - 1, 1).bit_length() / 8 < col.nbytes:
            dictionary.append(name)
    pq.write_table(
        rows, path, use_dictionary=dictionary,
        write_statistics=[c for c in rows.column_names if c != "minhash"],
        store_schema=False,
    )


def _write_bucket(out: str, b: int, rows: pa.Table, keys) -> tuple[dict, int]:
    """The one writer of store files: write one bucket's rows as
    out/store_bucket=<b>/part-00000.parquet and return the bucket's Bloom
    entry over its int64 `keys` and the file's bytes. It runs on the driver
    and in executor tasks. The file is written under a hidden, unique name
    (skipped by `_data_files`, pyarrow and Spark) and then moved into place,
    so a retried task replaces the file of an earlier attempt instead of
    adding a second one."""
    part = os.path.join(out, f"store_bucket={b}")
    os.makedirs(part, exist_ok=True)
    path = os.path.join(part, "part-00000.parquet")
    tmp = os.path.join(part, f".part-{uuid.uuid4().hex}.tmp")
    _write_parquet(rows, tmp)
    os.replace(tmp, path)
    return _bloom_entry(np.unique(keys).view(np.uint64)), os.path.getsize(path)


def _write_buckets(out: str, parts, extra: dict | None = None) -> int:
    """Overwrite the batch directory `out` on the driver: one file per store
    bucket of `parts` ((bucket, rows, int64 keys) items), then
    `_write_bucket_manifest`. Returns the data bytes written."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    written = [(b, *_write_bucket(out, b, rows, keys)) for b, rows, keys in parts]
    return _write_bucket_manifest(out, written, extra)


def _write_buckets_on_spark(
    out: str, df: DataFrame, cols: list[str], key, order: list, extra: dict | None = None
) -> int:
    """`_write_buckets` in executor tasks, as one Spark action: df's rows
    (with a store_bucket column) grouped by bucket, each group written by
    `_write_bucket` with its `cols` in the order of the `order` columns and
    its Bloom over the int64 `key` column; the driver collects one row per
    bucket, then writes the manifest. The driver's rows of the same batch
    are in the same order, so both write the same files. Returns the data
    bytes written."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    by = [(f"__o{i}", "ascending") for i in range(len(order))]

    def write(tbl: pa.Table) -> pa.Table:
        tbl = tbl.take(pc.sort_indices(tbl, by))
        b = tbl["store_bucket"][0].as_py()
        bloom, size = _write_bucket(out, b, tbl.select(cols), tbl["__key"].to_numpy())
        return pa.table({"b": [b], "bloom": [json.dumps(bloom)], "size": [size]})

    rows = (
        df.select(
            "store_bucket", *cols, key.alias("__key"),
            *[c.alias(name) for c, (name, _) in zip(order, by)],
        )
        .groupBy("store_bucket")
        .applyInArrow(write, "b long, bloom string, size long")
        .collect()
    )
    written = [(r["b"], json.loads(r["bloom"]), r["size"]) for r in rows]
    return _write_bucket_manifest(out, written, extra)


def _write_on_driver(
    tbl, store_path: str, cfg: DedupConfig, epoch_id: int, n_store_buckets: int
) -> None:
    """Both store sides of a narrow batch from the rows already on the
    driver: the files and manifests of `_spark_ingest`'s writes, without a
    Spark job."""
    sig_store, band_store = _store_subdirs(store_path)
    band_key = pc.list_flatten(tbl["band_keys"])
    band_url = tbl["url"].take(np.repeat(np.arange(tbl.num_rows), cfg.bands))
    sides = (
        (sig_store, tbl["url"], "minhash", tbl["minhash"], local.xxhash64(tbl["url"])),
        (band_store, band_url, "band_key", band_key, band_key.to_numpy()),
    )
    for side_dir, url, name, col, keys in sides:
        rows = pa.table({"url": url, name: col})
        parts = [(b, rows.take(i), keys[i]) for b, i in _bucket_rows(keys, n_store_buckets)]
        _write_buckets(os.path.join(side_dir, f"batch_id={epoch_id}"), parts)


def _spark_pairs(
    spark: SparkSession,
    batch_sigs: DataFrame,
    new_bands: DataFrame,
    store_path: str,
    cfg: DedupConfig,
    epoch_id: int,
    n_store_buckets: int,
    probe: bool,
    stats_out: dict | None,
) -> DataFrame:
    """The wide path's verified pairs: `_resolve_on_driver`'s pairing and
    verification as Spark joins and the estimator UDF on urls, and its
    `stats_out` values, at one extra job per row count."""
    sig_store, band_store = _store_subdirs(store_path)
    # candidates restricted to pairs touching the new batch, in two legs so
    # each band collision is counted exactly once (the batch candidate_pairs
    # semantics): batch-vs-batch enumerates each unordered pair once via
    # url_a < url_b; batch-vs-store joins the new-batch band table against
    # the persisted store (the sides are disjoint — the store excludes this
    # epoch — so only canonicalization is needed). A single new-vs-all join
    # would keep BOTH orderings of an intra-batch pair, doubling its
    # band-match count vs batch-vs-store pairs.
    url = new_bands.schema["url"]
    batch_a = new_bands.select("band_key", F.col("url").alias("url_a"))
    legs = []
    if not probe:
        legs.append(
            batch_a.join(
                new_bands.select("band_key", F.col("url").alias("url_b")), ["band_key"]
            ).where(F.col("url_a") < F.col("url_b"))
        )
    prev_bands = None
    if _has_batches(band_store):
        # a null url never joins, and the narrow path's read drops it too
        prev_bands = _spark_pruned_read(
            spark, band_store, epoch_id,
            StructType([url, StructField("band_key", LongType())]), new_bands,
            _bucket_col("band_key", n_store_buckets), _key_col("band_key"), stats_out,
        ).where(F.col("url").isNotNull())
        store = batch_a.join(
            prev_bands.select("band_key", F.col("url").alias("url_b")), ["band_key"]
        ).where(F.col("url_a") != F.col("url_b"))
        if not probe:
            store = store.select(
                "band_key",
                F.least("url_a", "url_b").alias("url_a"),
                F.greatest("url_a", "url_b").alias("url_b"),
            )
        legs.append(store)
    collisions = legs[0]
    for leg in legs[1:]:
        collisions = collisions.unionByName(leg)
    # materialize the candidate set once: the url-bucket collection below
    # needs an action anyway, and checkpointing keeps the caller's later
    # materialization of the pairs from recomputing the collision join
    joined = (
        collisions.groupBy("url_a", "url_b")
        .agg(F.count("*").alias("n_bands"))
        .where(F.col("n_bands") >= cfg.min_band_matches)
        .drop("n_bands")
    ).localCheckpoint()

    all_sigs = batch_sigs
    if prev_bands is not None:
        # verification only needs the signatures of candidate members: read
        # the signature-store partitions that may hold a candidate url (key =
        # xxhash64(url), the derivation of the write-side manifest blooms)
        u = F.col("url_b") if probe else F.explode(F.array("url_a", "url_b"))
        prev_sigs = _spark_pruned_read(
            spark, sig_store, epoch_id,
            StructType([url, StructField("minhash", BinaryType())]),
            joined.select(u.alias("u")),
            _bucket_col("u", n_store_buckets), _key_col("u"), stats_out,
        ).select("url", "minhash")
        if probe:
            # a probe url may also exist IN the store (re-checking a known
            # doc): the probe's current signature is authoritative, and a url
            # must appear once in the sig table or the verify joins would
            # duplicate its pairs
            prev_sigs = prev_sigs.join(batch_sigs.select("url"), "url", "left_anti")
        all_sigs = prev_sigs.unionByName(batch_sigs)
    if stats_out is not None:
        stats_out["n_candidates"] = joined.count()
        stats_out["n_store_band_rows"] = (
            0
            if prev_bands is None
            else prev_bands.join(new_bands.select("band_key"), "band_key", "left_semi")
            .count()
        )
    return verify_pairs(joined, all_sigs, cfg)


def _spark_ingest(
    spark: SparkSession,
    batch_sigs: DataFrame,
    store_path: str,
    cfg: DedupConfig,
    epoch_id: int,
    n_store_buckets: int,
    stats_out: dict | None,
) -> DataFrame:
    """The wide path of incremental_dedup_batch: pairs and verification as
    Spark jobs, and each store side written by `_write_buckets_on_spark`."""
    sig_store, band_store = _store_subdirs(store_path)
    batch_sigs = batch_sigs.persist()
    new_bands = bands_table(batch_sigs, cfg).persist()
    verified = _spark_pairs(
        spark, batch_sigs, new_bands, store_path, cfg, epoch_id,
        n_store_buckets, False, stats_out,
    )
    # each side in one action: every task writes one bucket's file, in the
    # batch's row order, and returns its Bloom (the key-level read pruning
    # of every later batch and probe)
    for side_dir, rows, col, key in (
        (sig_store, batch_sigs, "minhash", "url"),
        (band_store, new_bands, "band_key", "band_key"),
    ):
        _write_buckets_on_spark(
            os.path.join(side_dir, f"batch_id={epoch_id}"),
            rows.withColumn("store_bucket", _bucket_col(key, n_store_buckets)),
            ["url", col], _key_col(key), [F.monotonically_increasing_id()],
        )
    batch_sigs.unpersist()
    new_bands.unpersist()
    return verified


def incremental_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    cfg: DedupConfig | None = None,
    epoch_id: int = 0,
    n_store_buckets: int = 64,
    stats_out: dict | None = None,
) -> DataFrame:
    """Dedup one micro-batch against the accumulated signature store:
    signatures + LSH bands for the batch, band join of the new bands against
    the PERSISTED band store ∪ batch bands, verified pairs returned; batch
    signatures and bands appended to the store. Designed for foreachBatch
    (pass its epoch_id through).

    Two paths, the same pairs and the same store rows:
    - narrow (rows × bands ≤ _KEY_PRUNE_MAX_KEYS, decided by a collect of
      the text lengths of at most max_rows + 1 rows): that collect and the
      collect of the urls and texts are the only Spark jobs, and neither
      evaluates Python. The driver signs the texts and keys their bands
      (`_collect_batch`; above `signatures._LOCAL_MAX_SIGN_BYTES` of text
      the signature UDF does), Bloom-prunes the store partitions, reads
      with pyarrow the band rows sharing a batch key, counts band matches
      per pair of url codes with `local`'s kernels, reads the stored
      signatures of the candidate urls (bucketed by `local.xxhash64`,
      Spark's hash of the url), verifies with `local.verify` and writes
      both store sides with `_write_bucket`, Blooms built on the driver.
      Every Python task costs ~0.1 s before it sees data, more than
      signing a small batch on the driver, so a small batch never crosses
      the boundary. A batch whose band collisions exceed the same cap (a
      hot key) hands its collected signatures to the wide path, and a
      batch whose url type `local.xxhash64` does not hash takes the wide
      path from the start.
    - wide (larger batches): the same steps as Spark joins, the signature
      UDF and the estimator UDF; each store side is one Spark action that
      runs `_write_bucket` once per bucket in an executor task.

    Scale + exactly-once design:
    - The band table is a persisted, incrementally-grown store
      (`<store>/bands/batch_id=N/`), NOT recomputed from all signatures each
      micro-batch — at corpus scale re-banding the store would make every
      batch O(corpus).
    - Both store sides are HASH-BUCKETED on write (partition column
      `store_bucket` = hash pmod n_store_buckets over band_key / url), so the
      per-batch reads prune to the directories the batch actually touches: a
      small batch against a huge store reads O(batch-touched buckets), not
      O(corpus). `n_store_buckets` is a property of the store layout — use
      the same value for every batch written to one store (size it so
      batch_docs × bands ≪ corpus_bands / n_store_buckets stays selective;
      64 suits tests, thousands suit a 10^12-doc store).
    - Store writes are IDEMPOTENT per batch: each batch overwrites its own
      batch_id-keyed partition directory, so a foreachBatch replay (failure
      after the store write but before the sink commit) rewrites the same
      data instead of appending duplicates that would inflate band-match
      counts forever. The streaming checkpoint alone cannot provide this —
      the store write is a side effect outside the sink transaction.

    `stats_out`, if given, receives {"path": "narrow" | "wide",
    "n_candidates", "n_store_band_rows" (store band rows of a non-null url
    sharing a key with the batch), "partitions_read",
    "partitions_bloom_pruned", "files_read", "bytes_read"} (store
    partitions, and the data files and bytes in those read, over both
    sides). On the wide path the two row counts cost one
    extra job each.
    """
    cfg = cfg or DedupConfig()
    n_store_buckets = _effective_store_buckets(store_path, n_store_buckets)
    url_field = batch_df.schema["url"]
    tbl = _collect_batch(batch_df, cfg)
    stats: dict | None = _new_stats("narrow")
    pairs = None
    if tbl is not None:
        pairs = _resolve_on_driver(
            tbl, url_field.dataType, store_path, cfg, epoch_id,
            n_store_buckets, False, stats,
        )
    if pairs is None:
        stats = None if stats_out is None else _new_stats("wide")
        verified = _spark_ingest(
            spark, _batch_sigs(spark, batch_df, tbl, cfg), store_path, cfg,
            epoch_id, n_store_buckets, stats,
        )
    else:
        _write_on_driver(tbl, store_path, cfg, epoch_id, n_store_buckets)
        verified = spark.createDataFrame(pairs, _pair_schema(url_field.dataType))
    if stats_out is not None:
        stats_out.update(stats)
    return verified


def probe_store(
    spark: SparkSession,
    batch_df: DataFrame,
    store_path: str,
    cfg: DedupConfig | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """READ-ONLY near-dup lookup against an accumulated store: which stored
    documents is each probe document a near-duplicate of? Returns
    (url_a = probe url, url_b = stored url, est_jaccard); the store is not
    modified — the "is this already in my corpus?" API, e.g. an ingest
    gate or an eval-set decontamination check against a training corpus.

    The narrow and wide paths of incremental_dedup_batch, minus the
    intra-batch pair leg and minus the store writes: a narrow probe runs
    two JVM-only Spark jobs (the collects of its text lengths and of its
    urls and texts), signs on the driver and reads the store with pyarrow.
    A probe url that is also stored is verified with the probe's
    signature. `stats_out` as in incremental_dedup_batch."""
    cfg = cfg or DedupConfig()
    if not _has_batches(_store_subdirs(store_path)[1]):
        raise ValueError(f"probe_store: {store_path} has no batches to probe")
    n_store_buckets = _effective_store_buckets(store_path, None)
    url_type = batch_df.schema["url"].dataType

    tbl = _collect_batch(batch_df, cfg)
    stats: dict | None = _new_stats("narrow")
    pairs = None
    if tbl is not None:
        # epoch -1: no batch is excluded — probes read the whole (pruned) store
        pairs = _resolve_on_driver(
            tbl, url_type, store_path, cfg, -1, n_store_buckets, True, stats
        )
    if pairs is not None:
        out = spark.createDataFrame(pairs, _pair_schema(url_type))
    else:
        stats = None if stats_out is None else _new_stats("wide")
        batch_sigs = _batch_sigs(spark, batch_df, tbl, cfg).persist()
        out = _spark_pairs(
            spark, batch_sigs, bands_table(batch_sigs, cfg), store_path, cfg, -1,
            n_store_buckets, True, stats,
        )
        batch_sigs.unpersist()
    if stats_out is not None:
        stats_out.update(stats)
    return out


# ---- store compaction -------------------------------------------------------
# Every ingested batch adds one batch_id=N directory per store side, each
# holding up to n_store_buckets small parquet files. Reads prune by BUCKET,
# so a store of B batches pays O(B) files (and manifest probes) per touched
# bucket forever — the per-batch file fan-out is the growing cost of
# wide-batch ingest that bucket/key pruning cannot remove (the reference's
# analog is its epoch-merge amortization knob `b`,
# src/parallel/minhash-concurrent.c:494-506). Compaction rewrites the
# existing batch directories into ONE batch directory per side (same rows,
# same bucketing, one file per bucket) with a merged manifest and REBUILT
# per-bucket key Blooms, so later batches/probes read and Bloom-probe one
# partition per touched bucket instead of B.

_COMPACT_SENTINEL = -1  # probe_store's "exclude nothing" epoch — never reuse
# A side of at most this many rows (summed from its files' parquet footers)
# is compacted on the driver with pyarrow, one bucket in memory at a time; a
# larger one with Spark jobs. Measured at the cap on a 4-core box, 8 buckets
# of 2^19 rows, ~60-byte urls and 512-byte signatures (2.2 GB of parquet):
# peak driver-Python RSS 1.7 GB, 26.5 s; RSS grows with the largest bucket.
_LOCAL_MAX_COMPACT_ROWS = 1 << 22


def _side_batch_ids(side_dir: str) -> list[int]:
    if not os.path.isdir(side_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(side_dir)
        if d.startswith("batch_id=")
    )


def _finish_pending_compaction(side_dir: str) -> None:
    """Idempotent recovery: a compacted directory's manifest lists the batch
    dirs it replaces; any of them still present (crash between the compacted
    rename and the source removal) are removed now, and an un-renamed tmp dir
    from an interrupted write is discarded."""
    tmp = os.path.join(side_dir, "_compacting_tmp")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    for i in _side_batch_ids(side_dir):
        d = f"batch_id={i}"
        if not os.path.isdir(os.path.join(side_dir, d)):
            continue  # replaced by a compacted directory listed before it
        for src in _batch_manifest(side_dir, d).get("replaces", []):
            src_path = os.path.join(side_dir, src)
            if os.path.isdir(src_path):
                shutil.rmtree(src_path)


def _side_files(side_dir: str, src_dirs: list[str]) -> dict[int, list[str]]:
    """{store_bucket: data files} of the batch directories src_dirs."""
    out: dict[int, list[str]] = {}
    for d in src_dirs:
        for b in _batch_buckets(side_dir, d):
            part = os.path.join(side_dir, d, f"store_bucket={b}")
            out.setdefault(b, []).extend(_data_files(part))
    return dict(sorted(out.items()))


def _compact_on_driver(files: dict[int, list[str]], tmp: str, src_dirs: list[str]) -> int | None:
    """Write the compacted side to `tmp` with `_write_buckets`, one bucket in
    memory at a time: each bucket's rows of every source file, keyed by
    band_key or by `local.xxhash64(url)`. None, with nothing written, when
    local.xxhash64 cannot hash the url type as Spark does."""
    first = next((f for fs in files.values() for f in fs), None)
    schema = None if first is None else pq.read_schema(first).remove_metadata()
    if schema is not None and "band_key" not in schema.names:
        if not local.xxhash64_supports(schema.field("url").type):
            return None

    def parts():
        for b, fs in files.items():
            rows = ds.dataset(fs, schema=schema, format="parquet").to_table()
            keys = (
                rows["band_key"].to_numpy()
                if "band_key" in rows.column_names
                else local.xxhash64(rows["url"])
            )
            yield b, rows, keys

    return _write_buckets(tmp, parts(), extra={"replaces": src_dirs})


def _compact_on_spark(
    spark: SparkSession, side_dir: str, files: dict[int, list[str]], tmp: str, src_dirs: list[str]
) -> int:
    """Write the compacted side to `tmp` with `_write_buckets_on_spark`,
    each bucket's rows in `_compact_on_driver`'s order (source batch, file,
    row). The schema comes from one file's footer, so Spark runs no
    schema-inference job. Returns the data bytes written."""
    first = next(f for fs in files.values() for f in fs)
    df = (
        spark.read.schema(from_arrow_schema(pq.read_schema(first)))
        .option("basePath", side_dir)
        .parquet(*[os.path.join(side_dir, d) for d in src_dirs])
    )
    cols = [c for c in df.columns if c not in ("batch_id", "store_bucket")]
    key = _key_col("band_key" if "band_key" in cols else "url")
    order = [F.col("batch_id"), F.col("_metadata.file_path"), F.col("_metadata.row_index")]
    return _write_buckets_on_spark(tmp, df, cols, key, order, extra={"replaces": src_dirs})


def compact_store(
    spark: SparkSession,
    store_path: str,
    min_batches: int = 2,
) -> dict:
    """Compact both sides of an incremental store: merge every existing
    batch_id directory into one compacted batch per side (content-identical
    row union — no dedup, no re-hashing), one file per store bucket, merged
    manifest with rebuilt key Blooms. Returns {side: {"merged": n, "id": id,
    "path": "local" | "spark" | None, "rows": rows merged, "bytes_written":
    data bytes of the compacted batch}}.

    A side of at most _LOCAL_MAX_COMPACT_ROWS rows, counted from the source
    files' parquet footers, is rewritten on the driver and runs no Spark
    job; a larger one (or one whose url type `local.xxhash64` does not
    hash) is rewritten by one Spark action, a task per bucket. Both use
    the one bucket writer and write the same files.

    Call between micro-batches from the ingest driver (the store's existing
    single-writer contract). Crash-safe in the store's idempotent style:
    the compacted directory is written under a tmp name and renamed into
    place before the source directories are removed; the manifest's
    `replaces` list makes recovery (re-running compact_store, or the next
    one) finish the removal. Compacted ids are negative and descending
    (-2, -3, ...) so they can never collide with a foreachBatch epoch id or
    with probe_store's exclude-nothing sentinel (-1)."""
    out: dict = {}
    for side_dir in _store_subdirs(store_path):
        side = os.path.basename(side_dir)
        _finish_pending_compaction(side_dir)
        ids = _side_batch_ids(side_dir)
        if len(ids) < min_batches:
            out[side] = {"merged": 0, "id": None, "path": None, "rows": 0, "bytes_written": 0}
            continue
        new_id = min(_COMPACT_SENTINEL, min(ids)) - 1
        src_dirs = [f"batch_id={i}" for i in ids]
        tmp = os.path.join(side_dir, "_compacting_tmp")
        files = _side_files(side_dir, src_dirs)
        rows = sum(pq.read_metadata(f).num_rows for fs in files.values() for f in fs)
        path, size = "local", None
        if rows <= _LOCAL_MAX_COMPACT_ROWS:
            size = _compact_on_driver(files, tmp, src_dirs)
        if size is None:
            path, size = "spark", _compact_on_spark(spark, side_dir, files, tmp, src_dirs)
        os.rename(tmp, os.path.join(side_dir, f"batch_id={new_id}"))
        for d in src_dirs:
            shutil.rmtree(os.path.join(side_dir, d))
        out[side] = {
            "merged": len(ids), "id": new_id, "path": path, "rows": rows,
            "bytes_written": size,
        }
    return out


def maybe_compact_store(
    spark: SparkSession, store_path: str, max_batches: int = 16
) -> dict | None:
    """File-count policy hook for ingest loops: compact when either store
    side has accumulated more than `max_batches` batch directories."""
    if any(
        len(_side_batch_ids(d)) > max_batches for d in _store_subdirs(store_path)
    ):
        return compact_store(spark, store_path)
    return None
