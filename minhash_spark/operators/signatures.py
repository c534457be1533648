"""MinHash signature stage — the distributed counterpart of the reference's
insert loop (basic_insert over every set element,
/root/reference/src/utils/utils.c:3-33) collapsed into one vectorized numpy
call per batch of documents (`signature_matrix`): hash each document's
shingle set against all `sketch_size` functions and take column minima.

Two callers run that body. Above `_LOCAL_MAX_SIGN_BYTES` of text, the
Arrow-batched pandas UDF signs in Spark, one thread per task (executors
already run one task per core). Below it, `collect_signed` brings the
texts to the driver and `sign_texts` signs them there over a thread pool
(numpy's ufuncs release the GIL), so no Python worker starts: the
pipeline's signature stage and the store's narrow batches both take this
path. Hash-function coefficients (≤ a few KiB) are drawn from the
config's seed for every batch — the analog of the reference's shared
`hash_functions` table. Every value is < prime_modulus = 2^31-1 so int32
holds it exactly; empty cells use int32 max (config.SIG_INFTY_INT), so min
merges keep their semantics. A signature has one form: the packed one, a
little-endian int32 binary buffer of sketch_size × 4 bytes per document
(`packed_rows`), which the UDF emits, every engine writer stores,
`lsh.band_keys` slices with substring() and `signature_rows` decodes. Only
the oracle queries widen it to (pos, value) cells (queries.py).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

from ..config import DedupConfig
from ..functions.kernels import min_sketch_batch, sketch_to_int
from ..functions.shingles import char_shingle_sets_batch, shingle_fn
from ..session import default_parallelism

# A batch of up to this many bytes of text is signed on the driver
# (`collect_signed`), a larger one by the signature UDF; the store's narrow
# path and the pipeline's signature stage share it. The driver's threads
# hold the GIL between numpy calls, so per MiB they sign slower than the
# UDF's one process per core, but each UDF task first pays ~0.1 s of
# Python-worker start (and the pipeline then reads its signatures back).
# Median wall of one store ingest / pipeline run (s), driver vs UDF, and
# the driver process's peak RSS (MB) so far; 4-core box, 4 KiB docs in 4
# partitions (scripts/bench_sign_cap.py, 5 runs, the first left out). Its
# random-word text is ~70% distinct per min_sketch_batch window, so both
# paths hash every shingle occurrence; text that repeats more signs faster
# on both, which this table does not show:
#   text MiB   rows   store       pipeline    RSS
#   0.25         64   0.22 0.39   0.18 0.54   183
#   0.5         128   0.24 0.36   0.20 0.48   209
#   1           256   0.36 0.44   0.38 0.63   216
#   2           512   0.66 0.64   0.54 0.67   239
#   3           768   0.79 0.76   0.66 0.85   263
#   4         1,024   1.06 1.00   1.13 1.03   285
#   8         2,048   2.48 1.84   2.01 1.74   389
#   16        4,096   5.58 4.12   5.35 4.57   651
#   32        8,192   8.73 7.17   8.55 7.51 1,112
# The driver ties (within 5%) or beats the UDF on both callers up to 3 MiB.
_LOCAL_MAX_SIGN_BYTES = 3 << 20
# the least text a driver thread signs: smaller slices cost more in thread
# hand-off than they save, so a ~75 KB store probe stays on one thread
_SLICE_BYTES = 1 << 16


def signature_matrix(texts, cfg: DedupConfig) -> np.ndarray:
    """The int32 signatures (n, sketch_size) of a sequence of texts (str or
    None): shingle each text by cfg.shingle_mode, hash the shingle sets
    against the coefficient table drawn from cfg.minhash.seed and take
    column minima. An empty or None text is all SIG_INFTY_INT. The
    signature UDF and the driver's `sign_texts` both call this."""
    texts = list(texts)
    if cfg.shingle_mode == "char":
        # one FNV pass over the batch's concatenated bytes instead of a
        # per-document call chain — same per-doc shingle sets (guide §4.2)
        sets = char_shingle_sets_batch(texts, cfg.shingle_size)
    else:
        shingler = shingle_fn(cfg.shingle_mode, cfg.shingle_size)
        sets = [shingler(t) for t in texts]
    return sketch_to_int(min_sketch_batch(sets, cfg.minhash))


def sign_texts(texts: pa.ChunkedArray, cfg: DedupConfig) -> tuple[np.ndarray, int]:
    """`signature_matrix` of an Arrow string column, on the driver: the
    rows are cut into byte-balanced slices of at least _SLICE_BYTES of text,
    one per thread of a pool of up to `default_parallelism()` threads.
    Returns the int32 signatures (n, sketch_size) and the thread count."""
    lens = pc.binary_length(texts).fill_null(0).to_numpy()
    cum = np.cumsum(lens, dtype=np.int64)
    total = int(cum[-1]) if len(cum) else 0
    threads = int(max(1, min(default_parallelism(), total // _SLICE_BYTES)))
    if threads == 1:
        return signature_matrix(texts.to_pylist(), cfg), 1
    cuts = np.searchsorted(cum, total * np.arange(1, threads) // threads, side="right")
    bounds = np.concatenate([[0], cuts, [len(lens)]])
    with ThreadPoolExecutor(threads) as pool:
        parts = pool.map(
            lambda ab: signature_matrix(texts.slice(ab[0], ab[1] - ab[0]).to_pylist(), cfg),
            zip(bounds[:-1].tolist(), bounds[1:].tolist()),
        )
        return np.concatenate(list(parts)), threads


def collect_signed(df: DataFrame, cfg: DedupConfig, max_rows: int, stats_out: dict | None = None):
    """Bring `df` (a `text` column and the columns to keep) to the driver
    and sign it there with `sign_texts`, when it holds at most max_rows rows
    and _LOCAL_MAX_SIGN_BYTES of text. A first JVM-only job collects the
    text byte lengths of at most max_rows + 1 rows; only under both caps
    does a second collect the rows, so text above either cap stays in Spark.

    Returns (n, tbl, S): n is the row count, or max_rows + 1 over the row
    cap; tbl is the collected rows without `text` and S their int32
    signatures, both None over either cap. stats_out, when given, gets
    collect_s, kernel_s and threads."""
    t0 = time.perf_counter()
    sizes = df.select(F.octet_length("text")).limit(max_rows + 1).toArrow()
    n = sizes.num_rows
    under = n <= max_rows and (pc.sum(sizes.column(0)).as_py() or 0) <= _LOCAL_MAX_SIGN_BYTES
    tbl = df.toArrow() if under else None
    t1 = time.perf_counter()
    S, threads = sign_texts(tbl["text"], cfg) if under else (None, 0)
    if stats_out is not None:
        stats_out.update(collect_s=t1 - t0, kernel_s=time.perf_counter() - t1, threads=threads)
    return n, (tbl.drop_columns(["text"]) if under else None), S


def minhash_signature_udf(cfg: DedupConfig):
    """Build the signature pandas UDF for a config: `signature_matrix` per
    Arrow batch, emitted in the packed form (`packed_rows`). Every batch
    draws its coefficients from the same seed, so every executor hashes
    with the identical table (the determinism invariant of
    test/test_parallel_lock.c:47-57)."""

    @pandas_udf(BinaryType())
    def _sig_packed(texts: pd.Series) -> pd.Series:
        return pd.Series(packed_rows(signature_matrix(texts, cfg)))

    return _sig_packed


def packed_rows(S: np.ndarray) -> list[bytes]:
    """The packed form of each row of an int32 signature matrix: its
    little-endian bytes."""
    buf = S.astype("<i4", copy=False).tobytes()
    w = 4 * S.shape[1]
    return [buf[i : i + w] for i in range(0, len(buf), w)]


def packed_array(S: np.ndarray) -> pa.BinaryArray:
    """`packed_rows` of an int32 signature matrix as an Arrow binary
    array, built on the matrix's bytes without a Python object per row.
    A binary array's int32 offsets address at most 2 GiB."""
    n, w = S.shape[0], 4 * S.shape[1]
    if n * w > np.iinfo(np.int32).max:
        raise ValueError(f"{n} signatures of {w} bytes exceed one binary array's 2 GiB")
    offsets = np.arange(0, n * w + 1, w, dtype=np.int32)
    data = S.astype("<i4", copy=False).tobytes()
    return pa.BinaryArray.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


def signature_rows(values, sketch_size: int) -> np.ndarray:
    """The int32 matrix (n, sketch_size) of a sequence of n packed
    signatures (bytes): the inverse of `packed_rows`, and the one decoder
    of the packed form."""
    return np.frombuffer(b"".join(values), dtype="<i4").reshape(len(values), sketch_size)


def require_packed(sig_df: DataFrame, sig_col: str) -> None:
    """Raise ValueError unless `sig_col` holds packed (binary) signatures:
    the boundary check of every operator that bands or verifies them."""
    sig_type = sig_df.schema[sig_col].dataType.simpleString()
    if sig_type != "binary":
        raise ValueError(
            f"signature column {sig_col!r} is {sig_type}; the engine takes "
            "packed int32 'binary' signatures (see with_minhash_signature)"
        )


def with_minhash_signature(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    out_col: str = "minhash",
) -> DataFrame:
    """Append the packed MinHash signature column (binary, see
    minhash_signature_udf). Column pruning matters at scale: select only
    what downstream needs *before* calling this so the scan never reads e.g.
    the html binary column."""
    return df.withColumn(out_col, minhash_signature_udf(cfg)(F.col(text_col)))
