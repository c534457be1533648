"""MinHash signature stage — the distributed counterpart of the reference's
insert loop (basic_insert over every set element,
/root/reference/src/utils/utils.c:3-33) collapsed into one Arrow-batched
pandas UDF per document: hash the document's shingle set against all
`sketch_size` functions and take column minima.

Scale notes: the UDF is the only Python in the hot path and is fully
vectorized numpy inside (no per-row Python arithmetic); its body,
`signature_matrix`, also signs the store's narrow batches on the driver.
Hash-function coefficients (≤ a few KiB) are drawn from the config's seed
for every batch — the analog of the reference's shared `hash_functions`
table. Every value is < prime_modulus = 2^31-1 so int32 holds it exactly;
empty cells use int32 max (config.SIG_INFTY_INT), so min merges keep their
semantics. The engine form is the packed one (`packed=True`): one
little-endian int32 binary buffer per document, which every engine writer
stores. `array<int>` is the oracle/interchange form (exploded value checks,
JVM `least()` merges).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, IntegerType

from ..config import DedupConfig
from ..functions.kernels import min_sketch_batch, sketch_to_int
from ..functions.shingles import char_shingle_sets_batch, shingle_fn


def signature_matrix(texts, cfg: DedupConfig) -> np.ndarray:
    """The int32 signatures (n, sketch_size) of a sequence of texts (str or
    None): shingle each text by cfg.shingle_mode, hash the shingle sets
    against the coefficient table drawn from cfg.minhash.seed and take
    column minima. An empty or None text is all SIG_INFTY_INT. The
    signature UDFs and the store's driver path both call this."""
    texts = list(texts)
    if cfg.shingle_mode == "char":
        # one FNV pass over the batch's concatenated bytes instead of a
        # per-document call chain — same per-doc shingle sets (guide §4.2)
        sets = char_shingle_sets_batch(texts, cfg.shingle_size)
    else:
        shingler = shingle_fn(cfg.shingle_mode, cfg.shingle_size)
        sets = [shingler(t) for t in texts]
    return sketch_to_int(min_sketch_batch(sets, cfg.minhash))


def minhash_signature_udf(cfg: DedupConfig, packed: bool = False):
    """Build the signature pandas UDF for a config: `signature_matrix` per
    Arrow batch. Every batch draws its coefficients from the same seed, so
    every executor hashes with the identical table (the determinism
    invariant of test/test_parallel_lock.c:47-57).

    packed=True emits the signature as one little-endian int32 BinaryType
    buffer (sketch_size × 4 bytes) instead of array<int>. Same values, one
    contiguous byte run: shuffle rows for the banding/verify stages drop the
    UnsafeArrayData header + null bitmap, band slicing stays JVM-side via
    substring(), and the verify estimator rebuilds the matrix with a single
    np.frombuffer per Arrow batch instead of per-row list conversions. Use
    the packed form on the hot dedup path; the array form remains the
    interchange/oracle representation (exploded value checks, JVM least()
    merges)."""
    if packed:

        @pandas_udf(BinaryType())
        def _sig_packed(texts: pd.Series) -> pd.Series:
            return pd.Series(packed_rows(signature_matrix(texts, cfg)))

        return _sig_packed

    @pandas_udf(ArrayType(IntegerType()))
    def _sig(texts: pd.Series) -> pd.Series:
        return pd.Series(list(signature_matrix(texts, cfg)))

    return _sig


def packed_rows(S: np.ndarray) -> list[bytes]:
    """The packed form of each row of an int32 signature matrix: its
    little-endian bytes."""
    buf = S.astype("<i4", copy=False).tobytes()
    w = 4 * S.shape[1]
    return [buf[i : i + w] for i in range(0, len(buf), w)]


def with_minhash_signature(
    df: DataFrame,
    cfg: DedupConfig,
    text_col: str = "text",
    out_col: str = "minhash",
    packed: bool = False,
) -> DataFrame:
    """Append the MinHash signature column (array<int>, or a packed int32
    binary buffer with packed=True — see minhash_signature_udf). Column
    pruning matters at scale: select only what downstream needs *before*
    calling this so the scan never reads e.g. the html binary column."""
    return df.withColumn(out_col, minhash_signature_udf(cfg, packed)(F.col(text_col)))
