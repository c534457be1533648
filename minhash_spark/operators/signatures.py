"""MinHash signature stage — the distributed counterpart of the reference's
insert loop (basic_insert over every set element,
/root/reference/src/utils/utils.c:3-33) collapsed into one Arrow-batched
pandas UDF per document: hash the document's shingle set against all
`sketch_size` functions and take column minima.

Scale notes: the UDF is the only Python in the hot path and is fully
vectorized numpy inside (no per-row Python arithmetic); hash-function
coefficients (≤ a few KiB) travel by closure capture to every task —
the Spark analog of the reference's shared `hash_functions` table. Every
value is < prime_modulus = 2^31-1 so int32 holds it exactly; empty cells use
int32 max (config.SIG_INFTY_INT), so min merges keep their semantics. The
engine form is the packed one (`packed=True`): one little-endian int32
binary buffer per document, which every engine writer stores. `array<int>`
is the oracle/interchange form (exploded value checks, JVM `least()`
merges).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BinaryType, IntegerType

from ..config import DedupConfig
from ..functions.kernels import min_sketch_batch, sketch_to_int
from ..functions.shingles import char_shingle_sets_batch, shingle_fn


def minhash_signature_udf(cfg: DedupConfig, packed: bool = False):
    """Build the signature pandas UDF for a config. Coefficients are drawn
    once on the driver (deterministic — cfg.seed) and captured in the
    closure, so every executor hashes with the identical table (the
    determinism invariant of test/test_parallel_lock.c:47-57).

    packed=True emits the signature as one little-endian int32 BinaryType
    buffer (sketch_size × 4 bytes) instead of array<int>. Same values, one
    contiguous byte run: shuffle rows for the banding/verify stages drop the
    UnsafeArrayData header + null bitmap, band slicing stays JVM-side via
    substring(), and the verify estimator rebuilds the matrix with a single
    np.frombuffer per Arrow batch instead of per-row list conversions. Use
    the packed form on the hot dedup path; the array form remains the
    interchange/oracle representation (exploded value checks, JVM least()
    merges)."""
    mh = cfg.minhash
    coeffs = mh.coefficients()
    shingler = shingle_fn(cfg.shingle_mode, cfg.shingle_size)
    if cfg.shingle_mode == "char":
        # one FNV pass over the batch's concatenated bytes instead of a
        # per-document call chain — same per-doc shingle sets (guide §4.2)
        batch_shingler = lambda texts: char_shingle_sets_batch(
            texts, cfg.shingle_size
        )
    else:
        batch_shingler = lambda texts: [shingler(t) for t in texts]

    if packed:

        @pandas_udf(BinaryType())
        def _sig_packed(texts: pd.Series) -> pd.Series:
            sets = batch_shingler(list(texts))
            ints = sketch_to_int(min_sketch_batch(sets, mh, coeffs))
            buf = ints.astype("<i4", copy=False).tobytes()
            w = 4 * mh.sketch_size
            return pd.Series(
                [buf[i : i + w] for i in range(0, len(buf), w)]
            )

        return _sig_packed

    @pandas_udf(ArrayType(IntegerType()))
    def _sig(texts: pd.Series) -> pd.Series:
        sets = batch_shingler(list(texts))
        sketches = min_sketch_batch(sets, mh, coeffs)
        return pd.Series(list(sketch_to_int(sketches)))

    return _sig


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
