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
semantics. A signature has one form: the packed one, a little-endian int32
binary buffer of sketch_size × 4 bytes per document (`packed_rows`), which
the UDF emits, every engine writer stores, `lsh.band_keys` slices with
substring() and `signature_rows` decodes. Only the oracle queries widen it
to (pos, value) cells (queries.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType

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
