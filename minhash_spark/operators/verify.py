"""Jaccard verification — the reference's `query` estimator (fraction of
positionally-equal sketch cells, /root/reference/src/serial/minhash-serial.c:16-26)
over candidate pairs. `verify_pairs` evaluates it with an Arrow pandas UDF:
one numpy equality per Arrow batch of signature pairs. `estimate_jaccard`
is the same estimator as a JVM expression (zip_with equality + aggregate
sum, divided by sketch_size).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..config import DedupConfig, SIG_INFTY_LONG


def estimate_jaccard(sig_a: Column, sig_b: Column, sketch_size: int) -> Column:
    """query(s_a, s_b) = count(s_a[i] == s_b[i]) / size as double — pure JVM
    expression form. Correct but interpreted (higher-order functions don't
    codegen); prefer estimate_jaccard_udf on large pair sets."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0))
    matches = F.aggregate(eq, F.lit(0), lambda acc, v: acc + v)
    return matches.cast("double") / F.lit(float(sketch_size))


def estimate_jaccard_udf(sketch_size: int, packed: bool = False):
    """Arrow-vectorized estimator: one (batch × size) numpy equality per
    Arrow batch — ~2 orders of magnitude faster per pair than the
    interpreted zip_with/aggregate path, same double count/size values.

    packed=True takes the signatures as little-endian int32 binary buffers
    (signatures.minhash_signature_udf(packed=True)): the whole Arrow batch
    reconstitutes with ONE np.frombuffer + reshape per side — no per-row
    list→ndarray conversion at all."""

    if packed:

        @pandas_udf(DoubleType())
        def _est_packed(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
            if len(sig_a) == 0:
                return pd.Series(np.empty(0, dtype=np.float64))
            A = np.frombuffer(b"".join(sig_a), dtype="<i4").reshape(
                len(sig_a), sketch_size
            )
            B = np.frombuffer(b"".join(sig_b), dtype="<i4").reshape(
                len(sig_b), sketch_size
            )
            return pd.Series((A == B).sum(axis=1) / float(sketch_size))

        return _est_packed

    @pandas_udf(DoubleType())
    def _est(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
        if len(sig_a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        A = np.stack([np.asarray(v, dtype=np.int64) for v in sig_a])
        B = np.stack([np.asarray(v, dtype=np.int64) for v in sig_b])
        return pd.Series((A == B).sum(axis=1) / float(sketch_size))

    return _est


def verify_pairs(
    pairs: DataFrame,
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
    sig_col: str = "minhash",
    threshold: float | None = None,
) -> DataFrame:
    """Attach both signatures to each candidate pair and keep pairs with
    estimated Jaccard ≥ threshold → (url_a, url_b, est_jaccard).

    The two signature joins shuffle on url_a / url_b respectively; the pairs
    side is far smaller than the corpus after banding, and AQE picks
    broadcast when it fits."""
    thr = cfg.jaccard_threshold if threshold is None else threshold
    sig_type = dict(sig_df.dtypes)[sig_col]
    # Preferred hot-path representation is the PACKED binary signature
    # (signatures.with_minhash_signature(packed=True)): one contiguous
    # sketch_size×4-byte buffer per row instead of a 128-element
    # UnsafeArrayData (drops the 8B header + 16B null bitmap per shuffled
    # row on BOTH pair joins and the sig-carrying intermediate), and the
    # estimator rebuilds each Arrow batch with a single frombuffer.
    # array<int> (SIG_INFTY_INT sentinel) remains supported — half-width vs
    # legacy long arrays. Callers holding legacy array<long> signatures get
    # the 2^63-1 sentinel mapped explicitly before casting: Spark 4 defaults
    # to ANSI mode, where a plain int cast of 2^63-1 raises CAST_OVERFLOW
    # (two empty documents produce all-sentinel signatures that meet in
    # every band).
    packed = F.col(sig_col)
    if sig_type == "array<bigint>":
        packed = F.transform(
            F.col(sig_col),
            lambda x: F.when(x == SIG_INFTY_LONG, F.lit(-1)).otherwise(
                x.cast("int")
            ),
        )
    # No sort-merge for these joins: a sort-merge would SORT the wide
    # signature rows (~sketch_size × 4B each) three times (both inputs of
    # join 1, then the sig-carrying intermediate for join 2) and signatures
    # have no exploitable order. That used to be pinned with a per-join
    # shuffle_hash hint; the hint also BLOCKED the broadcast tier, forcing
    # two full exchanges of the signature table even when it fits in a
    # broadcast (measured 2.9 s hinted vs 2.0 s unhinted on the sf0.1
    # bench). The no-sort guarantee now lives in the session conf
    # (preferSortMergeJoin=false + the AQE SMJ→SHJ local-map threshold,
    # session.py), which picks broadcast/shuffled-hash from REAL sizes at
    # any scale instead of hard-coding one strategy here.
    a = sig_df.select(F.col(id_col).alias("url_a"), packed.alias("_sig_a"))
    b = sig_df.select(F.col(id_col).alias("url_b"), packed.alias("_sig_b"))
    # asNondeterministic: the threshold filter references the UDF column, and
    # the optimizer otherwise duplicates the evaluation below the pushed
    # filter (guide §4.4) — every pair paid the Arrow round-trip and the
    # estimator twice (two ArrowEvalPython nodes in the plan). Marking it
    # non-deterministic pins a single evaluation; the filter still applies,
    # values unchanged.
    est = estimate_jaccard_udf(
        cfg.minhash.sketch_size, packed=(sig_type == "binary")
    ).asNondeterministic()(F.col("_sig_a"), F.col("_sig_b"))
    return (
        pairs.join(a, "url_a")
        .join(b, "url_b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= F.lit(thr))
        .select("url_a", "url_b", "est_jaccard")
    )
