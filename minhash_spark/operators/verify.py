"""Jaccard verification — the reference's `query` estimator (fraction of
positionally-equal sketch cells, /root/reference/src/serial/minhash-serial.c:16-26)
over candidate pairs. `verify_pairs` evaluates it with an Arrow pandas UDF
over packed signatures: one `signature_rows` decode per side and one numpy
equality per Arrow batch of signature pairs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..config import DedupConfig
from .signatures import require_packed, signature_rows


def estimate_jaccard_udf(sketch_size: int):
    """Arrow-vectorized estimator over two packed signature columns:
    count(s_a[i] == s_b[i]) / sketch_size as double, one (batch × size)
    numpy equality per Arrow batch."""

    @pandas_udf(DoubleType())
    def _est_packed(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
        A = signature_rows(sig_a, sketch_size)
        B = signature_rows(sig_b, sketch_size)
        return pd.Series((A == B).sum(axis=1) / float(sketch_size))

    return _est_packed


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
    require_packed(sig_df, sig_col)
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
    a = sig_df.select(F.col(id_col).alias("url_a"), F.col(sig_col).alias("_sig_a"))
    b = sig_df.select(F.col(id_col).alias("url_b"), F.col(sig_col).alias("_sig_b"))
    # asNondeterministic: the threshold filter references the UDF column, and
    # the optimizer otherwise duplicates the evaluation below the pushed
    # filter (guide §4.4) — every pair paid the Arrow round-trip and the
    # estimator twice (two ArrowEvalPython nodes in the plan). Marking it
    # non-deterministic pins a single evaluation; the filter still applies,
    # values unchanged.
    est = estimate_jaccard_udf(cfg.minhash.sketch_size).asNondeterministic()(
        F.col("_sig_a"), F.col("_sig_b")
    )
    return (
        pairs.join(a, "url_a")
        .join(b, "url_b")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= F.lit(thr))
        .select("url_a", "url_b", "est_jaccard")
    )
