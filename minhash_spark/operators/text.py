"""Text operators the dedup queries share: whitespace tokens and their
count, the exact-copy document fingerprint, and duplicated-passage stats.

Everything except the fingerprint is pure JVM expressions (whole-stage
codegen; no Python). The fingerprint is a uint64 polynomial rolling hash —
numpy inside an Arrow-batched pandas UDF, same wrap-mod-2^64 discipline as
the sketch kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def tokens_col(text_col: str | Column = "text") -> Column:
    """Whitespace tokens of the trimmed text; empty text → empty array."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text_col: str | Column = "text") -> Column:
    return F.size(tokens_col(text_col)).cast("long")


_FP_BASE = np.uint64(1099511628211)


def fingerprint_batch(texts, block: int = 256) -> np.ndarray:
    """fp = Σ byte_i · BASE^(n-1-i) mod 2^64 for a batch of texts → uint64[n].

    Vectorized ACROSS documents: Horner (h = h·BASE + byte) folds one padded
    (docs × maxlen) byte matrix column by column. Padding is LEADING zeros —
    0·BASE^k contributes nothing, so padded values are exactly the unpadded
    fingerprint. Documents are length-sorted and processed in blocks so one
    long outlier doesn't pad the whole batch to its length."""
    n = len(texts)
    enc = [
        t.encode("utf-8") if isinstance(t, str) and len(t) > 0 else b""
        for t in texts
    ]
    out = np.zeros(n, dtype=np.uint64)
    order = np.argsort([len(e) for e in enc], kind="stable")
    with np.errstate(over="ignore"):
        for b0 in range(0, n, block):
            idx = order[b0 : b0 + block]
            group = [enc[i] for i in idx]
            L = max(len(e) for e in group)
            if L == 0:
                continue
            mat = np.zeros((len(group), L), dtype=np.uint64)
            for r, e in enumerate(group):
                if e:
                    mat[r, L - len(e):] = np.frombuffer(e, dtype=np.uint8)
            h = np.zeros(len(group), dtype=np.uint64)
            for j in range(L):
                h = h * _FP_BASE + mat[:, j]
            out[idx] = h
    return out


def fingerprint_udf():
    """64-bit polynomial rolling fingerprint of the raw text bytes — one
    batch-vectorized padded Horner fold per Arrow batch (fingerprint_batch)."""

    @pandas_udf(LongType())
    def _fp(texts: pd.Series) -> pd.Series:
        return pd.Series(fingerprint_batch(list(texts)).astype(np.int64))

    return _fp


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", fingerprint_udf()(F.col(text_col)))


def passage_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 10,
    key_mode: str = "hash",
) -> DataFrame:
    """Duplicated-passage fraction per document — the RefinedWeb/Gopher-class
    repetition signal a training-data pipeline filters on: chunk each
    document's token stream into consecutive `window`-token passages and
    count how many of a document's passages also occur in at least one OTHER
    document. Returns (doc_id, n_passages, n_dup_passages, dup_ratio);
    documents shorter than one window produce no row.

    All JVM (split/slice/explode + two hash aggregations): the passage table
    shuffles once for the global distinct-doc count and once for the per-doc
    rollup — both partial-aggregated.

    key_mode — the passage-table key the shuffles carry:
    - "hash" (default, the 10^12-doc form): xxhash64(passage). Shuffle rows
      shrink ~window× (16 bytes vs the full passage string); a 64-bit
      collision can only mark a unique passage as duplicated, and at the
      ~1e-?·n²/2^64 collision rate that is pure noise for a quality signal.
    - "string": the exact passage string — the oracle mode (DuckDB replays
      it verbatim), and the mode to use if byte-exact counts matter more
      than shuffle width."""
    if key_mode not in ("hash", "string"):
        raise ValueError(f"key_mode must be 'hash' or 'string', got {key_mode!r}")
    toks = tokens_col(text_col)
    src = df.select(F.col(id_col).alias("doc_id"), toks.alias("_toks")).where(
        F.size("_toks") >= window
    )
    n_chunks = (F.size("_toks") / window).cast("int")
    passage_str = lambda i: F.array_join(F.slice("_toks", i * window + 1, window), " ")
    key_of = (
        (lambda i: F.xxhash64(passage_str(i)))
        if key_mode == "hash"
        else passage_str
    )
    passages = src.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(0), n_chunks - 1), key_of)
        ).alias("passage"),
    )
    global_counts = passages.groupBy("passage").agg(
        F.countDistinct("doc_id").alias("_nd")
    )
    return (
        passages.join(global_counts, "passage")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_passages"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_passages") / F.col("n_passages"), 6),
        )
    )

