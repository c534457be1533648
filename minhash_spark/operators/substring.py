"""Substring-dedup path — finds documents whose (normalized) text is
contained verbatim inside another document.

Candidate generation is DETERMINISTIC, not probabilistic LSH: if doc A's
normalized token sequence occurs inside doc B's, then A's word w-grams occupy
contiguous positions in B's w-gram sequence, so among A's first `winnow_k`
w-grams exactly one aligns with a container position ≡ 0 (mod winnow_k).
Therefore:

    index  = every winnow_k-th w-gram hash of each doc   (container side)
    probes = first winnow_k w-gram hashes of each doc    (containee side)
    probe ⋈ index on the hash  ⇒  guaranteed candidate for every true
    containment where the containee has ≥ winnow_k + w - 1 tokens.

This trades index size (1/winnow_k of all shingles) against a minimum
containee length — the standard production tradeoff; shorter docs are covered
by the exact/MinHash paths. Verification is a pure JVM expression: normalize
both texts with built-in string functions and test `contains` — C-speed
substring search inside whole-stage codegen, no Python after the candidate
join. (An earlier revision built per-container Python suffix arrays; for the
handful of probes a container sees after winnowed candidate generation, a
direct contains beats constructing any index.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..functions.shingles import normalize_text, fnv1a_many


def _word_gram_hashes(text: str, w: int) -> np.ndarray:
    """Positional (non-distinct) word w-gram FNV-1a hashes of normalized text."""
    toks = normalize_text(text).split(" ")
    if toks == [""] or len(toks) < w:
        return np.empty(0, dtype=np.uint64)
    enc = [t.encode("utf-8") for t in toks]
    return fnv1a_many(
        [b"\x1f".join(enc[i : i + w]) for i in range(len(enc) - w + 1)]
    )


def _grams_both_udf(w: int, winnow_k: int):
    """One pass over the text producing BOTH gram selections —
    [index_grams, probe_grams] — so the candidate generator hashes every
    document once instead of once per side (guide §4: the w-gram hashing is
    the only Python in this path; halve it)."""

    @pandas_udf(ArrayType(ArrayType(LongType())))
    def _grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            h = _word_gram_hashes(t, w)
            out.append(
                [h[::winnow_k].astype(np.int64), h[:winnow_k].astype(np.int64)]
            )
        return pd.Series(out)

    return _grams


def containment_candidates(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    w: int = 3,
    winnow_k: int = 8,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """→ (containee, container) candidate pairs. Deterministic for containees
    with ≥ winnow_k + w - 1 tokens; buckets over max_bucket_size (counted as
    DISTINCT containers per gram, same as the original groupBy-count form)
    are capped (hot w-grams, e.g. boilerplate phrases).

    Plan shape: ONE Arrow UDF pass computes both gram selections per doc;
    the tiny (id, [index_grams, probe_grams]) table is persisted so the two
    explode branches share it (registered with lsh.release_persisted, the
    same scope-of-one-materialization contract as the pair enumerator's
    bucket table). The hot-gram cap is a streaming window count over the
    deduped index — it rides the same hash-partitioning-by-gram exchange the
    candidate join needs anyway, replacing the old groupBy→filter→join
    detour (one aggregation job + two exchanges fewer)."""
    from .lsh import _PERSISTED

    grams_both = _grams_both_udf(w, winnow_k)
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    # Small corpora arrive as one parquet file → a single scan partition, and
    # the gram UDF (the only real compute here) runs serially in one task
    # (measured: a 7 s one-task stage on the 32-core box). Spread the rows
    # before the UDF; one cheap exchange of (id, text) buys full parallelism.
    par = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    g = base.select(F.col("_id"), grams_both(F.col("_text")).alias("_g")).persist()
    _PERSISTED.append(g)

    index = g.select(
        F.col("_id").alias("container"),
        F.explode(F.col("_g").getItem(0)).alias("gram"),
    ).distinct()
    probe = g.select(
        F.col("_id").alias("containee"),
        F.explode(F.col("_g").getItem(1)).alias("gram"),
    ).distinct()

    wnd = Window.partitionBy("gram")
    index = (
        index.withColumn("_n", F.count("*").over(wnd))
        .where(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )

    return (
        probe.join(index, "gram")
        .where(F.col("containee") != F.col("container"))
        .select("containee", "container")
        .distinct()
    )


def normalize_col(c: Column) -> Column:
    """JVM normalization matching functions.shingles.normalize_text for ASCII
    text: lowercase, whitespace runs → single space, strip."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def verify_containment(
    candidates: DataFrame,
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Verify candidates by exact substring search of normalized text —
    JVM `contains` inside whole-stage codegen → (containee, container).
    Empty containees never match (contains('', x) would be vacuously true)."""
    texts = df.select(
        F.col(id_col).alias("_tid"), normalize_col(F.col(text_col)).alias("_nt")
    )
    return (
        candidates.join(
            texts.select(
                F.col("_tid").alias("containee"), F.col("_nt").alias("_needle")
            ),
            "containee",
        )
        .join(
            texts.select(
                F.col("_tid").alias("container"), F.col("_nt").alias("_hay")
            ),
            "container",
        )
        .where(
            (F.length("_needle") > 0) & F.contains(F.col("_hay"), F.col("_needle"))
        )
        .select("containee", "container")
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    w: int = 3,
    winnow_k: int = 8,
    max_bucket_size: int = 5000,
) -> DataFrame:
    """Fused candidates+verify. Same result set as
    verify_containment(containment_candidates(...)) — the same gram equi-join
    and the same contains() predicate — but the verification happens INSIDE
    the candidate join stage and the pair distinct runs AFTER it:

    Boilerplate-heavy corpora produce quadratically many candidate pairs from
    shared hot grams (measured: 8.3M candidate pairs from 7.9k docs at sf0.1
    where only 3.3k pairs verify). The old shape shipped all 8.3M pairs
    through a distinct exchange and then attached both text payloads with two
    more joins; here the normalized text rides the gram rows once (each doc's
    normalized text is both its needle and its hay), contains() filters in
    the join stage across its full parallelism, and the only pair exchange
    left carries verified pairs (guide §2.3 "shuffle fewer bytes" + §8
    "decide with small rows").
    """
    from .lsh import _PERSISTED

    grams_both = _grams_both_udf(w, winnow_k)
    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    par = df.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < par:
        base = base.repartition(par)
    g = base.select(
        F.col("_id"),
        grams_both(F.col("_text")).alias("_g"),
        normalize_col(F.col("_text")).alias("_nt"),
    ).persist()
    _PERSISTED.append(g)

    index = g.select(
        F.col("_id").alias("container"),
        F.explode(F.col("_g").getItem(0)).alias("gram"),
        F.col("_nt").alias("_hay"),
    ).distinct()
    wnd = Window.partitionBy("gram")
    index = (
        index.withColumn("_n", F.count("*").over(wnd))
        .where(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    probe = g.select(
        F.col("_id").alias("containee"),
        F.explode(F.col("_g").getItem(1)).alias("gram"),
        F.col("_nt").alias("_needle"),
    ).distinct()

    return (
        probe.join(index, "gram")
        .where(
            (F.col("containee") != F.col("container"))
            & (F.length("_needle") > 0)
            & F.contains(F.col("_hay"), F.col("_needle"))
        )
        .select("containee", "container")
        .distinct()
    )
