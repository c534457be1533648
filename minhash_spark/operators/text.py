"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

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

# deterministic marker-token lists for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "en", "por", "que", "con"),
}


def tokens_col(text_col: str | Column = "text") -> Column:
    """Whitespace tokens of the trimmed text; empty text → empty array."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text_col: str | Column = "text") -> Column:
    return F.size(tokens_col(text_col)).cast("long")


# GPT-2-style pre-tokenizer pattern: contractions, space-prefixed letter /
# digit / punctuation runs. Same semantics in Java regex and RE2, so the
# count is oracle-checkable.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_count_bpe(text_col: str | Column = "text") -> Column:
    """BPE-ish token count: the number of pre-tokenizer matches — the
    standard cheap proxy for LLM token budgets over a corpus."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality features + a composite score.
    All ratios rounded to 6 dp so results hash identically across engines."""
    toks = tokens_col(text_col)
    n_chars = F.length(F.col(text_col)).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_punct = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,!?;:]", ""))
    ).cast("long")
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    avg_token_len = F.round((n_chars - (n_tokens - 1)) / safe_tokens.cast("double"), 6)
    punct_ratio = F.round(n_punct / safe_chars.cast("double"), 6)
    stop_ratio = F.round(n_stop / safe_tokens.cast("double"), 6)
    score = F.round(
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.5
        + stop_ratio * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(5.0), F.lit(1.0))) * 0.2,
        6,
    )
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language heuristic: count marker hits per language over
    lowercase tokens; highest count wins, ties broken by language code order,
    zero hits → 'und'. Deterministic and SQL-expressible for the oracle."""
    toks = F.transform(tokens_col(text_col), lambda t: F.lower(t))
    scores = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        scores.append(
            F.size(F.filter(toks, lambda t: F.array_contains(markers, t))).alias(
                f"score_{lang}"
            )
        )
    out = df.select("*", *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in sorted(LANG_MARKERS)])
    pred = F.lit("und")
    # first language (in sorted order) achieving the max wins
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred)


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


# PII scrubbing — the standard web-text redaction pass (emails, IPv4,
# phone-like digit runs). Patterns restricted to the Java-regex ∩ RE2
# subset (no lookaround, no backrefs) so the DuckDB oracle replays them
# verbatim.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # international-ish phone: +?digits with separators, 9-15 digits total;
    # anchored on word boundaries to spare ordinary numbers/ids
    # leading + matched explicitly — there is no \b between a space and
    # '+' (both non-word), so \b\+? silently drops the plus
    ("phone", r"(?:\+|\b)[0-9][0-9() .-]{7,18}[0-9]\b", "<PHONE>"),
]


def scrub_pii(col: Column | str) -> Column:
    """Redact emails/IPv4s/phone-like runs from a text column — chained
    JVM regexp_replace, whole-stage codegen, zero shuffle. Order matters:
    emails first (their local part can contain digits a later phone pass
    would half-eat), then IPs (dotted digits would otherwise match the
    phone run), then phones."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: Column | str) -> list[Column]:
    """Per-kind redaction counts — the audit signal a scrubbing pass
    reports per document. Counted SEQUENTIALLY on the progressively
    scrubbed text (emails on raw, IPs on email-scrubbed, phones on
    IP-scrubbed), exactly mirroring scrub_pii's replacement order — an
    IPv4 is digits-and-dots and would otherwise double-count as a
    phone-like run."""
    c = F.col(col) if isinstance(col, str) else col
    out = []
    for name, pat, repl in PII_PATTERNS:
        out.append(
            F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        c = F.regexp_replace(c, pat, repl)
    return out
