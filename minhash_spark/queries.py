"""Driver-facing query registry: every operator exposed as a
(spark, sf_dir) -> DataFrame callable plus, where SQL-expressible, a DuckDB
oracle returning the identical result (same column names, same types, same
rounding). Non-SQL-expressible ops (sketches, fingerprints, probabilistic
candidates) are registered without an oracle → rows-only check.

Design rule for oracle parity: every float column is computed in double with
identical operation order (verified bit-equal between engines) and rounded to
a fixed precision; every aggregate/computed column is aliased identically on
both sides; id pairs are canonicalized (id_a < id_b).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .config import (
    DedupConfig,
    MinHashConfig,
    HASH_KWISE,
    SIG_INFTY_INT,
    SIG_INFTY_LONG,
)
from . import oracle_sql
from .operators.signatures import signature_rows, with_minhash_signature
from .operators.lsh import bands_table, candidate_pairs, release_persisted
from .operators.verify import verify_pairs
from .operators.cluster import connected_components
from .operators.exact import exact_dup_groups
from .operators.simhash import with_simhash, simhash_candidates
from .operators.substring import substring_dedup
from .operators.ngram import ngram_jaccard_pairs
from .operators.text import token_count, with_fingerprint
from .sources.tables import load_table

CFG = DedupConfig(minhash=MinHashConfig(sketch_size=128, seed=42))
# k-wise polynomial hash family end-to-end (the reference's hash_type=1,
# /root/reference/src/utils/hash.c:13-25) — same banding geometry.
CFG_KWISE = DedupConfig(
    minhash=MinHashConfig(sketch_size=128, seed=42, hash_type=HASH_KWISE)
)

_SHIFT = 10_000_000  # id offset for the deterministic duplicated-corpus union
_CONT_SHIFT = 20_000_000


def _docs_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copy with shifted ids — the deterministic exact-dup
    corpus used by the dedup correctness queries (every text appears twice)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionAll(d.select((F.col("doc_id") + _SHIFT).alias("doc_id"), "text"))


_DOCS_UNION_SQL = (
    "(SELECT doc_id, text FROM documents "
    f"UNION ALL SELECT doc_id + {_SHIFT} AS doc_id, text FROM documents)"
)


# --------------------------------------------------------------------------
# dedup: exact
# --------------------------------------------------------------------------

def q_exact_dedup_groups(spark, sf_dir):
    u = _docs_union(spark, sf_dir)
    return exact_dup_groups(u, id_col="doc_id").select(
        "text_sha", "n_docs", "canonical"
    )


SQL_EXACT_DEDUP_GROUPS = f"""
SELECT sha256(text) AS text_sha, count(*) AS n_docs, min(doc_id) AS canonical
FROM {_DOCS_UNION_SQL} u
GROUP BY sha256(text) HAVING count(*) >= 2
"""


# --------------------------------------------------------------------------
# dedup: MinHash end-to-end (signature → LSH bands → candidates → verify)
# --------------------------------------------------------------------------

def _minhash_text_dup_pairs(spark, sf_dir) -> DataFrame:
    # the pair enumerator persists its bucket table for the duration of the
    # returned (lazy) plan; a long-lived session running query after query
    # would otherwise accumulate one cached table per run — release the
    # previous run's caches on entry, bounding the footprint to one table.
    release_persisted()
    u = _docs_union(spark, sf_dir)
    sigs = with_minhash_signature(u, CFG).select("doc_id", "minhash")
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id", threshold=1.0)
    texts = u.select("doc_id", "text")
    return (
        verified.join(
            texts.select(F.col("doc_id").alias("url_a"), F.col("text").alias("_ta")),
            "url_a",
        )
        .join(
            texts.select(F.col("doc_id").alias("url_b"), F.col("text").alias("_tb")),
            "url_b",
        )
        .where(F.col("_ta") == F.col("_tb"))
        .select(
            F.col("url_a").alias("id_a"),
            F.col("url_b").alias("id_b"),
            F.col("est_jaccard"),
        )
    )


def q_minhash_text_dup_pairs(spark, sf_dir):
    return _minhash_text_dup_pairs(spark, sf_dir)


SQL_MINHASH_TEXT_DUP_PAIRS = f"""
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 1.0::DOUBLE AS est_jaccard
FROM {_DOCS_UNION_SQL} a JOIN {_DOCS_UNION_SQL} b
  ON a.text = b.text AND a.doc_id < b.doc_id
"""


def q_dedup_clusters_exact(spark, sf_dir):
    edges = _minhash_text_dup_pairs(spark, sf_dir).select(
        F.col("id_a").alias("url_a"), F.col("id_b").alias("url_b")
    )
    cc = connected_components(edges)
    return cc.select(F.col("url").alias("doc_id"), F.col("cluster_id"))


SQL_DEDUP_CLUSTERS_EXACT = f"""
WITH u AS (SELECT * FROM {_DOCS_UNION_SQL}),
 g AS (SELECT text, min(doc_id) AS cid, count(*) AS c FROM u GROUP BY text)
SELECT u.doc_id AS doc_id, g.cid AS cluster_id
FROM u JOIN g ON u.text = g.text WHERE g.c >= 2
"""


# --------------------------------------------------------------------------
# n-gram Jaccard (consecutive-id pairs → deterministic linear pair set)
# --------------------------------------------------------------------------

def _consecutive_pairs(spark, sf_dir) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        d.select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b"))
        .join(d.select(F.col("doc_id").alias("id_b")), "id_b")
    )


def _q_jaccard_consecutive(spark, sf_dir, n: int):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _consecutive_pairs(spark, sf_dir)
    return ngram_jaccard_pairs(
        pairs, docs, n=n, id_col="doc_id", left="id_a", right="id_b"
    ).select("id_a", "id_b", "jaccard")


def q_token_jaccard_consecutive(spark, sf_dir):
    return _q_jaccard_consecutive(spark, sf_dir, 1)


def q_ngram3_jaccard_consecutive(spark, sf_dir):
    return _q_jaccard_consecutive(spark, sf_dir, 3)


_TOKS = r"list_transform(regexp_split_to_array(trim(text), '\s+'), t -> lower(t))"

SQL_TOKEN_JACCARD_CONSECUTIVE = rf"""
WITH t AS (SELECT doc_id, list_distinct({_TOKS}) AS g FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0::DOUBLE
       ELSE round(len(list_intersect(a.g, b.g))::DOUBLE
                  / len(list_distinct(list_concat(a.g, b.g))), 6) END AS jaccard
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""

def q_ngram_containment_consecutive(spark, sf_dir):
    """Asymmetric n-gram containment (|A∩B|/|A|) over consecutive-id pairs —
    the quote/boilerplate measure the symmetric Jaccard misses."""
    from .operators.ngram import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _consecutive_pairs(spark, sf_dir)
    return ngram_containment_pairs(
        pairs, docs, n=3, id_col="doc_id", left="id_a", right="id_b"
    ).select("id_a", "id_b", "containment")


def q_ngram_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing word 5-grams with a held-out
    eval set (every 41st doc stands in for the benchmark suite), reported as
    per-doc overlap counts + contamination fraction + flag. The eval side is
    distinct-gram'd and broadcast, so the exploded corpus grams never
    shuffle — explode, broadcast join and partial agg fuse into the scan
    stage (see operators/ngram.py:decontaminate_report)."""
    from .operators.ngram import decontaminate_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.where(F.col("doc_id") % 41 == 0)
    return decontaminate_report(
        docs, eval_docs, n=5, id_col="doc_id", threshold=0.5
    )


_PD_SHIFT = 30_000_000  # id offset for the half-duplicated corpora
_PD_WINDOW = 10


def q_fuzzy_dedup_keep(spark, sf_dir):
    """The user-facing OUTPUT of a fuzzy dedup run: the kept corpus. Over a
    half-duplicated corpus (every even-id doc also appears under a shifted
    id), run the full MinHash → LSH → verify → CC path and keep the cluster
    canonical (minimum id) plus every unclustered document. The oracle
    derives the same keep set from exact text groups — identical because the
    fuzzy path finds exactly the exact-duplicate clusters at threshold 1.0
    (the recall invariant the pipeline tests pin)."""
    release_persisted()
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    u = d.unionAll(
        d.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
            (F.col("doc_id") + _PD_SHIFT).alias("doc_id"), "text"
        )
    )
    sigs = with_minhash_signature(u, CFG).select("doc_id", "minhash")
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    verified = verify_pairs(cands, sigs, CFG, id_col="doc_id", threshold=1.0)
    texts = u.select("doc_id", "text")
    edges = (
        verified.join(
            texts.select(F.col("doc_id").alias("url_a"), F.col("text").alias("_ta")),
            "url_a",
        )
        .join(
            texts.select(F.col("doc_id").alias("url_b"), F.col("text").alias("_tb")),
            "url_b",
        )
        .where(F.col("_ta") == F.col("_tb"))
        .select("url_a", "url_b")
    )
    clusters = connected_components(edges)
    return (
        u.join(clusters.withColumnRenamed("url", "doc_id"), "doc_id", "left")
        .where(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        )
        .select("doc_id")
    )


SQL_FUZZY_DEDUP_KEEP = f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {{shift}} AS doc_id, text FROM documents WHERE doc_id % 2 = 0
), g AS (
  SELECT text, min(doc_id) AS cid, count(*) AS c FROM u GROUP BY text
)
SELECT u.doc_id AS doc_id FROM u JOIN g ON u.text = g.text
WHERE g.c = 1 OR u.doc_id = g.cid
""".replace("{shift}", str(_PD_SHIFT))


def q_intra_doc_repetition(spark, sf_dir):
    """Within-document repetition (the Gopher duplicate-n-gram-fraction
    quality rule): fraction of a document's word-bigram occurrences that are
    repeats of an earlier bigram. Entirely per-row JVM array expressions —
    no shuffle, no UDF — the cheapest quality signal in the pipeline."""
    from .operators.text import tokens_col

    n = 2
    toks = tokens_col("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = (
        d.where(F.size(toks) >= n)
        .select(
            "doc_id",
            F.size(grams).cast("long").alias("n_grams"),
            F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "rep_ratio",
            F.round(1.0 - F.col("n_distinct") / F.col("n_grams"), 6),
        )
    )
    return out


SQL_INTRA_DOC_REPETITION = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE trim(text) != ''
), g AS (
  SELECT doc_id,
    list_transform(generate_series(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+1], ' ')) AS grams
  FROM t WHERE len(toks) >= 2
)
SELECT doc_id,
  len(grams)::BIGINT AS n_grams,
  len(list_distinct(grams))::BIGINT AS n_distinct,
  round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 6) AS rep_ratio
FROM g
"""


def q_passage_dup_stats(spark, sf_dir):
    """Duplicated-passage fraction (RefinedWeb/Gopher repetition signal)
    over a corpus where every even-id document also appears under a shifted
    id — duplicated docs must report dup_ratio 1.0, unique docs 0.0, and the
    oracle re-derives the exact passage multiset in SQL."""
    from .operators.text import passage_dup_stats

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    u = d.unionAll(
        d.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select(
            (F.col("doc_id") + _PD_SHIFT).alias("doc_id"), "text"
        )
    )
    # string keys: the oracle replays the exact passage multiset in SQL.
    # Production default is key_mode="hash" (xxhash64 passage keys, ~window×
    # smaller shuffle rows); tests pin hash-mode == string-mode dup_ratio.
    return passage_dup_stats(u, window=_PD_WINDOW, key_mode="string")


SQL_PASSAGE_DUP_STATS = rf"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PD_SHIFT} AS doc_id, text FROM documents WHERE doc_id % 2 = 0
), t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM u WHERE trim(text) != ''
), f AS (
  SELECT doc_id, toks FROM t WHERE len(toks) >= {_PD_WINDOW}
), p AS (
  SELECT doc_id, unnest(range(0, len(toks) // {_PD_WINDOW})) AS i, toks FROM f
), pp AS (
  SELECT doc_id,
    array_to_string(toks[(i*{_PD_WINDOW}+1):(i*{_PD_WINDOW}+{_PD_WINDOW})], ' ') AS passage
  FROM p
), g AS (
  SELECT passage, count(DISTINCT doc_id) AS nd FROM pp GROUP BY passage
)
SELECT pp.doc_id AS doc_id,
  count(*) AS n_passages,
  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_passages,
  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_ratio
FROM pp JOIN g USING (passage)
GROUP BY pp.doc_id
"""


SQL_NGRAM_CONTAINMENT_CONSECUTIVE = rf"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN len({_TOKS}) < 3 THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(
                generate_series(1, len({_TOKS}) - 2),
                i -> array_to_string(({_TOKS})[i:i+2], ' '))) END AS g
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CASE WHEN len(a.g) = 0 THEN 0.0::DOUBLE
       ELSE round(len(list_intersect(a.g, b.g))::DOUBLE / len(a.g), 6) END AS containment
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


SQL_NGRAM3_JACCARD_CONSECUTIVE = rf"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN len({_TOKS}) < 3 THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(
                generate_series(1, len({_TOKS}) - 2),
                i -> array_to_string(({_TOKS})[i:i+2], ' '))) END AS g
  FROM documents)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0::DOUBLE
       ELSE round(len(list_intersect(a.g, b.g))::DOUBLE
                  / len(list_distinct(list_concat(a.g, b.g))), 6) END AS jaccard
FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
"""


_G5 = rf"""CASE WHEN len({_TOKS}) < 5 THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(
                generate_series(1, len({_TOKS}) - 4),
                i -> array_to_string(({_TOKS})[i:i+4], ' '))) END"""

SQL_NGRAM_DECONTAMINATE = rf"""
WITH g AS (SELECT doc_id, {_G5} AS grams FROM documents),
e AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 41 = 0),
x AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM g)
SELECT x.doc_id, x.n_grams, count(*)::BIGINT AS n_contaminated,
  round(count(*)::DOUBLE / x.n_grams, 6) AS contamination,
  (round(count(*)::DOUBLE / x.n_grams, 6) >= 0.5) AS flagged
FROM x JOIN e USING (gram)
GROUP BY x.doc_id, x.n_grams
"""


# --------------------------------------------------------------------------
# substring containment (suffix-array path)
# --------------------------------------------------------------------------

_MIN_CONTAINEE_TOKENS = 10  # winnow_k + w - 1 with w=3, winnow_k=8


def q_containment_pairs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = token_count("text")
    containers = d.where((toks >= _MIN_CONTAINEE_TOKENS) & (toks <= 60)).select(
        (F.col("doc_id") + _CONT_SHIFT).alias("doc_id"),
        F.concat(
            F.lit("prefix pad alpha bravo "), F.col("text"), F.lit(" omega zulu suffix pad")
        ).alias("text"),
    )
    u = d.unionAll(containers)
    res = substring_dedup(u, id_col="doc_id", w=3, winnow_k=8)
    # restrict to containees above the documented length floor (short probes
    # are only best-effort; the floor is where recall is guaranteed)
    lens = u.select(
        F.col("doc_id").alias("containee"), token_count("text").alias("_nt")
    )
    return (
        res.join(lens, "containee")
        .where(F.col("_nt") >= _MIN_CONTAINEE_TOKENS)
        .select("containee", "container")
    )


SQL_CONTAINMENT_PAIRS = rf"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CONT_SHIFT} AS doc_id,
         'prefix pad alpha bravo ' || text || ' omega zulu suffix pad' AS text
  FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\s+')) BETWEEN {_MIN_CONTAINEE_TOKENS} AND 60
), n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt FROM u
)
SELECT a.doc_id AS containee, b.doc_id AS container
FROM n a JOIN n b ON a.doc_id != b.doc_id AND contains(b.nt, a.nt)
WHERE len(regexp_split_to_array(a.nt, ' ')) >= {_MIN_CONTAINEE_TOKENS}
"""


def q_probe_store_lookup(spark, sf_dir):
    """Read-only corpus-membership lookup (streaming/incremental.py
    probe_store): the documents table is ingested into a temp store, then
    probed with exact copies under shifted ids at threshold 1.0 — every
    probe must find exactly its stored original with est_jaccard 1.0 (an
    est of 1.0 needs all 128 sketch cells equal, and the corpus texts are
    pairwise distinct). The decontamination-check shape: eval-set texts
    probed against a training-corpus store."""
    import shutil
    import tempfile
    from dataclasses import replace as dc_replace

    from .streaming.incremental import incremental_dedup_batch, probe_store

    cfg = dc_replace(CFG, jaccard_threshold=1.0)
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url"), "text"
    )
    store = tempfile.mkdtemp(prefix="probe_store_")
    try:
        incremental_dedup_batch(spark, d, store, cfg, epoch_id=0).count()
        probes = d.select((F.col("url") + _SHIFT).alias("url"), "text")
        out = probe_store(spark, probes, store, cfg).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return out.select(
        F.col("url_a").alias("probe_id"),
        F.col("url_b").alias("stored_id"),
        "est_jaccard",
    )


# expected matches: every probe finds its own stored original, PLUS any
# stored doc whose full sketch is identical to the probe's (distinct texts
# can share a shingle SET — ~10 such pairs exist at sf0.01; the near-dup
# SQL at threshold 1.0 derives exactly the sketch-identical pairs)
SQL_PROBE_STORE_LOOKUP = f"""
WITH dup AS (
  SELECT * FROM ({oracle_sql.near_dup_pairs_sql(CFG, threshold=1.0)}) q
)
SELECT doc_id + {_SHIFT} AS probe_id, doc_id AS stored_id,
  1.0::DOUBLE AS est_jaccard
FROM documents
UNION ALL
SELECT id_a + {_SHIFT}, id_b, 1.0::DOUBLE FROM dup
UNION ALL
SELECT id_b + {_SHIFT}, id_a, 1.0::DOUBLE FROM dup
"""


# --------------------------------------------------------------------------
# sketch/fingerprint queries — oracled by re-deriving the exact integer
# semantics in DuckDB SQL (oracle_sql.py): FNV shingles, universal hashing,
# column-min sketch, SimHash bit sign-sums, polynomial fingerprint
# --------------------------------------------------------------------------

def _signature_cells(sig, cfg: DedupConfig):
    """array<bigint> of a packed signature column, empty cells widened to
    SIG_INFTY_LONG: `signature_rows` in one Arrow UDF. The oracle queries'
    (pos, value) cells are the only place the engine widens the packed
    form."""
    size = cfg.minhash.sketch_size

    @pandas_udf(ArrayType(LongType()))
    def _cells(sigs: pd.Series) -> pd.Series:
        S = signature_rows(sigs, size)
        W = S.astype(np.int64)
        W[S == SIG_INFTY_INT] = SIG_INFTY_LONG
        return pd.Series(list(W))

    return _cells(sig)


def _exploded_signature(d: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(doc_id, pos, value) — harness-canonicalizable signature shape (array
    columns can't be hashed by the driver's pandas canonicalizer)."""
    sigs = with_minhash_signature(d, cfg)
    return sigs.select(
        "doc_id",
        F.posexplode(_signature_cells(F.col("minhash"), cfg)).alias("pos", "value"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "value")


def q_minhash_signatures(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _exploded_signature(d, CFG)


SQL_MINHASH_SIGNATURES = oracle_sql.signature_cells_sql(CFG)


def q_minhash_signatures_kwise(spark, sf_dir):
    """The k-wise polynomial hash family end-to-end (hash_type=1)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _exploded_signature(d, CFG_KWISE)


SQL_MINHASH_SIGNATURES_KWISE = oracle_sql.signature_cells_sql(CFG_KWISE)

# word-shingle mode end-to-end (the engine's second shingling family)
CFG_WORD = DedupConfig(
    minhash=MinHashConfig(sketch_size=128, seed=42),
    shingle_mode="word",
    shingle_size=3,
)


def q_minhash_signatures_word(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _exploded_signature(d, CFG_WORD)


SQL_MINHASH_SIGNATURES_WORD = oracle_sql.signature_cells_sql(CFG_WORD)


def q_minhash_merged_signatures(spark, sf_dir):
    """The reference's `merge` (elementwise min, src/utils/utils.c:36-46) as
    a query: merged sketch of each consecutive-id document pair. By the
    merge theorem this equals the sketch of the union of the two shingle
    sets — the algebra that makes Spark partial aggregation of sketches
    correct."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = with_minhash_signature(d, CFG).select(
        "doc_id", _signature_cells(F.col("minhash"), CFG).alias("minhash")
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("minhash").alias("_sa"))
    b = sigs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("minhash").alias("_sb"),
    )
    merged = a.join(b, "id_a").select(
        "id_a",
        "id_b",
        F.posexplode(F.zip_with("_sa", "_sb", lambda x, y: F.least(x, y))).alias(
            "pos", "value"
        ),
    )
    return merged.select("id_a", "id_b", F.col("pos").cast("long").alias("pos"), "value")


SQL_MINHASH_MERGED_SIGNATURES = oracle_sql.merged_signature_cells_sql(CFG)


def q_dedup_keep_list(spark, sf_dir):
    """The exact-dedup keep-list: one surviving doc_id (the minimum) per
    distinct text over the duplicated corpus — the semi-join short-circuit
    that runs before fuzzy stages at scale (operators.exact.dedup_exact)."""
    from .operators.exact import dedup_exact

    u = _docs_union(spark, sf_dir)
    return dedup_exact(u, id_col="doc_id").select("doc_id")


SQL_DEDUP_KEEP_LIST = f"""
SELECT min(doc_id) AS doc_id FROM {_DOCS_UNION_SQL} u GROUP BY text
"""


def q_simhash_fingerprints(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_simhash(d).select("doc_id", "simhash")


SQL_SIMHASH_FINGERPRINTS = oracle_sql.simhash_fingerprints_sql()


def q_doc_fingerprints(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_fingerprint(d).select("doc_id", "fingerprint")


SQL_DOC_FINGERPRINTS = oracle_sql.doc_fingerprints_sql()


def q_near_dup_pairs(spark, sf_dir):
    """Fuzzy near-dup pairs over the raw documents table at threshold 0.5 —
    the full signature → LSH bands → candidates → verify path at a sub-1.0
    threshold. Oracled end-to-end: the SQL recomputes the signatures and
    band-slice collisions exactly."""
    release_persisted()  # bound enumerator-cache footprint across query runs
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = with_minhash_signature(d, CFG).select("doc_id", "minhash")
    bands = bands_table(sigs, CFG, id_col="doc_id")
    cands = candidate_pairs(bands, CFG, id_col="doc_id")
    return verify_pairs(cands, sigs, CFG, id_col="doc_id", threshold=0.5).select(
        F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"), "est_jaccard"
    )


SQL_NEAR_DUP_PAIRS = oracle_sql.near_dup_pairs_sql(CFG, threshold=0.5)


def q_simhash_candidate_pairs(spark, sf_dir):
    """Pigeonhole banding (n_bands = max_hamming+1 slices) has guaranteed
    recall at the radius, so banding + hamming verify equals the oracle's
    brute-force all-pairs hamming join exactly."""
    release_persisted()  # bound enumerator-cache footprint across query runs
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = with_simhash(d)
    return simhash_candidates(fps, id_col="doc_id", max_hamming=3).select(
        F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"), "hamming"
    )


SQL_SIMHASH_CANDIDATE_PAIRS = oracle_sql.simhash_pairs_sql(max_hamming=3)


def q_incremental_dedup_replay(spark, sf_dir):
    """Replays the streaming incremental-store build as a batch query so the
    driver can value-check the streaming path: documents are split into 3
    deterministic micro-batches (pmod(doc_id, 3)), each batch is deduplicated
    against the accumulated band/signature store exactly as the foreachBatch
    body does (streaming/incremental.py), and the union of the per-batch
    verified pairs is returned. By the sketch mergeability/insertion-order
    invariant (reference src/utils/utils.c:36-46) this equals the one-shot
    batch `near_dup_pairs` result, which is the oracle."""
    import shutil
    import tempfile
    from dataclasses import replace as dc_replace

    from .streaming.incremental import incremental_dedup_batch

    cfg = dc_replace(CFG, jaccard_threshold=0.5)
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url"), "text"
    )
    store = tempfile.mkdtemp(prefix="incr_replay_")
    try:
        parts = []
        for b in range(3):
            batch = d.where(F.pmod(F.col("url"), F.lit(3)) == b)
            # localCheckpoint materializes each batch's verified pairs BEFORE
            # the next batch extends the store (the lazy plan reads
            # "batch_id != b" store partitions, which later batches add to)
            parts.append(
                # eager=True explicitly: the store dir is rmtree'd in the
                # finally block, so the checkpoint MUST materialize the
                # batch's pairs now — a lazy checkpoint would leave plans
                # referencing deleted parquet paths
                incremental_dedup_batch(
                    spark, batch, store, cfg, epoch_id=b
                ).localCheckpoint(eager=True)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            F.col("url_a").alias("id_a"),
            F.col("url_b").alias("id_b"),
            "est_jaccard",
        ).distinct()
    finally:
        shutil.rmtree(store, ignore_errors=True)


# identical expected set: each pair is emitted exactly once, by the batch in
# which its later member arrives, with the same band-collision counting and
# the same signature-based est_jaccard as the batch path
SQL_INCREMENTAL_DEDUP_REPLAY = SQL_NEAR_DUP_PAIRS


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "exact_dedup_groups": q_exact_dedup_groups,
    "minhash_text_dup_pairs": q_minhash_text_dup_pairs,
    "dedup_clusters_exact": q_dedup_clusters_exact,
    "ngram3_jaccard_consecutive": q_ngram3_jaccard_consecutive,
    "ngram_decontaminate": q_ngram_decontaminate,
    "passage_dup_stats": q_passage_dup_stats,
    "intra_doc_repetition": q_intra_doc_repetition,
    "fuzzy_dedup_keep": q_fuzzy_dedup_keep,
    "containment_pairs": q_containment_pairs,
    "probe_store_lookup": q_probe_store_lookup,
    "incremental_dedup_replay": q_incremental_dedup_replay,
    "minhash_signatures": q_minhash_signatures,
    "minhash_signatures_kwise": q_minhash_signatures_kwise,
    "minhash_signatures_word": q_minhash_signatures_word,
    "minhash_merged_signatures": q_minhash_merged_signatures,
    "dedup_keep_list": q_dedup_keep_list,
    "simhash_fingerprints": q_simhash_fingerprints,
    "simhash_candidate_pairs": q_simhash_candidate_pairs,
    "doc_fingerprints": q_doc_fingerprints,
    "near_dup_pairs": q_near_dup_pairs,
    "token_jaccard_consecutive": q_token_jaccard_consecutive,
    "ngram_containment_consecutive": q_ngram_containment_consecutive,
}

ORACLE_SQL = {
    "exact_dedup_groups": SQL_EXACT_DEDUP_GROUPS,
    "minhash_text_dup_pairs": SQL_MINHASH_TEXT_DUP_PAIRS,
    "dedup_clusters_exact": SQL_DEDUP_CLUSTERS_EXACT,
    "ngram3_jaccard_consecutive": SQL_NGRAM3_JACCARD_CONSECUTIVE,
    "ngram_decontaminate": SQL_NGRAM_DECONTAMINATE,
    "passage_dup_stats": SQL_PASSAGE_DUP_STATS,
    "intra_doc_repetition": SQL_INTRA_DOC_REPETITION,
    "fuzzy_dedup_keep": SQL_FUZZY_DEDUP_KEEP,
    "containment_pairs": SQL_CONTAINMENT_PAIRS,
    "probe_store_lookup": SQL_PROBE_STORE_LOOKUP,
    "incremental_dedup_replay": SQL_INCREMENTAL_DEDUP_REPLAY,
    "minhash_signatures": SQL_MINHASH_SIGNATURES,
    "minhash_signatures_kwise": SQL_MINHASH_SIGNATURES_KWISE,
    "minhash_signatures_word": SQL_MINHASH_SIGNATURES_WORD,
    "minhash_merged_signatures": SQL_MINHASH_MERGED_SIGNATURES,
    "dedup_keep_list": SQL_DEDUP_KEEP_LIST,
    "simhash_fingerprints": SQL_SIMHASH_FINGERPRINTS,
    "simhash_candidate_pairs": SQL_SIMHASH_CANDIDATE_PAIRS,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "near_dup_pairs": SQL_NEAR_DUP_PAIRS,
    "token_jaccard_consecutive": SQL_TOKEN_JACCARD_CONSECUTIVE,
    "ngram_containment_consecutive": SQL_NGRAM_CONTAINMENT_CONSECUTIVE,
}
