"""Differential tests for the DuckDB oracle-SQL builders (oracle_sql.py):
the SQL re-derivation of the sketch/fingerprint semantics must match the
numpy kernels cell-for-cell on a corpus with every edge case (empty text,
whitespace-only, shorter-than-shingle, repeated tokens) — the same
differential discipline the reference applies between its parallel variants
and the serial build (/root/reference/test/test_parallel_lock.c:47-57).

Also the ANSI-mode regression: all-sentinel signatures (empty documents)
must survive the int32 packing in verify_pairs (Spark 4 defaults
spark.sql.ansi.enabled=true, where a plain cast of 2^63-1 to int raises
CAST_OVERFLOW).
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from minhash_spark.config import DedupConfig, MinHashConfig, HASH_KWISE
from minhash_spark import oracle_sql
from minhash_spark.functions.kernels import min_sketch_batch, sketch_to_long
from minhash_spark.functions.shingles import char_shingles, normalize_text, fnv1a_many

CFG = DedupConfig(minhash=MinHashConfig(sketch_size=32, seed=7), bands=8, rows=4)
CFG_KW = DedupConfig(
    minhash=MinHashConfig(sketch_size=32, seed=7, hash_type=HASH_KWISE),
    bands=8,
    rows=4,
)

EDGE_TEXTS = [
    "",  # empty → all-sentinel signature
    "   ",  # whitespace-only → empty after normalize
    "ab",  # shorter than shingle size → one whole-text shingle
    "The  QUICK   brown fox",  # case + whitespace collapse
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "word word word word repeated tokens here word",
    "punctuation, and! some? symbols; here: ok (really).",
    "0123456789 numbers 42 and 7 mixed in",
]


@pytest.fixture(scope="module")
def docs():
    texts = EDGE_TEXTS + [f"synthetic document number {i} with shared vocabulary words" for i in range(20)]
    return pd.DataFrame({"doc_id": range(len(texts)), "text": texts})


@pytest.fixture(scope="module")
def con(docs):
    c = duckdb.connect()
    c.register("documents", docs)
    return c


@pytest.mark.parametrize("cfg", [CFG, CFG_KW], ids=["pairwise", "kwise"])
def test_signature_sql_matches_kernels(con, docs, cfg):
    got = (
        con.sql(oracle_sql.signature_cells_sql(cfg))
        .df()
        .sort_values(["doc_id", "pos"])["value"]
        .to_numpy()
    )
    sets = [char_shingles(t, cfg.shingle_size) for t in docs["text"]]
    want = sketch_to_long(min_sketch_batch(sets, cfg.minhash)).flatten()
    assert np.array_equal(got, want)


def _py_simhash(text: str) -> int:
    toks = normalize_text(text).split(" ")
    if toks == [""]:
        return 0
    h = fnv1a_many([t.encode() for t in toks])
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    v = (2 * bits - 1).sum(axis=0)
    fp = np.bitwise_or.reduce(
        np.where(v > 0, np.uint64(1), np.uint64(0)) << np.arange(64, dtype=np.uint64)
    )
    return int(fp.astype(np.int64))


def test_simhash_sql_matches_python(con, docs):
    got = (
        con.sql(oracle_sql.simhash_fingerprints_sql())
        .df()
        .sort_values("doc_id")["simhash"]
        .tolist()
    )
    want = [_py_simhash(t) for t in docs["text"]]
    assert got == want


def test_fingerprint_sql_matches_python(con, docs):
    BASE = np.uint64(1099511628211)
    got = (
        con.sql(oracle_sql.doc_fingerprints_sql())
        .df()
        .sort_values("doc_id")["fingerprint"]
        .tolist()
    )
    want = []
    with np.errstate(over="ignore"):
        for t in docs["text"]:
            h = np.uint64(0)
            for b in t.encode("utf-8"):
                h = h * BASE + np.uint64(b)
            want.append(int(h.astype(np.int64)))
    assert got == want


def test_verify_pairs_survives_empty_documents(spark):
    """Two empty + one whitespace-only document: all-sentinel signatures
    collide in every band and must flow through the int32 packing without
    CAST_OVERFLOW, pairing with est_jaccard = 1.0 (ADVICE r01, high)."""
    from minhash_spark.operators.signatures import with_minhash_signature
    from minhash_spark.operators.lsh import bands_table, candidate_pairs
    from minhash_spark.operators.verify import verify_pairs

    df = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["a", "b", "c", "d"], "text": ["", "", "   ", "real document text here"]}
        )
    )
    sigs = with_minhash_signature(df, CFG).select("url", "minhash")
    bands = bands_table(sigs, CFG)
    cands = candidate_pairs(bands, CFG)
    verified = verify_pairs(cands, sigs, CFG, threshold=1.0)
    got = {(r["url_a"], r["url_b"]) for r in verified.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c")}


def test_verify_pairs_and_bands_table_reject_array_signatures(spark):
    """Packed binary is the only signature form: an array<int> signature
    column is refused with ValueError before any plan is built, by both
    operators that read signature cells."""
    from minhash_spark.operators.lsh import bands_table
    from minhash_spark.operators.verify import verify_pairs

    sigs = spark.createDataFrame(
        [("a", [7] * 32), ("b", [7] * 32)], "url string, minhash array<int>"
    )
    pairs = spark.createDataFrame([("a", "b")], ["url_a", "url_b"])
    with pytest.raises(ValueError, match="array<int>"):
        verify_pairs(pairs, sigs, CFG)
    with pytest.raises(ValueError, match="array<int>"):
        bands_table(sigs, CFG)
