"""Operator-level tests: SimHash, suffix-array containment, n-gram Jaccard,
text operators."""

import numpy as np
from pyspark.sql import functions as F

from minhash_spark.operators import (
    with_simhash,
    simhash_candidates,
    substring_dedup,
    ngram_jaccard_pairs,
    token_count,
    with_fingerprint,
)
from minhash_spark.sources.pages import generate_corpus


# ---------- SimHash ----------------------------------------------------------


def test_simhash_near_identical(spark):
    base = " ".join(f"word{i}" for i in range(120))
    punct = base.replace("word5", "word5,").replace("word50", "word50.")
    other = " ".join(f"zzz{i}" for i in range(120))
    df = spark.createDataFrame(
        [("a", base), ("b", punct), ("c", other)], ["url", "text"]
    )
    fps = with_simhash(df)
    pairs = simhash_candidates(fps, max_hamming=6).collect()
    got = {(r["url_a"], r["url_b"]) for r in pairs}
    assert ("a", "b") in got
    assert ("a", "c") not in got and ("b", "c") not in got


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame([("a", "x y z w"), ("b", "x y z w")], ["url", "text"])
    rows = simhash_candidates(with_simhash(df), max_hamming=0).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


# ---------- substring / suffix array ----------------------------------------


def test_substring_dedup_finds_contained(spark):
    rng = np.random.default_rng(0)
    vocab = [f"tok{i}" for i in range(500)]
    inner = " ".join(rng.choice(vocab, 40))
    container = (
        " ".join(rng.choice(vocab, 30)) + " " + inner + " " + " ".join(rng.choice(vocab, 25))
    )
    unrelated = " ".join(rng.choice(vocab, 60))
    df = spark.createDataFrame(
        [("inner", inner), ("outer", container), ("other", unrelated)],
        ["url", "text"],
    )
    rows = substring_dedup(df, winnow_k=8).collect()
    got = {(r["containee"], r["container"]) for r in rows}
    assert ("inner", "outer") in got
    assert all(c == "inner" for c, _ in got)


def test_substring_dedup_normalized_matching(spark):
    """Containment is on normalized text: case/whitespace differences don't
    break it (the per-row invariant column is text, normalization is ours)."""
    inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    container = "pre1 pre2 pre3 " + inner.upper() + "  post1   post2"
    df = spark.createDataFrame(
        [("i", inner), ("o", container)], ["url", "text"]
    )
    got = {(r["containee"], r["container"]) for r in substring_dedup(df, winnow_k=2).collect()}
    assert ("i", "o") in got


def test_substring_no_false_positives(spark):
    df = spark.createDataFrame(
        [("a", " ".join(f"a{i}" for i in range(30))),
         ("b", " ".join(f"b{i}" for i in range(30)))],
        ["url", "text"],
    )
    assert substring_dedup(df).count() == 0


# ---------- LSH skew tiers ---------------------------------------------------


def test_candidate_pair_skew_tiers(spark):
    """Three bucket tiers: plain (m≤cap) and salted (cap<m≤salted_max) must
    produce the EXACT all-pairs set; star (m>salted_max) produces exactly
    the m-1 anchor pairs."""
    import dataclasses
    import itertools
    from minhash_spark.config import DedupConfig
    from minhash_spark.operators.lsh import candidate_pairs

    cfg = dataclasses.replace(
        DedupConfig(), max_bucket_size=5, salted_bucket_max=30, salt_factor=4,
        min_band_matches=1,
    )
    rows = []
    # bucket A: m=4 (plain), bucket B: m=20 (salted), bucket C: m=50 (star)
    for i in range(4):
        rows.append((f"a{i:02d}", 0, 111))
    for i in range(20):
        rows.append((f"b{i:02d}", 1, 222))
    for i in range(50):
        rows.append((f"c{i:02d}", 2, 333))
    bands = spark.createDataFrame(rows, ["url", "band_id", "band_key"])
    got = {(r["url_a"], r["url_b"]) for r in candidate_pairs(bands, cfg).collect()}

    want = set()
    want |= set(itertools.combinations([f"a{i:02d}" for i in range(4)], 2))
    want |= set(itertools.combinations([f"b{i:02d}" for i in range(20)], 2))
    want |= {("c00", f"c{i:02d}") for i in range(1, 50)}  # star: anchor=min
    assert got == want


# ---------- n-gram jaccard ----------------------------------------------------


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [("a", "x y z w"), ("b", "x y z q"), ("c", "x y z w")], ["url", "text"]
    )
    pairs = spark.createDataFrame([("a", "b"), ("a", "c")], ["url_a", "url_b"])
    got = {
        (r["url_a"], r["url_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(pairs, df, n=2).collect()
    }
    # bigrams of a: {x y, y z, z w}; of b: {x y, y z, z q} → 2/4
    assert got[("a", "b")] == 0.5
    assert got[("a", "c")] == 1.0


# ---------- text ops -----------------------------------------------------------


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a", "the cat, sat."), ("b", ""), ("c", "  x  ")], ["url", "text"]
    )
    tc = {r["url"]: r["n"] for r in df.select("url", token_count("text").alias("n")).collect()}
    assert tc == {"a": 3, "b": 0, "c": 1}


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([("a", "hello"), ("b", "hello"), ("c", "hellp")], ["url", "text"])
    got = {r["url"]: r["fingerprint"] for r in with_fingerprint(df).collect()}
    assert got["a"] == got["b"] != got["c"]
    # pin the value: fp("hello") = Σ byte·BASE^(n-1-i) mod 2^64
    base = 1099511628211
    want = sum(b * pow(base, 4 - i, 1 << 64) for i, b in enumerate(b"hello")) % (1 << 64)
    assert got["a"] == (want if want < 1 << 63 else want - (1 << 64))


def test_passage_dup_stats_semantics(spark):
    """Known corpus: doc A and B share A's full token stream; C is unique;
    D is too short for one window."""
    from minhash_spark.operators.text import passage_dup_stats

    a = " ".join(f"t{i}" for i in range(20))            # 2 passages
    b = a + " " + " ".join(f"x{i}" for i in range(10))  # A's 2 + 1 unique
    c = " ".join(f"c{i}" for i in range(15))            # 1 passage, unique
    d = "too short"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in passage_dup_stats(df, window=10).collect()}
    assert set(got) == {1, 2, 3}  # D yields no row
    assert (got[1]["n_passages"], got[1]["n_dup_passages"]) == (2, 2)
    assert got[1]["dup_ratio"] == 1.0
    assert (got[2]["n_passages"], got[2]["n_dup_passages"]) == (3, 2)
    assert got[2]["dup_ratio"] == round(2 / 3, 6)
    assert (got[3]["n_passages"], got[3]["n_dup_passages"]) == (1, 0)


def test_band_keys_match_the_stored_band_key_derivation(spark):
    """Exploded `band_keys` equals `bands_table` row for row, and both equal
    the derivation incremental stores were written with: posexplode over the
    band slices, then xxhash64(band index, slice). A drift here would make
    new batches silently miss every stored band."""
    from collections import Counter

    from minhash_spark.config import DedupConfig
    from minhash_spark.operators.lsh import band_keys, bands_table
    from minhash_spark.operators.signatures import with_minhash_signature

    cfg = DedupConfig()
    pages, _, _ = generate_corpus(40, seed=3)
    sigs = with_minhash_signature(
        spark.createDataFrame(pages).select("url", "text"), cfg
    ).select("url", "minhash")
    rows = cfg.rows
    band = lambda i: F.substring("minhash", i * (rows * 4) + 1, rows * 4)
    slices = F.transform(F.sequence(F.lit(0), F.lit(cfg.bands - 1)), band)
    reference = sigs.select(
        "url", F.posexplode(slices).alias("band_id", "band_sig")
    ).select("url", F.xxhash64("band_id", "band_sig").alias("band_key"))
    exploded = sigs.select(
        "url", F.explode(band_keys("minhash", cfg)).alias("band_key")
    )

    def rows_of(df):
        return Counter(tuple(r) for r in df.collect())

    want = rows_of(reference)
    assert sum(want.values()) == 40 * cfg.bands
    assert rows_of(exploded) == want
    assert rows_of(bands_table(sigs, cfg)) == want


def test_passage_dup_stats_hash_mode_equals_string_mode(spark):
    """The default hashed passage key (the at-scale shuffle form) must
    produce the same per-doc stats as the exact-string key on a corpus with
    real cross-doc repetition (xxhash64 collisions are the only possible
    divergence, and none occur on a small fixture)."""
    from minhash_spark.operators.text import passage_dup_stats

    base = "one two three four five six seven eight nine ten "
    rows = [
        (1, base * 3),                        # 3 identical passages, dup'd by 2
        (2, base + "a b c d e f g h i j " * 2),  # shares passage 1 with doc 1
        (3, "k l m n o p q r s t " * 2),      # unique
        (4, "too short"),                     # below one window: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"], r["dup_ratio"])
        for r in passage_dup_stats(df, window=10, key_mode="string").collect()
    }
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"], r["dup_ratio"])
        for r in passage_dup_stats(df, window=10, key_mode="hash").collect()
    }
    assert got == want
    assert 1 in got and got[1][1] > 0  # the fixture actually induces dups
    assert 4 not in got


def test_latest_version_semantics_and_plan(spark):
    """Snapshot dedup keeps exactly the lexicographically-greatest
    (order_cols) row per key — deterministic on ts ties via the id
    tiebreaker — and plans as a partial aggregation, NOT a window sort."""
    from minhash_spark.operators.exact import latest_version
    from minhash_spark.plans import plan_report

    rows = [
        # key (1,'a'): ts tie — event 12 must win (higher id)
        (1, "a", 10, 11, 1.0),
        (1, "a", 10, 12, 2.0),
        (1, "a", 9, 99, 3.0),   # older ts, higher id: must lose
        (2, "a", 5, 1, 4.0),
        (2, "b", 1, 2, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts long, event_id long, value double"
    )
    out = latest_version(
        df, key_cols=["user_id", "event_type"], order_cols=["ts", "event_id"]
    )
    got = {
        (r["user_id"], r["event_type"]): (r["event_id"], r["value"])
        for r in out.collect()
    }
    assert got == {(1, "a"): (12, 2.0), (2, "a"): (1, 4.0), (2, "b"): (2, 5.0)}
    rep = plan_report(out)
    assert "Window" not in rep.text  # max_by aggregate, no per-key sort
    assert "HashAggregate" in rep.text or "SortAggregate" in rep.text


def test_decontaminate_report_exact_values(spark):
    from minhash_spark.operators.ngram import decontaminate_report

    # eval doc: 6 tokens → bigrams {a b, b c, c d, d e, e f}
    # d1 copies 3 of those bigrams out of its own 4 → 0.75 ≥ 0.5 flagged
    # d2 shares exactly one bigram of its 4 → 0.25, reported but unflagged
    # d3 shares none → absent from the report
    docs = spark.createDataFrame(
        [
            ("e0", "a b c d e f"),
            ("d1", "a b c d x"),
            ("d2", "q r a b s"),
            ("d3", "p q r s t"),
        ],
        ["url", "text"],
    )
    got = {
        r["url"]: r.asDict()
        for r in decontaminate_report(
            docs, docs.where(F.col("url") == "e0"), n=2, threshold=0.5
        ).collect()
    }
    assert set(got) == {"e0", "d1", "d2"}
    assert got["e0"]["contamination"] == 1.0 and got["e0"]["flagged"]
    assert got["d1"]["n_grams"] == 4 and got["d1"]["n_contaminated"] == 3
    assert got["d1"]["contamination"] == 0.75 and got["d1"]["flagged"]
    assert got["d2"]["contamination"] == 0.25 and not got["d2"]["flagged"]


def test_decontaminate_short_docs_drop_out(spark):
    from minhash_spark.operators.ngram import decontaminate_report

    # fewer tokens than n → empty gram set → no row (never divides by zero)
    docs = spark.createDataFrame([("e0", "a b c"), ("s", "a")], ["url", "text"])
    rows = decontaminate_report(
        docs, docs.where(F.col("url") == "e0"), n=2
    ).collect()
    assert [r["url"] for r in rows] == ["e0"]
