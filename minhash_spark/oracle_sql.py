"""DuckDB oracle-SQL builders for the non-relational operators.

The driver's correctness gate compares every Spark query against an ANSI-SQL
oracle run by DuckDB on the same parquet tables. Relational queries have
hand-written SQL in queries.py; the sketch/fingerprint operators are oracled
HERE by re-deriving their exact integer semantics in SQL:

- FNV-1a shingle hashing, the reference's pairwise/k-wise universal hash
  families, and the column-min sketch (src/utils/hash.c:6-25,
  src/utils/utils.c:3-33) — via HUGEINT arithmetic with explicit mod-2^64
  wraps, cell-exact against the numpy kernels (pinned in
  tests/test_oracle_sql.py).
- SimHash (per-token FNV bit sign-sums) and the 64-bit polynomial rolling
  fingerprint — same discipline.

Assumption: the documents corpus is ASCII (driver testdata is), so one
character = one utf-8 byte and `unicode(c)` yields the byte value. All SQL
is generated from the same DedupConfig / seeds as the Spark side — identical
hash-function tables by construction.
"""

from __future__ import annotations

from .config import DedupConfig, HASH_KWISE, SIG_INFTY_LONG

M64 = "18446744073709551616::HUGEINT"  # 2^64
FNV_PRIME = "1099511628211::HUGEINT"
FNV_OFFSET = "14695981039346656037::HUGEINT"


def _norm_cte(table: str = "documents", id_col: str = "doc_id") -> str:
    """Normalized text (lower, whitespace→single space, strip) — mirrors
    functions.shingles.normalize_text for ASCII corpora."""
    return (
        f"SELECT {id_col} AS doc_id, "
        "trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt "
        f"FROM {table}"
    )


def _fnv_window_expr(var: str, k: int) -> str:
    """FNV-1a over cs[var .. var+k-1] as a nested expression (one mod-2^64
    wrap per byte, exactly the uint64 arithmetic of shingles._fnv1a_bytes)."""
    h = FNV_OFFSET
    for j in range(k):
        h = f"(xor({h}, cs[{var}+{j}]) * {FNV_PRIME}) % {M64}"
    return h


def _shingles_cte(k: int) -> str:
    """Per-doc distinct char-k-shingle FNV hashes of the normalized text:
    texts shorter than k hash as one whole-text shingle; empty → empty set
    (shingles.char_shingles)."""
    win = _fnv_window_expr("i", k)
    return f"""
norm AS ({_norm_cte()}),
codes AS (
  SELECT doc_id,
    list_transform(regexp_split_to_array(nt, ''), c -> unicode(c)::HUGEINT) AS cs,
    length(nt) AS n
  FROM norm
),
shing AS (
  SELECT doc_id,
    CASE WHEN n = 0 THEN []::HUGEINT[]
         WHEN n < {k} THEN [list_reduce(list_prepend({FNV_OFFSET}, cs),
                            (h, c) -> (xor(h, c) * {FNV_PRIME}) % {M64})]
         ELSE list_distinct(list_transform(range(1, n - {k - 2}), i -> {win}))
    END AS sh
  FROM codes
)"""


def _shingles_cte_word(w: int) -> str:
    """Per-doc distinct word w-shingle FNV hashes: w consecutive tokens of
    the normalized text joined by 0x1f, hashed over their utf-8 bytes
    (shingles.word_shingles); fewer tokens than w hash as one whole-doc
    shingle; empty → empty set."""
    return f"""
norm AS ({_norm_cte()}),
toks AS (
  SELECT doc_id,
    CASE WHEN nt = '' THEN []::VARCHAR[] ELSE string_split(nt, ' ') END AS ts
  FROM norm
),
joined AS (
  SELECT doc_id,
    CASE WHEN len(ts) = 0 THEN []::VARCHAR[]
         WHEN len(ts) < {w} THEN [array_to_string(ts, chr(31))]
         ELSE list_transform(range(1, len(ts) - {w - 2}),
              i -> array_to_string(ts[i:i+{w - 1}], chr(31)))
    END AS gs
  FROM toks
),
shing AS (
  SELECT doc_id,
    list_distinct(list_transform(gs, g -> list_reduce(
      list_prepend({FNV_OFFSET},
        list_transform(regexp_split_to_array(g, ''), c -> unicode(c)::HUGEINT)),
      (h, c) -> (xor(h, c) * {FNV_PRIME}) % {M64}))) AS sh
  FROM joined
)"""


def _shingle_chunk(cfg: DedupConfig) -> str:
    if cfg.shingle_mode == "word":
        return _shingles_cte_word(cfg.shingle_size)
    return _shingles_cte(cfg.shingle_size)


def _cells_chunk(cfg: DedupConfig) -> str:
    """CTE chunk (appended after the shingle CTEs) defining `coeff` and
    `cells` = (doc_id, pos, value): the per-cell sketch minima, exact clone
    of kernels.hash_matrix + the column-min reduction — including the
    mod-2^64 wraps that numpy uint64 arithmetic applies before each % M.

    The 128-bit products are decomposed into 64-bit arithmetic (≈15× faster
    in DuckDB than HUGEINT):

    - pairwise ((a·x) mod 2^64) % M with x = xh·2^32 + xl per shingle:
      u = xl·a (< 2^63), s = ((xh·a) mod 2^32)·2^32 (< 2^64), carry
      c = [u > 2^64-1 - s]; since 2^64 ≡ 4 (mod M = 2^31-1),
      value = (u%M + s%M + 8M − 4c + b) % M.
    - k-wise: the power chain pow_i = ((pow_{i-1}·x) mod 2^64) % M depends
      only on the shingle, so it is hoisted per-shingle (HUGEINT, once);
      the per-cell polynomial then uses only < 2^62 products.
    """
    mh = cfg.minhash
    M = f"{mh.prime_modulus}::UBIGINT"
    coeffs = mh.coefficients()
    if mh.hash_type == HASH_KWISE:
        (C,) = coeffs
        rows = ", ".join(
            "(" + str(p) + ", "
            + ", ".join(f"{int(C[p, i])}::UBIGINT" for i in range(C.shape[1]))
            + ")"
            for p in range(mh.sketch_size)
        )
        cols = ", ".join(f"c{i}" for i in range(C.shape[1]))
        MH = f"{mh.prime_modulus}::HUGEINT"
        px_cols, px = [], f"(sx0.x % {MH})"  # pow_1 = (1·x wraps trivially) % M
        for i in range(1, mh.k + 1):
            px_cols.append(f"({px})::UBIGINT AS px{i}")
            px = f"((({px}) * sx0.x) % {M64}) % {MH}"
        total = f"(coeff.c0 % {M})"
        for i in range(1, mh.k + 1):
            total = f"(({total} + (sx.px{i} * coeff.c{i}) % {M}) % {M})"
        return f"""
sx AS (SELECT doc_id, {", ".join(px_cols)}
       FROM (SELECT doc_id, unnest(sh) AS x FROM shing) sx0),
coeff(pos, {cols}) AS (VALUES {rows}),
cells AS (
  SELECT sx.doc_id, coeff.pos, min({total})::BIGINT AS value
  FROM sx CROSS JOIN coeff
  GROUP BY sx.doc_id, coeff.pos
)"""
    a, b = coeffs
    rows = ", ".join(
        f"({p}, {int(a[p])}::UBIGINT, {int(b[p])}::UBIGINT)"
        for p in range(mh.sketch_size)
    )
    s = "((sx.xh * coeff.ca) % 4294967296::UBIGINT) * 4294967296::UBIGINT"
    u = "sx.xl * coeff.ca"
    carry = f"CASE WHEN {u} > 18446744073709551615::UBIGINT - {s} THEN 4::UBIGINT ELSE 0::UBIGINT END"
    value = f"(({u}) % {M} + ({s}) % {M} + {mh.prime_modulus * 8}::UBIGINT - {carry} + coeff.cb) % {M}"
    return f"""
sx AS (SELECT doc_id, (x % 4294967296::HUGEINT)::UBIGINT AS xl,
              (x // 4294967296::HUGEINT)::UBIGINT AS xh
       FROM (SELECT doc_id, unnest(sh) AS x FROM shing) sx0),
coeff(pos, ca, cb) AS (VALUES {rows}),
cells AS (
  SELECT sx.doc_id, coeff.pos, min({value})::BIGINT AS value
  FROM sx CROSS JOIN coeff
  GROUP BY sx.doc_id, coeff.pos
)"""


def signature_cells_sql(cfg: DedupConfig) -> str:
    """(doc_id, pos, value) — the exploded MinHash signature of every
    document; empty documents yield all-sentinel (SIG_INFTY_LONG) cells."""
    return f"""
WITH {_shingle_chunk(cfg)},
{_cells_chunk(cfg)}
SELECT d.doc_id, c2.pos::BIGINT AS pos,
       coalesce(cells.value, {SIG_INFTY_LONG}) AS value
FROM (SELECT doc_id FROM documents) d
CROSS JOIN (SELECT pos FROM coeff) c2
LEFT JOIN cells ON cells.doc_id = d.doc_id AND cells.pos = c2.pos
"""


def near_dup_pairs_sql(cfg: DedupConfig, threshold: float) -> str:
    """(id_a, id_b, est_jaccard) — the full MinHash-LSH pipeline output:
    signatures → band-slice equality join (the oracle compares true slices;
    Spark buckets by xxhash64 of the same slices) → ≥ min_band_matches →
    positional-equality estimate ≥ threshold. est = matches/128 is exact in
    binary floating point (power-of-two divisor), so no rounding is needed."""
    rows, bands = cfg.rows, cfg.bands
    size = cfg.minhash.sketch_size
    return f"""
WITH {_shingle_chunk(cfg)},
{_cells_chunk(cfg)},
cells_full AS (
  SELECT d.doc_id, c2.pos, coalesce(cells.value, {SIG_INFTY_LONG}) AS value
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT pos FROM coeff) c2
  LEFT JOIN cells ON cells.doc_id = d.doc_id AND cells.pos = c2.pos
),
sigl AS (SELECT doc_id, list(value ORDER BY pos) AS sig FROM cells_full GROUP BY doc_id),
bands AS (
  SELECT doc_id, b AS band_id, sig[{rows}*b+1:{rows}*b+{rows}] AS bv
  FROM sigl CROSS JOIN (SELECT unnest(range(0, {bands})) AS b)
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bv = b.bv AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {cfg.min_band_matches}
)
SELECT id_a, id_b,
  (len(list_filter(range(1, {size + 1}), i -> sa.sig[i] = sb.sig[i]))
   / {float(size)}) AS est_jaccard
FROM cand
JOIN sigl sa ON sa.doc_id = id_a
JOIN sigl sb ON sb.doc_id = id_b
WHERE len(list_filter(range(1, {size + 1}), i -> sa.sig[i] = sb.sig[i]))
      / {float(size)} >= {threshold}
"""


def merged_signature_cells_sql(cfg: DedupConfig) -> str:
    """(id_a, id_b, pos, value) — elementwise-min MERGE of the signatures of
    consecutive-id document pairs: the reference's `merge`
    (src/utils/utils.c:36-46). By the merge theorem min-sketch(A ∪ B) =
    elementwise-min(sketch(A), sketch(B)), so the oracle simply takes
    least() over the two per-doc cell tables."""
    return f"""
WITH {_shingle_chunk(cfg)},
{_cells_chunk(cfg)},
cells_full AS (
  SELECT d.doc_id, c2.pos, coalesce(cells.value, {SIG_INFTY_LONG}) AS value
  FROM (SELECT doc_id FROM documents) d
  CROSS JOIN (SELECT pos FROM coeff) c2
  LEFT JOIN cells ON cells.doc_id = d.doc_id AND cells.pos = c2.pos
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos::BIGINT AS pos,
       least(a.value, b.value) AS value
FROM cells_full a
JOIN cells_full b ON b.doc_id = a.doc_id + 1 AND b.pos = a.pos
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_cte() -> str:
    """Per-doc 64-bit SimHash: sign-sum over per-token-occurrence FNV-1a hash
    bits (operators.simhash — summing ±1 per occurrence equals the
    count-weighted distinct-token form)."""
    return f"""
norm AS ({_norm_cte()}),
toks AS (
  SELECT doc_id, unnest(CASE WHEN nt = '' THEN []::VARCHAR[]
                             ELSE string_split(nt, ' ') END) AS tok
  FROM norm
),
th AS (
  SELECT doc_id,
    list_reduce(
      list_prepend({FNV_OFFSET},
        list_transform(regexp_split_to_array(tok, ''), c -> unicode(c)::HUGEINT)),
      (h, c) -> (xor(h, c) * {FNV_PRIME}) % {M64}) AS h
  FROM toks
),
bitsum AS (
  SELECT doc_id, j,
    sum(CASE WHEN (h // (1::HUGEINT << j)) % 2 = 1 THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j)
  GROUP BY doc_id, j
),
fps AS (
  SELECT doc_id,
    sum(CASE WHEN v > 0 THEN 1::HUGEINT << j ELSE 0::HUGEINT END) AS fp_u
  FROM bitsum GROUP BY doc_id
),
simh AS (
  SELECT d.doc_id,
    coalesce(CASE WHEN f.fp_u >= 9223372036854775808::HUGEINT
                  THEN (f.fp_u - {M64})::BIGINT ELSE f.fp_u::BIGINT END,
             0) AS simhash
  FROM (SELECT doc_id FROM documents) d
  LEFT JOIN fps f ON f.doc_id = d.doc_id
)"""


def simhash_fingerprints_sql() -> str:
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM simh"


def simhash_pairs_sql(max_hamming: int = 3) -> str:
    """Brute-force all-pairs hamming ≤ max_hamming over the SQL-computed
    fingerprints. The Spark side's pigeonhole banding (n_bands =
    max_hamming+1 slices) is guaranteed-recall for this radius, so banding +
    verify == brute force exactly."""
    return f"""
WITH {_simhash_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# Rolling polynomial fingerprint
# ---------------------------------------------------------------------------

def doc_fingerprints_sql() -> str:
    """64-bit polynomial fingerprint of the RAW text bytes:
    fp = Σ byte_i · BASE^(n-1-i) mod 2^64, i.e. Horner h = h·BASE + b
    (operators.text.fingerprint_udf). list_reduce without an initial value
    seeds with the first byte — identical to Horner from zero."""
    return f"""
WITH f AS (
  SELECT doc_id,
    CASE WHEN text IS NULL OR length(text) = 0 THEN 0::HUGEINT
         ELSE list_reduce(
                list_transform(regexp_split_to_array(text, ''), c -> unicode(c)::HUGEINT),
                (h, b) -> (h * {FNV_PRIME} + b) % {M64})
    END AS fp_u
  FROM documents
)
SELECT doc_id,
  CASE WHEN fp_u >= 9223372036854775808::HUGEINT
       THEN (fp_u - {M64})::BIGINT ELSE fp_u::BIGINT END AS fingerprint
FROM f
"""

