"""Frozen, seeded input generators for the benchmark.

The benchmark owns its inputs: a later change to the engine's own fixture
generators (``minhash_spark/sources/pages.py``) or to ``bench.py`` cannot
shift a workload. Every generator is a pure function of its size arguments
and the seed; ``digest`` fingerprints what was generated so a run's output
names the exact input it measured.

Two corpora:

- ``crawl_pages``: a web-crawl mix. Zipf-sized duplicate clusters (exact,
  near, punctuation-only and containment variants), one boilerplate
  cluster of pages sharing a template with 1-3 token edits (the band-bucket
  skew fixture), and unique pages. ~1.9 KB of text per page over a
  5,000-word vocabulary.
- ``clone_docs``: short (~300 B) documents built the way the engine's
  amplified bench corpus is: each base document gets mutations that replace
  2/3 of its token positions with (base, mutation)-unique tokens, and each
  mutation is cloned 5 times with a one-token suffix edit. Clones of one
  mutation are near-duplicates (J ~ 0.97); mutations of one base share 1/3
  scattered tokens (hard negatives, J ~ 0.2-0.3).
"""

from __future__ import annotations

import hashlib
import itertools

import numpy as np
import pandas as pd

N_CLONES = 5

_CRAWL_MIX = {
    "exact": 0.08,
    "near": 0.20,
    "near_identical": 0.07,
    "contained": 0.05,
}
_PUNCT = np.array([",", ".", ";", ":", "!", "?"])

# The short-doc vocabulary: a few dozen common words, so two unrelated base
# documents already share most of their tokens.
_SHORT_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "string table value vector window".split()
)


def _crawl_vocab(n: int = 5000) -> np.ndarray:
    cons = "bcdfghjklmnpqrstvwz"
    vows = "aeiou"
    return np.array(
        [
            "".join(
                cons[(i * 7 + j * 13) % len(cons)] + vows[(i * 11 + j * 5) % len(vows)]
                for j in range(2 + i % 3)
            )
            + str(i % 10)
            for i in range(n)
        ]
    )


def crawl_pages(n_pages: int, n_boilerplate: int, seed: int) -> pd.DataFrame:
    """(url, ds, text, kind) for a synthetic crawl of ``n_pages`` pages, of
    which ``n_boilerplate`` share one template."""
    rng = np.random.default_rng([seed, 1])
    vocab = _crawl_vocab()

    def base() -> list[str]:
        return list(rng.choice(vocab, size=int(rng.integers(50, 400))))

    texts: list[tuple[list[str], str]] = []

    n_boiler = n_boilerplate
    template = base()
    while len(template) < 200:
        template += base()
    for _ in range(n_boiler):
        t = list(template)
        for _ in range(int(rng.integers(1, 4))):
            t[int(rng.integers(0, len(t)))] = str(rng.choice(vocab))
        texts.append((t, "boilerplate"))

    for kind, share in _CRAWL_MIX.items():
        remaining = int(n_pages * share)
        while remaining >= 2:
            size = min(40, 1 + int(rng.zipf(2.2)), remaining)
            b = base()
            texts.append((b, kind))
            for _ in range(size - 1):
                if kind == "exact":
                    v = list(b)
                elif kind == "near":
                    p = rng.uniform(0.01, 0.05)
                    r = rng.random(len(b))
                    v = [
                        str(rng.choice(vocab)) if x < p * 0.8 else t
                        for t, x in zip(b, r)
                        if not (p * 0.8 <= x < p)
                    ]
                elif kind == "near_identical":
                    r = rng.random(len(b))
                    v = [
                        t + str(rng.choice(_PUNCT)) if x < 0.01 else t
                        for t, x in zip(b, r)
                    ]
                else:
                    pre = list(rng.choice(vocab, size=int(rng.integers(30, 120))))
                    post = list(rng.choice(vocab, size=int(rng.integers(30, 120))))
                    v = pre + b + post
                texts.append((v, kind))
            remaining -= size

    while len(texts) < n_pages:
        texts.append((base(), "unique"))
    texts = texts[:n_pages]
    order = rng.permutation(len(texts))
    return pd.DataFrame(
        {
            "url": [f"https://site{i % 97}.example/p/{i}" for i in range(n_pages)],
            "ds": [f"2026-01-{1 + i * 4 // n_pages:02d}" for i in range(n_pages)],
            "text": [" ".join(texts[j][0]) for j in order],
            "kind": [texts[j][1] for j in order],
        }
    )


def clone_docs(n_bases: int, n_mutations: int, seed: int) -> pd.DataFrame:
    """(url, ds, text, group) with ``n_bases * n_mutations * N_CLONES`` docs.

    ``group`` identifies the 5-clone near-duplicate group; every pair inside
    a group is a true near-duplicate and no pair across groups is."""
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(8, 90, size=n_bases)
    rows = []
    for b in range(n_bases):
        toks = rng.choice(_SHORT_VOCAB, size=int(lengths[b]))
        for m in range(n_mutations):
            salt = int(rng.integers(0, 100_000))
            mutated = " ".join(
                t if (i + m) % 3 == 0 else f"{salt}x{i}"
                for i, t in enumerate(toks, start=1)
            )
            group = b * n_mutations + m
            for c in range(N_CLONES):
                rows.append((group, f"{mutated} clonevariant{c}"))
    order = rng.permutation(len(rows))
    n = len(rows)
    return pd.DataFrame(
        {
            "url": [f"doc://{i}" for i in range(n)],
            "ds": [f"2026-02-{1 + i * 4 // n:02d}" for i in range(n)],
            "text": [rows[j][1] for j in order],
            "group": np.array([rows[j][0] for j in order], dtype=np.int64),
        }
    )


def truth_pairs(keys: pd.Series, urls: pd.Series) -> set[tuple[str, str]]:
    """Every (url_a < url_b) pair of rows that share a key."""
    out: set[tuple[str, str]] = set()
    for _, grp in pd.DataFrame({"k": keys, "u": urls}).groupby("k")["u"]:
        out.update(itertools.combinations(sorted(grp), 2))
    return out


def digest(df: pd.DataFrame) -> str:
    """sha256 over the (url, text) rows, in order."""
    h = hashlib.sha256()
    for url, text in zip(df["url"], df["text"]):
        h.update(url.encode())
        h.update(b"\x00")
        h.update(text.encode())
        h.update(b"\x01")
    return h.hexdigest()[:16]
