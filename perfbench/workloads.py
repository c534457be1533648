"""The benchmark's workloads: closed loops with one client over the engine's
public entry points (``DedupPipeline.run``; ``incremental_dedup_batch``,
``maybe_compact_store`` and ``probe_store``), on ``local[nproc]`` with the
engine's default session conf.

A workload has ``setup`` (inputs, untimed), ``bind`` (to a Spark session),
``start_phase`` and ``warm_up`` (untimed), ``iterate`` (one closed-loop step
of timed operations) and ``check`` (output checks, after the session has
stopped). ``run.py`` drives them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from minhash_spark.config import DedupConfig
from minhash_spark.pipeline import DedupPipeline
from minhash_spark.streaming.incremental import (
    incremental_dedup_batch,
    maybe_compact_store,
    probe_store,
)

from perfbench import corpora, oracle

PROBE_DOCS = 200
KERNEL_SAMPLE_MB = 0.5

Pair = tuple[str, str]


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def canonical(rows) -> set[Pair]:
    return {(min(r.url_a, r.url_b), max(r.url_a, r.url_b)) for r in rows}


class Ops:
    """Timed operation log of one phase: samples by kind and every
    failure."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.attempted = 0

    def run(self, kind: str, fn, *args):
        """Time one operation under a span named ``kind``. Returns its
        result, or None when it raised (the failure is counted)."""
        self.attempted += 1
        try:
            with self.tracer.span(kind) as sp:
                out = fn(*args)
        except Exception:  # a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{kind} raised")
            return None
        self.samples.setdefault(kind, []).append(sp["end"] - sp["start"])
        return out


class Checks:
    """Check outcomes; each failed check counts once in ``failed``."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def __call__(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)


# ---------------------------------------------------------------------------


class CrawlWorkload:
    """One iteration = one ``DedupPipeline.run`` of the whole crawl into a
    fresh output directory, then ``probes_per_run`` lookups of 200 urls'
    near-duplicates in the run's pairs output (half of them urls with
    duplicates, half unique pages). The warm-up iteration runs the same code
    on the first 10% of the pages, which starts the Python workers and
    compiles the same plans for less than a full run costs.

    A lookup reads the parquet output directly, as a downstream consumer
    of the pipeline's tables does: as a Spark job it was nearly all job
    overhead and twice as noisy as the run itself."""

    name = "crawl_dedup"
    probes_per_run = 10
    nominal_s = 8.0  # one iteration on a 4-core box

    def __init__(self, docs: pd.DataFrame, work: str, cfg: DedupConfig):
        self.docs = docs
        self.work = work
        self.cfg = cfg
        self.n_docs = len(docs)
        self.outputs: list[dict] = []

    def setup(self, rng: np.random.Generator) -> None:
        cols = ["url", "ds", "text"]
        self.input = os.path.join(self.work, "input", "pages.parquet")
        self.warm_input = os.path.join(self.work, "input", "warm.parquet")
        os.makedirs(os.path.dirname(self.input), exist_ok=True)
        write_parquet(self.docs[cols], self.input)
        write_parquet(self.docs[cols].iloc[: self.n_docs // 10], self.warm_input)
        dup = self.docs.kind.isin(["exact", "near_identical", "boilerplate"])
        hits = self.docs.url[dup].to_numpy()
        misses = self.docs.url[self.docs.kind == "unique"].to_numpy()
        half = PROBE_DOCS // 2
        self.probe_sets = [
            list(rng.choice(hits, size=half, replace=False))
            + list(rng.choice(misses, size=half, replace=False))
            for _ in range(self.probes_per_run)
        ]

    def bind(self, spark) -> None:
        self.spark = spark

    def start_phase(self, run_id: str) -> None:
        self.outputs = []

    def warm_up(self, ops: Ops) -> None:
        self._run(ops, self.warm_input, "warm", keep=False)

    def iterate(self, ops: Ops, tag: str) -> bool:
        self._run(ops, self.input, tag, keep=True)
        return True

    @staticmethod
    def _lookup(pairs_path: str, urls: list[str]) -> set[Pair]:
        pairs = pq.read_table(pairs_path, columns=["url_a", "url_b"])
        wanted = pa.array(urls)
        hit = pairs.filter(
            pc.or_(pc.is_in(pairs["url_a"], value_set=wanted), pc.is_in(pairs["url_b"], value_set=wanted))
        )
        return {
            (min(a, b), max(a, b))
            for a, b in zip(hit["url_a"].to_pylist(), hit["url_b"].to_pylist())
        }

    def _run(self, ops: Ops, pages: str, tag: str, keep: bool) -> None:
        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        pipe = DedupPipeline(self.spark, self.cfg, out)
        if ops.tracer.sc is not None:
            # run() calls these through self, so instance attributes take
            # effect; compute_pairs is left unwrapped, which makes
            # candidates and verify direct children of the run span
            for method, name in (
                ("compute_signatures", "signatures"),
                ("compute_candidates", "candidates"),
                ("compute_verified", "verify"),
                ("compute_clusters", "cc"),
            ):
                ops.tracer.wrap(pipe, method, name)
        res = ops.run("ingest", pipe.run, self.spark.read.parquet(pages))
        rec = {"out": out, "probes": [], "ok": res is not None}
        if res is not None:
            for urls in self.probe_sets:
                rec["probes"].append((urls, ops.run("probe", self._lookup, res.pairs_path, urls)))
        if keep:
            self.outputs.append(rec)
        else:
            shutil.rmtree(out, ignore_errors=True)

    def check(self, check: Checks) -> dict:
        """Checks every kept iteration's output; returns facts for the
        metrics."""
        facts: dict = {"per_run": []}
        done = [r for r in self.outputs if r["ok"]]
        if not done:
            return facts
        ref = oracle.read_signatures(os.path.join(done[0]["out"], "signatures"), self.cfg)
        check("signature urls equal the corpus", set(ref) == set(self.docs.url))
        facts.update(kernel_sample_check(check, self.docs, ref, self.cfg))
        model = oracle.band_model_pairs(ref, self.cfg)
        truth = oracle.exhaustive_pairs(ref, self.cfg.jaccard_threshold)
        first = oracle.read_pairs(os.path.join(done[0]["out"], "pairs"))
        facts.update(recall_precision(check, first, truth, ref, self.cfg))
        partnered = {u for p in model for u in p}
        probe_urls = [u for urls in self.probe_sets for u in urls]
        facts["probe_hit_ratio"] = sum(u in partnered for u in probe_urls) / len(probe_urls)

        for rec in done:
            out = rec["out"]
            sigs = oracle.read_signatures(os.path.join(out, "signatures"), self.cfg)
            check(
                "signatures equal across runs",
                sigs.keys() == ref.keys() and all(np.array_equal(sigs[u], ref[u]) for u in sigs),
            )
            found = oracle.read_pairs(os.path.join(out, "pairs"))
            check("pairs equal the band-model pairs", found == model)
            cl = pq.read_table(os.path.join(out, "clusters")).to_pandas()
            got = {frozenset(g) for _, g in cl.groupby("cluster_id")["url"]}
            check("clusters equal a local union-find over the pairs", got == oracle.components(found))
            for urls, rows in rec["probes"]:
                if rows is not None:
                    urls = set(urls)
                    want = {p for p in model if p[0] in urls or p[1] in urls}
                    check("a probe finds exactly the urls' pairs", rows == want)
            facts["per_run"].append(self._run_facts(out))
        return facts

    def _run_facts(self, out: str) -> dict:
        def last(stage):
            with open(os.path.join(out, "metrics", f"{stage}.jsonl")) as f:
                return json.loads(f.read().splitlines()[-1])

        cand, pairs = last("candidates"), last("pairs")
        facts = {
            "n_candidate_pairs": cand["n_candidate_pairs"],
            "max_bucket": cand["max_bucket"],
            "n_capped_buckets": cand["n_capped_buckets"],
            "useful_ratio": pairs["n_verified_pairs"] / max(1, cand["n_candidate_pairs"]),
        }
        for stage in ("signatures", "candidates", "pairs", "clusters"):
            facts[f"{stage}_mb"] = dir_stats(os.path.join(out, stage))[1] / (1 << 20)
        facts["files"], facts["bytes"] = dir_stats(out)
        return facts


# ---------------------------------------------------------------------------


class StoreWorkload:
    """One iteration = ingest one ``batch_docs`` batch with
    ``incremental_dedup_batch``, run ``maybe_compact_store`` and then
    ``probe_store`` 200 docs: half are stored docs under new urls (hits),
    half come from clone groups that are never ingested (misses).

    The warm-up iteration is the store's first batch and first probe, so
    every timed iteration has the same shape: ingest against a compacted
    store, compact (``max_batches=1``: the new batch directory is merged
    into the compacted one), probe. Eight store buckets suit a store of a
    few thousand docs; the engine's default of 64 writes 8x the files and
    doubles the cost of every operation at this size."""

    name = "store_ingest"
    max_batches = 1
    n_store_buckets = 8
    nominal_s = 7.5  # one iteration on a 4-core box

    def __init__(self, docs: pd.DataFrame, work: str, cfg: DedupConfig, batch_docs: int):
        self.docs = docs
        self.work = work
        self.cfg = cfg
        self.batch_docs = batch_docs

    def setup(self, rng: np.random.Generator) -> None:
        groups = self.docs.group.unique()
        held = rng.choice(groups, size=max(1, len(groups) // 10), replace=False)
        is_held = self.docs.group.isin(held)
        self.pool = self.docs[~is_held].reset_index(drop=True)
        self.misses = self.docs[is_held].reset_index(drop=True)
        self.rng = rng
        self.inputs = os.path.join(self.work, "input")
        os.makedirs(self.inputs, exist_ok=True)
        self.n_batches = len(self.pool) // self.batch_docs
        for k in range(self.n_batches):
            part = self.pool.iloc[k * self.batch_docs : (k + 1) * self.batch_docs]
            write_parquet(part[["url", "text"]], os.path.join(self.inputs, f"batch_{k}.parquet"))

    def bind(self, spark) -> None:
        self.spark = spark

    def start_phase(self, run_id: str) -> None:
        self.store = os.path.join(self.work, f"store-{run_id}")
        shutil.rmtree(self.store, ignore_errors=True)
        self.step = 0
        self.pairs: set[Pair] | None = set()
        self.probes: list = []

    def warm_up(self, ops: Ops) -> None:
        self.iterate(ops, "warm")

    @property
    def ingested(self) -> int:
        return self.step * self.batch_docs

    def _probe_frame(self) -> pd.DataFrame:
        half = PROBE_DOCS // 2
        hits = self.pool.iloc[self.rng.choice(self.ingested, size=half, replace=False)]
        misses = self.misses.iloc[self.rng.choice(len(self.misses), size=half, replace=False)]
        return pd.DataFrame(
            {
                "url": [f"probe://hit/{u}" for u in hits.url]
                + [f"probe://miss/{u}" for u in misses.url],
                "text": list(hits.text) + list(misses.text),
                "original": list(hits.url) + [None] * len(misses),
            }
        )

    def iterate(self, ops: Ops, tag: str) -> bool:
        """One ingest, compaction policy call and probe; False when the
        corpus is used up."""
        if self.step >= self.n_batches:
            return False
        k = self.step
        self.step += 1
        batch = self.spark.read.parquet(os.path.join(self.inputs, f"batch_{k}.parquet"))

        def ingest():
            return incremental_dedup_batch(
                self.spark, batch, self.store, self.cfg, epoch_id=k, n_store_buckets=self.n_store_buckets
            ).collect()

        rows = ops.run("ingest", ingest)
        if rows is None:
            self.pairs = None  # the union can no longer be checked
        elif self.pairs is not None:
            self.pairs |= canonical(rows)
        ops.run("compact", maybe_compact_store, self.spark, self.store, self.max_batches)
        pf = self._probe_frame()
        probe_df = self.spark.createDataFrame(pf[["url", "text"]])
        got = ops.run("probe", lambda: probe_store(self.spark, probe_df, self.store, self.cfg).collect())
        self.probes.append((pf, None if got is None else [(r.url_a, r.url_b) for r in got]))
        return True

    def check(self, check: Checks) -> dict:
        facts: dict = {}
        sigs = oracle.read_signatures(os.path.join(self.store, "signatures"), self.cfg)
        stored = self.pool.iloc[: self.ingested]
        check(
            "the store holds every ingested doc once",
            set(sigs) == set(stored.url) and len(sigs) == len(stored),
        )
        facts.update(kernel_sample_check(check, stored, sigs, self.cfg))
        if self.pairs is not None:
            check(
                "the union of per-batch pairs equals the batch pairs",
                self.pairs == oracle.band_model_pairs(sigs, self.cfg),
            )
            truth = corpora.truth_pairs(stored.group, stored.url)
            facts.update(recall_precision(check, self.pairs, truth, sigs, self.cfg))
        frames = pd.concat([pf for pf, _ in self.probes], ignore_index=True)
        psigs, _, _ = oracle.kernel_signatures(list(frames.text), self.cfg)
        all_sigs = {**sigs, **dict(zip(frames.url, psigs))}
        hits = 0
        for pf, got in self.probes:
            if got is None:
                continue
            found: dict[str, set] = {}
            for a, b in got:
                found.setdefault(a, set()).add(b)
            hits += len(found)
            check(
                "every hit probe finds its stored original",
                all(o in found.get(u, ()) for u, o in zip(pf.url, pf.original) if o is not None),
            )
            check(
                "every probe pair verifies against the oracle",
                bool((oracle.estimates(all_sigs, got) >= self.cfg.jaccard_threshold).all()),
            )
        facts["probe_hit_ratio"] = hits / len(frames)
        facts["files"], facts["bytes"] = dir_stats(self.store)
        facts["batch_dirs"] = sum(
            d.startswith("batch_id=")
            for side in ("signatures", "bands")
            for d in os.listdir(os.path.join(self.store, side))
        )
        return facts


# ---------------------------------------------------------------------------


def kernel_sample_check(check: Checks, docs: pd.DataFrame, sigs, cfg) -> dict:
    """Signatures of ~``KERNEL_SAMPLE_MB`` of the docs' text recomputed with
    ``functions.kernels`` must equal the engine's cell for cell. The same
    call times the kernels (single thread, in process)."""
    order = np.random.default_rng(len(docs)).permutation(len(docs))
    sizes = docs.text.str.len().to_numpy()[order]
    n = min(len(docs), int(np.searchsorted(np.cumsum(sizes), KERNEL_SAMPLE_MB * (1 << 20))) + 1)
    pick = docs.iloc[order[:n]]
    texts = list(pick.text)
    mb = sum(len(t.encode()) for t in texts) / (1 << 20)
    ref, shingle_s, minhash_s = oracle.kernel_signatures(texts, cfg)
    check(
        "sampled signatures equal functions.kernels",
        all(u in sigs and np.array_equal(ref[i], sigs[u]) for i, u in enumerate(pick.url)),
    )
    return {"shingle_s_per_mb": shingle_s / mb, "minhash_s_per_mb": minhash_s / mb, "kernel_sample_docs": n}


def recall_precision(check: Checks, found: set, truth: set, sigs, cfg) -> dict:
    recall = len(found & truth) / len(truth) if truth else 1.0
    est = oracle.estimates(sigs, found)
    precision = float((est >= cfg.jaccard_threshold).mean()) if len(est) else 1.0
    check("dup-pair recall >= 0.99", recall >= 0.99)
    check("pair precision == 1.0", precision == 1.0)
    return {"recall": recall, "precision": precision, "found_pairs": len(found), "truth_pairs": len(truth)}
