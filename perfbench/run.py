"""Benchmark of the near-duplicate engine. Run from the repository root:

    python3 perfbench/run.py --workload crawl_dedup --seed 1 --seconds 21 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``crawl_dedup``: ``DedupPipeline.run`` over a seeded synthetic crawl, then
  200-url lookups in its pairs output.
- ``store_ingest``: a seeded short-doc clone corpus replayed into a fresh
  incremental store: ingest a batch, run the compaction policy, probe 200
  docs; repeated.

One run builds its inputs from ``--seed``, starts a Spark session on
``local[nproc]`` with the engine's defaults, runs one untimed warm-up
iteration, then a closed loop (one client) of as many iterations as fill
``--seconds`` at the workload's nominal iteration time. Afterwards it checks
every output against the numpy oracle. With ``--trace 0`` it reports the end-to-end metrics named in
BENCHMARK.json. With ``--trace 1`` it spends half the time untraced and half
with the Spark event log on and a job group per layer call, and reports the
per-layer metrics. The last stdout line is the result object; the line
before it holds the details (sample counts, tails, input digests, checks).

Everything the run writes goes under ``.perfbench_work/`` in the repository
root, and the per-run directory is removed at exit; traced runs leave their
spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload sizes; the run time per iteration sets how many samples a run gets
CRAWL_PAGES, CRAWL_BOILERPLATE = 1000, 250
STORE_BASES, STORE_MUTATIONS, STORE_BATCH_DOCS = 150, 8, 500


def _env(work: str) -> None:
    """Keep every file Spark, py4j and Python workers write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def _conf(work: str, traced: bool) -> dict:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def tail(samples: list[float]) -> dict | None:
    """The highest of p99/p90/p75 with at least ten samples beyond it."""
    for q in (99, 90, 75):
        if len(samples) * (100 - q) / 100 >= 10:
            return {"q": q, "value": float(np.percentile(samples, q))}
    return None


def _make_workload(name: str, seed: int, work: str, cfg):
    from perfbench import corpora, workloads

    if name == "crawl_dedup":
        docs = corpora.crawl_pages(CRAWL_PAGES, CRAWL_BOILERPLATE, seed)
        return workloads.CrawlWorkload(docs, work, cfg)
    docs = corpora.clone_docs(STORE_BASES, STORE_MUTATIONS, seed)
    return workloads.StoreWorkload(docs, work, cfg, STORE_BATCH_DOCS)


def iterations(wl, seconds: float) -> int:
    """Iterations that fill ``seconds`` at the workload's nominal iteration
    time. The count depends only on ``seconds``, so every run does the same
    work: a loop that stops on the clock runs one iteration more or fewer
    depending on machine noise, and with warm-up still trending that moves
    the median by more than the noise itself."""
    return max(1, round(seconds / wl.nominal_s))


def _phase(wl, work: str, seconds: float, traced: bool, run_id: str) -> dict:
    """Session start, warm-up, closed loop for ``seconds``, session stop."""
    from minhash_spark.session import get_spark
    from perfbench.trace import Tracer, jvm_peak_rss_mb
    from perfbench.workloads import Ops

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=_conf(work, traced))
    session_s = time.perf_counter() - t0
    wl.bind(spark)
    wl.start_phase(run_id)
    warm = Ops(Tracer(run_id))
    t1 = time.perf_counter()
    wl.warm_up(warm)
    warm_s = time.perf_counter() - t1
    tracer = Tracer(run_id, spark.sparkContext if traced else None)
    ops = Ops(tracer)
    t2 = time.perf_counter()
    for i in range(iterations(wl, seconds)):
        if not wl.iterate(ops, f"{run_id}-{i}"):
            break
    measured_s = time.perf_counter() - t2
    peak_rss_mb = jvm_peak_rss_mb(spark)
    spark.stop()
    ops.attempted += warm.attempted
    ops.failures += warm.failures
    return {
        "session_s": session_s,
        "warm_s": warm_s,
        "measured_s": measured_s,
        "ops": ops,
        "tracer": tracer,
        "peak_rss_mb": peak_rss_mb,
    }


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def end_to_end(wl, phase: dict, facts: dict) -> dict:
    ops = phase["ops"]
    ingest = ops.samples.get("ingest", [])
    if wl.name == "store_ingest":
        busy = sum(ingest) + sum(ops.samples.get("compact", []))
        docs_per_s = len(ingest) * wl.batch_docs / busy if busy else 0.0
        bytes_per_doc = facts.get("bytes", 0) / max(1, wl.ingested)
    else:
        docs_per_s = wl.n_docs / _median(ingest) if ingest else 0.0
        bytes_per_doc = _median([r["bytes"] for r in facts.get("per_run", [])]) / wl.n_docs
    return {
        "setup_s": phase["session_s"] + phase["warm_s"],
        "docs_per_s": docs_per_s,
        "ingest_p50_s": _median(ingest),
        "probe_p50_s": _median(ops.samples.get("probe", [])),
        "dup_pair_recall": facts.get("recall", 0.0),
        "pair_precision": facts.get("precision", 0.0),
        "store_bytes_per_doc": bytes_per_doc,
    }


def per_layer(wl, plain: dict, traced: dict, facts: dict, totals: dict) -> dict:
    from perfbench.trace import subtree_totals

    tr = traced["tracer"]
    selfs = tr.self_times()

    def spans(name):
        return [s for s in tr.spans if s["name"] == name]

    def med(name, key):
        return _median([subtree_totals(tr, totals, s["id"]).get(key, 0.0) for s in spans(name)])

    def wall(name):
        return _median(tr.durations(name))

    per_run = facts.get("per_run", [])

    def run_fact(key):
        return _median([r[key] for r in per_run])

    text_mb = sum(len(t.encode()) for t in wl.docs.text) / (1 << 20)
    kernel_s_per_mb = facts.get("shingle_s_per_mb", 0.0) + facts.get("minhash_s_per_mb", 0.0)
    sig_py = med("signatures", "python_worker_s")
    m = {
        "session.start_s": plain["session_s"],
        "kernels.shingle_s_per_mb": facts.get("shingle_s_per_mb", 0.0),
        "kernels.minhash_s_per_mb": facts.get("minhash_s_per_mb", 0.0),
        "signatures.wall_s": wall("signatures"),
        "signatures.task_s": med("signatures", "task_s"),
        "signatures.python_worker_s": sig_py,
        "signatures.arrow_overhead_s": sig_py - kernel_s_per_mb * text_mb if spans("signatures") else 0.0,
        "candidates.wall_s": wall("candidates"),
        "candidates.task_s": med("candidates", "task_s"),
        "candidates.shuffle_write_mb": med("candidates", "shuffle_write_mb"),
        "candidates.spill_mb": med("candidates", "spill_mb"),
        "candidates.n_candidate_pairs": run_fact("n_candidate_pairs"),
        "candidates.max_bucket": run_fact("max_bucket"),
        "candidates.n_capped_buckets": run_fact("n_capped_buckets"),
        "verify.wall_s": wall("verify"),
        "verify.task_s": med("verify", "task_s"),
        "verify.python_worker_s": med("verify", "python_worker_s"),
        "verify.shuffle_write_mb": med("verify", "shuffle_write_mb"),
        "verify.useful_ratio": run_fact("useful_ratio"),
        "cc.wall_s": wall("cc"),
        "cc.task_s": med("cc", "task_s"),
        "cc.jobs": med("cc", "jobs"),
        "cc.shuffle_write_mb": med("cc", "shuffle_write_mb"),
        "pipeline.signatures_mb": run_fact("signatures_mb"),
        "pipeline.candidates_mb": run_fact("candidates_mb"),
        "pipeline.pairs_mb": run_fact("pairs_mb"),
        "pipeline.clusters_mb": run_fact("clusters_mb"),
        "pipeline.gap_s": _median([selfs[s["id"]] for s in spans("ingest")]) if per_run else 0.0,
        "ingest.wall_s": wall("ingest"),
        "ingest.jobs": med("ingest", "jobs"),
        "ingest.task_s": med("ingest", "task_s"),
        "ingest.read_mb": med("ingest", "read_mb"),
        "probe.wall_s": wall("probe"),
        "probe.jobs": med("probe", "jobs"),
        "probe.read_mb": med("probe", "read_mb"),
        "probe.hit_ratio": facts.get("probe_hit_ratio", 0.0),
        "compact.wall_s": wall("compact"),
        "compact.rewritten_mb": med("compact", "written_mb"),
        "store.files": run_fact("files") if per_run else facts.get("files", 0),
        "store.batch_dirs": facts.get("batch_dirs", 0),
        "store.mb": (run_fact("bytes") if per_run else facts.get("bytes", 0)) / (1 << 20),
        "jvm.gc_s": med("ingest", "gc_s"),
        "jvm.peak_rss_mb": traced["peak_rss_mb"],
        "trace.overhead_ratio": (
            _median(traced["ops"].samples.get("ingest", []))
            / max(1e-9, _median(plain["ops"].samples.get("ingest", [])))
        ),
    }
    return m


def bench(args, work: str) -> tuple[dict, dict]:
    from minhash_spark.config import DedupConfig
    from perfbench import corpora
    from perfbench.trace import job_group_totals
    from perfbench.workloads import Checks

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cfg = DedupConfig()
    wl = _make_workload(args.workload, args.seed, work, cfg)
    wl.setup(np.random.default_rng([args.seed, 0]))
    run_id = f"{args.workload}-{args.seed}"
    if args.trace:
        plain = _phase(wl, work, args.seconds / 2, False, run_id + "-plain")
        traced = _phase(wl, work, args.seconds / 2, True, run_id + "-traced")
        last = traced
    else:
        plain = last = _phase(wl, work, args.seconds, False, run_id)

    t_check = time.perf_counter()
    checks = Checks()
    facts = wl.check(checks)
    check_s = time.perf_counter() - t_check
    ops = last["ops"]
    attempted = ops.attempted + checks.attempted
    failed = len(ops.failures) + len(checks.failed)

    if args.trace:
        totals = job_group_totals(os.path.join(work, "events"))
        values = per_layer(wl, plain, traced, facts, totals)
        names = spec["per_layer"]
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        traced["tracer"].write(os.path.join(traces, f"{run_id}.spans.jsonl"))
        with open(os.path.join(traces, f"{run_id}.groups.json"), "w") as f:
            json.dump(totals, f)
    else:
        values = end_to_end(wl, plain, facts)
        names = spec["end_to_end"]
    mismatch = {m["name"] for m in names} ^ set(values)
    if mismatch:
        raise RuntimeError(f"metric set differs from BENCHMARK.json: {sorted(mismatch)}")

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input_docs": len(wl.docs),
        "input_digest": corpora.digest(wl.docs),
        "samples": {k: len(v) for k, v in ops.samples.items()},
        "values": ops.samples,
        "medians": {k: _median(v) for k, v in ops.samples.items()},
        "tails": {k: tail(v) for k, v in ops.samples.items()},
        "timing_s": {
            "session": last["session_s"],
            "warm_up": last["warm_s"],
            "measured": last["measured_s"],
            "checks": check_s,
        },
        "failed_ratio": failed / attempted,
        "failures": ops.failures + checks.failed,
        "facts": {k: v for k, v in facts.items() if k != "per_run"},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }
    return detail, result


def _stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it; its Python workers exit
    with it. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["crawl_dedup", "store_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "minhash_spark", "pipeline.py")):
        print(f"perfbench: no engine at {ROOT}/minhash_spark; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    sys.path.insert(0, ROOT)
    os.chdir(work)
    try:
        detail, result = bench(args, work)
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
