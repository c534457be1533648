"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the sandbox (single-JVM local[N]) but every knob is the one you'd
set on a 1000-executor cluster: AQE on (runtime shuffle-partition coalescing
+ skew-join splitting), Arrow batching for pandas UDFs (the FCDS batch
threshold `b` of the reference maps to maxRecordsPerBatch — SURVEY.md §2.1
op#9), and shuffle partitions sized to cores.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def default_driver_memory() -> str:
    """`SPARK_DRIVER_MEMORY` if set, else half of physical RAM capped at
    16g, in whole megabytes: the driver JVM shares the box with its Python
    workers and the driver-side numpy paths."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(ram_mb // 2, 16 << 10)}m"


def get_spark(
    app_name: str = "minhash-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 4096,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # 1× cores (still parameterised by SPARK_GRAFT_CPUS / executor
        # count, never a constant): with AQE's skew-join splitting handling
        # oversized partitions and advisory-size coalescing handling small
        # ones, the static count is a fixed-task-overhead knob, not a
        # skew-safety knob. Measured on the dedup e2e at 32 cores: 1× beats
        # the old 2× on every sample (best 6.4 s vs 7.5 s) — half the tasks
        # per reduce stage, same plans, same results.
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Join strategy ladder (guide §3.1): broadcast when a side truly
        # fits, else shuffled-hash, and only then sort-merge. preferSortMerge
        # =false lets the static planner pick SHJ when stats allow, and the
        # AQE local-map threshold converts a planned sort-merge into SHJ at
        # runtime from REAL partition sizes — the scale-adaptive way to keep
        # wide payload rows (packed signatures, texts) out of sort
        # buffers at any corpus size, instead of hard-coding a per-join hint
        # that also blocks the broadcast tier when the side is small.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(256 * 1024 * 1024),
        )
        # ObjectHashAggregate (collect_list/collect_set) falls back to
        # sort-based aggregation after 128 in-memory keys BY DEFAULT. The
        # remaining collect_list consumer (exact.py's capped member lists —
        # the LSH bucket enumerator is window-based and never builds arrays)
        # has many keys with small bounded arrays; keeping it hash-based
        # avoids an external sort per partition.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
    )
    # Shuffle/spill scratch on tmpfs when available: this sandbox's /tmp sits
    # on a single virtio disk that serializes every shuffle regardless of
    # core count (the banding/candidate stage writes GBs per run). On a real
    # cluster each executor node brings its own NVMe — local.dir on tmpfs is
    # the single-box stand-in for storage that scales with the cluster.
    shm = os.environ.get("SPARK_LOCAL_DIRS") or "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        builder = builder.config(
            "spark.local.dir", os.path.join(shm, "spark-local")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship minhash_spark to executors (the `spark-submit --py-files`
    equivalent, done programmatically): zip the package and addPyFile it.
    Without this, pandas-UDF closures referencing the package fail to
    unpickle on executor Python workers that don't share the driver's cwd."""
    import minhash_spark

    pkg_dir = os.path.dirname(os.path.abspath(minhash_spark.__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "minhash_spark_pyfiles.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "minhash_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
