"""Connected components over the verified duplicate-pair graph.

One operator with two paths, chosen by one bounded collect of the edges:

- **local** (at most `_LOCAL_MAX_EDGES` edges): the edges come to the driver
  in a single Arrow job. `local.url_codes` maps the ids to integer codes
  in id order, and `local.components` (min-label hooking with pointer
  jumping, `lab = lab[lab]`) resolves the components in numpy.
- **distributed** (more edges): alternating large-star / small-star rounds
  on DataFrames (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14), O(log n) rounds, each ending in a `localCheckpoint` so
  the plan does not grow.

Both paths label every vertex with its component's minimum id, in the
input's id type, and raise when they do not converge within
`max_iterations`: a split component is never returned. Neither path writes
the session conf.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import local

# Edge cap of the local path, the same bounded collect as
# streaming/incremental.py's _KEY_PRUNE_MAX_KEYS. At the cap the driver holds
# the Arrow edge table, the 2^21 concatenated ids and a few int64 arrays of
# that length: measured peak driver-Python RSS 0.26 GB for long ids and
# 0.69 GB for ~50-byte url strings (one Python str object per id).
_LOCAL_MAX_EDGES = 1 << 20


def _local_components(e: DataFrame, tbl: pa.Table, max_iterations: int):
    """(url, cluster_id) of the collected edges tbl(u, v) of e, plus rounds,
    or None when it does not converge."""
    # sorted codes: code order is id order, so the smallest code of a
    # component is its smallest id
    ids, a, b = local.url_codes(tbl.column("u"), tbl.column("v"))
    res = local.components(a, b, len(ids), max_iterations)
    if res is None:
        return None
    lab, rounds = res
    t = e.schema["u"].dataType
    schema = StructType([StructField("url", t), StructField("cluster_id", t)])
    out = pa.table({"url": ids, "cluster_id": ids.take(lab)})
    return e.sparkSession.createDataFrame(out, schema), rounds


def _star_checksum(e: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive and overflow-free (a LONG sum would raise
    # under Spark 4's default ANSI mode once enough hashes accumulate)
    return tuple(
        e.agg(F.count("*"), F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0))).first()
    )


def _two_star(e: DataFrame, max_iterations: int):
    """(url, cluster_id) of the checkpointed edge set e(u, v), plus rounds,
    or None when it does not converge.

    - large-star: every node u links its LARGER neighbors to
      m(u) = min({u} ∪ Γ(u)).
    - small-star: orienting edges toward the larger endpoint, every node u
      links its smaller neighbors and itself to their minimum.

    Both are a groupBy min plus a join (no collect_list, so a hub never
    materializes its neighbor array). The edge set converges to stars
    (member → component minimum); it is stable when its count + XOR of pair
    hashes repeats between rounds."""
    prev_ckpt, prev = e, None
    for rounds in range(1, max_iterations + 1):
        # -- large-star ----------------------------------------------------
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(F.col("u"), F.col("_mn"))
        e = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), m.alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star ----------------------------------------------------
        o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = o.groupBy("u").agg(F.min("v").alias("_mn"))
        linked = o.join(mins, "u").select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        self_links = mins.select(F.col("u"), F.col("_mn").alias("v"))
        e = (
            linked.union(self_links)
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # this round's edges are materialized (eager checkpoint): free the
        # previous round's blocks instead of pinning O(rounds) edge copies
        prev_ckpt.unpersist()
        prev_ckpt = e
        cur = _star_checksum(e)
        if cur == prev:
            # stars: members label to their root, roots to themselves
            members = e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id"))
            roots = e.select(F.col("v").alias("url"), F.col("v").alias("cluster_id"))
            return members.union(roots.distinct()), rounds
        prev = cur
    return None


def connected_components(
    edges: DataFrame,
    src: str = "url_a",
    dst: str = "url_b",
    max_iterations: int = 50,
    stats_out: dict | None = None,
) -> DataFrame:
    """edges(src, dst) → (url, cluster_id) for every vertex of a non-loop
    edge; cluster_id is the minimum vertex id of the component, in the
    input's id type. Raises RuntimeError when the components do not converge
    within max_iterations rounds. `stats_out`, if given, receives
    {"path": "local" | "distributed", "rounds": int, "n_edges": int}, where
    n_edges counts the non-loop input edges."""
    # a self-loop carries no connectivity, and `!=` also drops null ids
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    tbl = e.limit(_LOCAL_MAX_EDGES + 1).toArrow()
    if tbl.num_rows <= _LOCAL_MAX_EDGES:
        path, n_edges = "local", tbl.num_rows
        res = _local_components(e, tbl, max_iterations)
    else:
        del tbl  # free the cap + 1 collected rows before the distributed run
        path = "distributed"
        e = e.localCheckpoint()
        n_edges = e.count()  # reads the checkpoint
        res = _two_star(e, max_iterations)
    if res is None:
        raise RuntimeError(
            f"connected_components ({path}) did not converge within "
            f"{max_iterations} rounds on {n_edges} edges; returning now "
            "would split components — raise max_iterations"
        )
    clusters, rounds = res
    if stats_out is not None:
        stats_out.update(path=path, rounds=rounds, n_edges=n_edges)
    return clusters
