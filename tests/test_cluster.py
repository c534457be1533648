"""connected_components on both of its paths (local numpy, distributed
large-star/small-star) against a pure-Python union-find: component-minimum
labels, id types kept, non-convergence raising, session conf untouched."""

import random

import pytest

from minhash_spark.operators import cluster
from minhash_spark.operators.cluster import connected_components


@pytest.fixture(params=["local", "distributed"])
def path(request, monkeypatch):
    if request.param == "distributed":
        monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", 0)
    return request.param


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _labels(df):
    return {r["url"]: r["cluster_id"] for r in df.collect()}


def _run(spark, edges, **kw):
    stats: dict = {}
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    got = connected_components(df, stats_out=stats, **kw)
    return got, stats


def test_chain(spark, path):
    edges = [(i, i + 1) for i in range(63)]
    got, stats = _run(spark, edges)
    assert _labels(got) == {i: 0 for i in range(64)}
    assert stats["path"] == path and stats["n_edges"] == 63
    # diameter 63; both paths contract the chain in O(log n) rounds
    assert stats["rounds"] <= 10


def test_mixed_components_match_union_find(spark, path):
    rng = random.Random(7)
    # 40 components of mixed shapes: cliques, chains, stars
    edges = []
    base = 0
    for c in range(40):
        size = rng.randint(2, 9)
        ids = list(range(base, base + size))
        base += size + 3  # gaps → ids not contiguous across components
        shape = c % 3
        if shape == 0:  # clique
            edges += [(a, b) for a in ids for b in ids if a < b]
        elif shape == 1:  # chain
            edges += list(zip(ids, ids[1:]))
        else:  # star
            edges += [(ids[0], x) for x in ids[1:]]
    rng.shuffle(edges)
    # orientation must not matter
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    got, stats = _run(spark, edges)
    assert _labels(got) == _union_find(edges)
    assert stats["path"] == path


def test_two_components_min_roots(spark, path):
    got, _ = _run(spark, [(5, 9), (9, 2), (100, 101)])
    assert got.schema["url"].dataType.simpleString() == "bigint"
    assert got.schema["cluster_id"].dataType.simpleString() == "bigint"
    assert _labels(got) == {5: 2, 9: 2, 2: 2, 100: 100, 101: 100}


def test_string_ids(spark, path):
    # "B" < "a" and "é" (2 UTF-8 bytes) sorts after ASCII: Spark's byte order
    edges = [("u/é", "u/a"), ("u/a", "u/B"), ("x", "y"), ("zz", "z")]
    got, _ = _run(spark, edges)
    assert got.schema["cluster_id"].dataType.simpleString() == "string"
    assert _labels(got) == _union_find(edges)
    assert _labels(got)["u/é"] == "u/B"


def test_non_convergence_raises(spark, path):
    with pytest.raises(RuntimeError, match="did not converge"):
        _run(spark, [(i, i + 1) for i in range(63)], max_iterations=1)


def test_session_conf_unchanged(spark, path):
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}
    got, _ = _run(spark, [(1, 2), (2, 3), (7, 8)])
    got.collect()
    assert {k: spark.conf.get(k) for k in keys} == before
