"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship dedup query (MinHash signature → LSH banding →
candidate join → Jaccard verification → connected components) on the sf0.001
tables. ``queries``/``oracle_sql`` expose every registered near-dup query —
each one (len(QUERIES) of them; the two dicts share the same key set)
carries a full value-level DuckDB oracle: the sketch/fingerprint/SRP
semantics are re-derived exactly in SQL
(minhash_spark/oracle_sql.py), so even the "non-SQL-expressible" operators
are hash-checked, not rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from minhash_spark.queries import QUERIES, ORACLE_SQL


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end near-duplicate clusters on sf0.001."""
    return QUERIES["dedup_clusters_exact"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE_SQL)
