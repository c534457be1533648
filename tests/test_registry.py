"""Registry contract of minhash_spark/queries.py: every registered query has
a DuckDB oracle (the promise ``__spark_entry__`` makes), and no module-level
``q_*`` query body sits outside the registry. Pure imports — no Spark session,
no DuckDB."""

import inspect

from minhash_spark import queries
from minhash_spark.queries import ORACLE_SQL, QUERIES


def test_queries_and_oracles_share_keys():
    assert set(QUERIES) == set(ORACLE_SQL)


def test_every_query_function_is_registered():
    registered = {id(fn) for fn in QUERIES.values()}
    orphans = [
        name
        for name, fn in inspect.getmembers(queries, inspect.isfunction)
        if name.startswith("q_")
        and fn.__module__ == queries.__name__
        and id(fn) not in registered
    ]
    assert orphans == []
