"""Readers for the testdata tables the registered queries read (TESTDATA.md):
``documents`` and ``embeddings``."""

from __future__ import annotations

import os

TESTDATA_TABLES = ("documents", "embeddings")


def load_table(spark, sf_dir: str, name: str):
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
