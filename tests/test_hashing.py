"""Cross-engine portability tests for the md5-derived hash family."""

from __future__ import annotations

import hashlib

import duckdb
from pyspark.sql import functions as F

from etl_cpc_schema_spark.functions import hashing as H


def _py_hash(s: str, seed) -> int:
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


def test_portable_hash_matches_python_and_duckdb(spark):
    df = spark.createDataFrame([("abc",), ("spark engine",)], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", H.portable_hash64(F.col("s"), seed=7).alias("h")).collect()
    }
    for s, h in got.items():
        assert h == _py_hash(s, 7)
        duck = duckdb.sql(
            "SELECT " + H.portable_hash64_sql(f"'{s}'", 7)
        ).fetchone()[0]
        assert h == duck

