"""Snapshot diff — change-data-capture between two table versions.

A versioned ingest (the CPC monthly drops, any slowly-refreshed
dimension) needs "what changed since the last snapshot": inserted,
deleted, and changed rows.  Without a lakehouse format's CDC feed,
the scalable composition is one full-outer join on the key comparing
a row fingerprint:

* key only in new      → ``inserted``
* key only in old      → ``deleted``
* both, fingerprint != → ``changed``
* both, fingerprint == → dropped (unchanged rows never leave the join)

One shuffle per side on the key; the fingerprint (md5 over the
compared columns) is computed map-side, so the join carries a single
short string instead of every compared column.  At 100 TB both sides
bucket by the key (Spark's ``bucketBy``) to make the join shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_fingerprint(cols: list[str]):
    """md5 over an UNAMBIGUOUS encoding of ``cols``: each value is
    tagged with a presence marker AND its length, so the encoding is
    injective regardless of content — a NULL never collides with the
    string 'NULL', and a value containing the separator cannot mimic
    a column boundary (a bare separator-join would)."""
    tagged = [
        F.when(F.col(c).isNull(), F.lit("0:")).otherwise(
            F.concat(
                F.lit("1:"),
                F.length(F.col(c).cast("string")).cast("string"),
                F.lit(":"),
                F.col(c).cast("string"),
            )
        )
        for c in cols
    ]
    return F.md5(F.concat_ws("|", *tagged))


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str]
) -> DataFrame:
    """(key, change_type) for every inserted / deleted / changed key.

    ``compare_cols`` defines row identity for the ``changed`` test;
    columns outside it are ignored.  Keys must be unique per snapshot
    (dedupe upstream — ``lookups.last_write_wins``).
    """
    o = old.select(
        F.col(key), row_fingerprint(compare_cols).alias("__old_fp")
    )
    n = new.select(
        F.col(key), row_fingerprint(compare_cols).alias("__new_fp")
    )
    return (
        o.join(n, key, "full_outer")
        .withColumn(
            "change_type",
            F.when(F.col("__old_fp").isNull(), F.lit("inserted"))
            .when(F.col("__new_fp").isNull(), F.lit("deleted"))
            .when(F.col("__old_fp") != F.col("__new_fp"), F.lit("changed")),
        )
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type")
    )
