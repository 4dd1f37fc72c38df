"""Skew mitigation: salted joins and two-stage aggregation.

AQE's skew-join handling covers sort-merge joins at runtime; salting
is the explicit tool for the cases AQE can't fix (broadcast-ineligible
hot keys, skewed aggregations).  Salts are DETERMINISTIC (hash of a
stable column, not rand()) so results are reproducible and retried
tasks stay consistent.

* ``salted_join``: replicate the small side ``factor``× (one copy per
  salt), split the big side's hot keys across ``factor`` partitions by
  hashing a distinguishing column.  Join output is identical to the
  unsalted join; the shuffle spreads each hot key over ``factor``
  reducers.
* ``two_stage_agg``: per-(key, salt) partial aggregate, then final
  merge per key — the map-side-combine idea made explicit for
  heavily-skewed group-bys whose partials still overload one reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _salt(col: Column, factor: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(factor))


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's keys salted ``factor`` ways.

    ``salt_from`` is any big-side column with per-row variety (an id);
    its hash picks the salt deterministically.  The small side is
    exploded once per salt value, so every (key, salt) bucket finds
    its match.  Result equals ``big.join(small, key, how)`` for the
    big-side-preserving join types ONLY — right/full outer would emit
    every unmatched small-side row once per salt replica, so those are
    rejected.
    """
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "semi",
        "left_anti", "leftanti", "anti", "cross",
    }
    if how not in allowed - {"cross"}:
        raise ValueError(
            f"salted_join supports big-side-preserving joins {sorted(allowed - {'cross'})}; "
            f"got {how!r} (right/full outer would duplicate unmatched "
            "small-side rows once per salt)"
        )
    big_s = big.withColumn("__salt", _salt(F.col(salt_from), factor))
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    return big_s.join(small_s, [key, "__salt"], how).drop("__salt")


def two_stage_agg(
    df: DataFrame,
    key: str,
    agg_col: str,
    salt_from: str,
    agg: str = "sum",
) -> DataFrame:
    """Skew-proof ``groupBy(key).sum/count(agg_col)`` in two shuffles of
    bounded fan-in: (key, salt) partials over 8 salts → key finals."""
    salted = df.withColumn("__salt", _salt(F.col(salt_from), 8))
    if agg == "count":
        partial = salted.groupBy(key, "__salt").agg(F.count("*").alias("__p"))
    else:
        partial = salted.groupBy(key, "__salt").agg(F.sum(agg_col).alias("__p"))
    final_fn = F.sum
    return partial.groupBy(key).agg(final_fn("__p").alias(f"{agg}_{agg_col}"))


def grouped_bottomk(
    df: DataFrame,
    key: str,
    order_col: str,
    k: int,
) -> DataFrame:
    """Exact k smallest ``order_col`` values per ``key`` without a
    single-reducer-per-key sort: stage 1 ranks inside (key, salt)
    sub-partitions (salt = hash of the order column, so duplicates of
    a hot key spread over 16 reducers) and keeps each
    sub-partition's k smallest — a superset of the answer; stage 2
    ranks the surviving ≤ 16·k rows per key.  The second window's
    partitions are bounded by 16·k regardless of group size, which
    is what makes a per-SOURCE sketch build safe when one source
    dominates the corpus.  Emits (key, order_col, rn) with rn 1..k
    ascending; ties broken by value equality only (callers pass
    distinct values).
    """
    w1 = Window.partitionBy(key, "__salt").orderBy(order_col)
    w2 = Window.partitionBy(key).orderBy(order_col)
    return (
        df.withColumn("__salt", _salt(F.col(order_col), 16))
        .withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("__salt", "__rn1")
    )
