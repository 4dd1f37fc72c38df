"""Dimension-lookup join operators (SURVEY.md §2.3, J1-J5).

The reference expresses every join as a Python dict/set probe against
an in-RAM lookup (reference validator.py:51-53, 189-207).  At 100 TB
the probe side is huge; when the lookup side is dimension-sized
(~260k CPC symbols) the physical plan should be a broadcast join —
the plan the reference's in-RAM dicts were hand-approximating.

None of the operators here FORCE a broadcast, though: callers pass
arbitrary frames as ``lookup`` (q04/q05 probe against keys derived
from *orders*, which grows with the corpus), and a forced
``F.broadcast()`` on a corpus-growing side is an executor OOM at the
100 TB design point.  AQE broadcasts the lookup automatically when
its runtime-measured size is under the threshold, which covers every
genuinely dimension-sized case with no hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def semi_join(big: DataFrame, lookup: DataFrame, key: str) -> DataFrame:
    """J1 — membership keep: rows of ``big`` whose key is in ``lookup``
    (reference validator.py:189; `symbol in self.valid_symbols`)."""
    return big.join(lookup.select(key).distinct(), key, "left_semi")


def anti_join(big: DataFrame, lookup: DataFrame, key: str) -> DataFrame:
    """J2 — the 'invalid symbols' collection loop (reference main.py:77-87)."""
    return big.join(lookup.select(key).distinct(), key, "left_anti")


def membership_flag(
    big: DataFrame, lookup: DataFrame, key: str, flag_col: str
) -> DataFrame:
    """J1 as a boolean column instead of a filter."""
    marked = lookup.select(key).distinct().withColumn("__present", F.lit(True))
    return (
        big.join(marked, key, "left")
        .withColumn(flag_col, F.coalesce(F.col("__present"), F.lit(False)))
        .drop("__present")
    )


def lookup_with_default(
    big: DataFrame,
    lookup: DataFrame,
    key: str,
    value_col: str,
    default,
    out_col: str | None = None,
) -> DataFrame:
    """J3 — ``dict.get(key, default)`` (reference validator.py:195).

    PRESENCE wins, exactly like ``dict.get``: a key present in the
    lookup with a stored NULL returns that NULL, not the default
    (coalesce would silently substitute the default for it).
    """
    out_col = out_col or value_col
    side = lookup.select(
        key, F.col(value_col).alias("__lv")
    ).withColumn("__present", F.lit(True))
    return (
        big.join(side, key, "left")
        .withColumn(
            out_col,
            F.when(F.col("__present").isNotNull(), F.col("__lv")).otherwise(
                F.lit(default)
            ),
        )
        .drop("__lv", "__present")
    )


def last_write_wins(
    df: DataFrame, key: str, priority_col: str, tiebreak: str | None = None
) -> DataFrame:
    """A7/J5 — grouped dedup-by-key, keeping the highest-priority row
    (the reference's dict-insert overwrite, validator.py:93-98, 126-131).

    Shuffles once on ``key``; at scale this is the standard
    row_number-over-window dedup (AQE handles skewed keys).
    """
    order = [F.col(priority_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
