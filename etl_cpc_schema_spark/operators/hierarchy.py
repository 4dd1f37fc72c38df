"""Hierarchy (parent-pointer tree) operators.

The reference keeps the CPC scheme as a symbol→parent dict and only
ever asks one question of it: "who is my parent?"
(reference validator.py:53, 202-207).  The engine generalizes the
abstraction (SURVEY.md §1.1): the tree is an edge DataFrame, parent
lookup is a broadcast join (plans.cpc_pipeline), and ancestor paths
come from iterative broadcast self-joins — depth-bounded, so the plan
is a fixed pipeline of at most 15 joins rather than unbounded
recursion.  CPC's hierarchy is ≤ ~15 levels; at 100 TB the edge table
is still dimension-sized, so every hop broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutils import checkpoint_with_probe, iter_checkpoint


def ancestor_paths(edges: DataFrame) -> DataFrame:
    """(symbol, ancestor, depth) for every ancestor within depth 16.

    depth 1 = parent, 2 = grandparent, …  Stops early when a level
    produces no rows.

    Each level is checkpointed (``iterutils`` — reliable tier on a
    cluster, local in tests): the per-depth emptiness probe and the
    next hop's join read the materialized level instead of re-running
    the whole join chain (round 1 this was up to 16
    blocking mini-jobs each recomputing every prior hop), and the
    returned union is a flat scan of checkpointed levels — no join
    re-execution at action time.  Levels are dimension-sized (they
    live on the edge table), so the checkpoint storage is trivial.

    Round 13 (guide §1.2, the connected-components precedent): each
    level's materialization and its emptiness probe are ONE action
    (``checkpoint_with_probe`` — the count both persists the level
    and answers the probe), halving the loop's driver round-trips
    (2 jobs/level → 1; a ~15-level walk on local[32] paid
    ~0.1-0.15 s per job).
    """
    level = iter_checkpoint(
        edges.filter(F.col("parent").isNotNull())
        .select("symbol", F.col("parent").alias("ancestor"))
        .withColumn("depth", F.lit(1))
    )
    out = level
    parent_of = edges.filter(F.col("parent").isNotNull()).select(
        F.col("symbol").alias("ancestor"), F.col("parent").alias("next_ancestor")
    )
    for depth in range(2, 17):
        level, n_rows = checkpoint_with_probe(
            level.join(F.broadcast(parent_of), "ancestor")
            .select(
                "symbol",
                F.col("next_ancestor").alias("ancestor"),
                F.lit(depth).alias("depth"),
            ),
            lambda d: d.count(),
        )
        if n_rows == 0:
            break
        out = out.unionByName(level)
    return out

