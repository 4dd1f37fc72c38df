"""Ancestor-path operators over the CPC-style parent-pointer tree."""

from __future__ import annotations

from etl_cpc_schema_spark.operators.hierarchy import ancestor_paths


def _edges(spark):
    return spark.createDataFrame(
        [
            ("A", None),
            ("A01", "A"),
            ("A01B", "A01"),
            ("A01B1/00", "A01B"),
            ("Y02", None),
            ("Y02E", "Y02"),
        ],
        "symbol string, parent string",
    )


def test_ancestor_paths(spark):
    got = {
        (r["symbol"], r["ancestor"]): r["depth"]
        for r in ancestor_paths(_edges(spark)).collect()
    }
    assert got[("A01", "A")] == 1
    assert got[("A01B", "A01")] == 1
    assert got[("A01B", "A")] == 2
    assert got[("A01B1/00", "A")] == 3
    assert ("A", "A") not in got  # roots have no ancestors
    assert len(got) == 7


def test_ancestor_paths_levels_materialized_once(spark):
    """Each level is localCheckpoint-ed (VERDICT round 1 #8): the final
    plan must scan the materialized levels, not re-run the per-depth
    broadcast-join chain at action time."""
    out = ancestor_paths(_edges(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan
    # and the checkpointing changed no results
    assert out.count() == 7

