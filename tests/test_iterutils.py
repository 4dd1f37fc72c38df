"""iter_checkpoint tier selection: local by default, reliable when the
session has a checkpoint directory (VERDICT r3 #5 wired it into the
iterative operators — this pins the selection logic itself)."""

from __future__ import annotations

import os

from etl_cpc_schema_spark.operators.components import connected_components
from etl_cpc_schema_spark.operators.iterutils import iter_checkpoint, release


def test_local_tier_without_checkpoint_dir(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    df = iter_checkpoint(spark.range(10))
    assert df.count() == 10
    release(df)  # no-op beyond unpersist; must not raise


def test_reliable_tier_with_checkpoint_dir(spark, tmp_path):
    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        df = iter_checkpoint(spark.range(10))
        assert df.count() == 10
        # a reliable checkpoint writes RDD blocks under the dir
        found = [
            os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
        ]
        assert found, "no checkpoint files written in reliable tier"
        # iterative operators run unchanged through the reliable tier
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "d1 bigint, d2 bigint"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    finally:
        # reset to the local tier for the rest of the suite (the shared
        # session outlives this test); None maps to null -> Option.empty
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_checkpoint_with_probe_local_tier(spark):
    """One helper call materializes the round AND returns the probe
    scalar; the returned frame is usable (persisted blocks) and the
    probe result matches a direct aggregation (round 13)."""
    from pyspark.sql import functions as F

    from etl_cpc_schema_spark.operators.iterutils import (
        checkpoint_with_probe,
    )

    df = spark.range(100).withColumn("flag", F.col("id") % 10 == 0)
    out, n = checkpoint_with_probe(
        df, lambda d: d.agg(F.count(F.when(F.col("flag"), True))).collect()[0][0]
    )
    assert n == 10
    assert out.count() == 100
    release(out)


def test_checkpoint_with_probe_reliable_tier(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_cpc_schema_spark.operators.iterutils import (
        checkpoint_with_probe,
    )

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt2"))
    try:
        out, n = checkpoint_with_probe(
            spark.range(50), lambda d: d.agg(F.count("*")).collect()[0][0]
        )
        assert n == 50
        assert out.count() == 50
    finally:
        sc._jsc.sc().setCheckpointDir(None)


def test_fan_out_spreads_narrow_input(spark):
    """A 1-partition input is spread to the session parallelism; an
    already-parallel input passes through unchanged (no extra
    exchange at scale) and rows survive both ways (round 13)."""
    from etl_cpc_schema_spark.operators.iterutils import fan_out

    narrow = spark.range(1000).coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1
    spread = fan_out(narrow)
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    assert spread.count() == 1000

    wide = spark.range(1000).repartition(64)
    same = fan_out(wide, target=8)
    # already past the target: identical plan object, no repartition
    assert same is wide


def test_local_df_matches_list_path(spark):
    """local_df (round 13) must produce the same rows, types, and
    order as the classic list createDataFrame for every cell shape
    the engine ships through it — the Arrow batch is a transport
    change, never a semantic one."""
    from etl_cpc_schema_spark.operators.iterutils import local_df

    cases = [
        # scalars incl. a None string (q31's ROOT row)
        ([("ROOT", None), ("a", "ROOT")], "symbol string, parent string"),
        # bpe merge table
        ([(1, "a", "b", 7)], "merge_rank bigint, lhs string, rhs string, pair_count bigint"),
        # the ivfpq LUT's nested arrays
        (
            [(5, [[1, 2], [3, 4]], 9), (6, [[0, 0], [1, 1]], 2)],
            "q_id long, lut array<array<bigint>>, q_nsq long",
        ),
    ]
    for rows, schema in cases:
        got = local_df(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema, schema
        assert got.collect() == want.collect(), schema
    # empty rows fall back to the list path and keep the schema
    empty = local_df(spark, [], "a int, b string")
    assert empty.count() == 0 and len(empty.schema) == 2


def test_local_df_structtype_schema(spark):
    """StructType schemas (the stream sentinel path) resolve names
    without a DDL parse."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_cpc_schema_spark.operators.iterutils import local_df

    st = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
        ]
    )
    got = local_df(spark, [(1, "x"), (2, None)], st)
    assert got.collect() == spark.createDataFrame(
        [(1, "x"), (2, None)], st
    ).collect()


def test_local_df_datetime_takes_list_path(spark):
    """Temporal cells must route through the classic list path
    (ADVICE r13 high): the pandas/Arrow path localizes a naive
    datetime with the UTC session timezone while the list path uses
    host-local time — on a host west of UTC the sentinel row the
    streaming left join builds would land hours early and the
    watermark would never pass the last real rows.  Pin: both paths
    agree on the stored epoch, and local_df matches the list path
    exactly for datetime and date cells."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_cpc_schema_spark.operators.iterutils import local_df

    ts = dt.datetime(2024, 3, 1, 12, 30, 45)
    rows = [(1, ts, dt.date(2024, 3, 1)), (2, ts, None)]
    schema = "id bigint, ts timestamp, d date"
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    # epoch equality (timezone-interpretation pin, not just round-trip)
    g = got.select(F.unix_timestamp("ts").alias("e")).collect()
    w = want.select(F.unix_timestamp("ts").alias("e")).collect()
    assert g == w


def test_run_concurrent_returns_in_argument_order(spark):
    """Results follow argument order, not completion order."""
    import time

    from etl_cpc_schema_spark.operators.iterutils import run_concurrent

    def after(delay, value):
        def thunk():
            time.sleep(delay)
            return value

        return thunk

    got = run_concurrent(after(0.3, "a"), after(0.0, "b"), after(0.1, "c"))
    assert got == ["a", "b", "c"]
    assert run_concurrent() == []


def test_run_concurrent_every_failure_surfaces(spark):
    """When every branch raises, the first in argument order is raised
    and each other failure rides on it as a note."""
    import pytest

    from etl_cpc_schema_spark.operators.iterutils import run_concurrent

    def fail(exc):
        def thunk():
            raise exc

        return thunk

    errs = [ValueError("first"), KeyError("second"), OSError("third")]
    with pytest.raises(ValueError, match="first") as info:
        run_concurrent(*(fail(e) for e in errs))
    notes = "\n".join(info.value.__notes__)
    assert repr(errs[1]) in notes and repr(errs[2]) in notes


def test_run_concurrent_joins_siblings_before_raising(spark):
    """A branch that fails at once does not cut short a slow sibling:
    the sibling's Spark job has finished when the error reaches the
    caller."""
    import time

    import pytest

    from etl_cpc_schema_spark.operators.iterutils import run_concurrent

    done = []

    def slow():
        time.sleep(0.5)
        done.append(spark.range(10).count())

    def fail():
        raise RuntimeError("fast failure")

    with pytest.raises(RuntimeError, match="fast failure"):
        run_concurrent(fail, slow)
    assert done == [10]


def test_run_concurrent_inherits_local_properties(spark):
    """A local property set on the calling thread is visible inside
    every thunk, and so tags the thunk's Spark jobs."""
    from etl_cpc_schema_spark.operators.iterutils import run_concurrent

    sc = spark.sparkContext
    sc.setLocalProperty("test.run_concurrent.tag", "outer")
    try:
        got = run_concurrent(
            lambda: sc.getLocalProperty("test.run_concurrent.tag"),
            lambda: sc.getLocalProperty("test.run_concurrent.tag"),
        )
    finally:
        sc.setLocalProperty("test.run_concurrent.tag", None)
    assert got == ["outer", "outer"]
