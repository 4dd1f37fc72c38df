"""SCD2 merge semantics + partitioned-write pruning + streaming
checkpoint idempotence."""

from __future__ import annotations

from etl_cpc_schema_spark.operators.scd import scd2_merge


def test_scd2_merge_closes_and_opens_versions(spark):
    current = spark.createDataFrame(
        [
            ("A01", "old title", "2020-01-01", None, True),
            ("B22", "stays", "2020-01-01", None, True),
            ("A01", "ancient", "2010-01-01", "2020-01-01", False),
        ],
        "symbol string, title string, valid_from string, valid_to string, is_current boolean",
    )
    incoming = spark.createDataFrame(
        [("A01", "new title", "2025-06-01")],
        "symbol string, title string, effective string",
    )
    out = scd2_merge(current, incoming, key="symbol", effective_col="effective")
    rows = sorted(
        (r["symbol"], r["title"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    )
    assert rows == [
        ("A01", "ancient", "2010-01-01", "2020-01-01", False),
        ("A01", "new title", "2025-06-01", None, True),
        ("A01", "old title", "2020-01-01", "2025-06-01", False),
        ("B22", "stays", "2020-01-01", None, True),
    ]
    # exactly one current version per key
    assert out.filter("is_current").count() == 2


def test_scd2_merge_dedupes_multi_version_batch(spark):
    """Two versions of one key in a single batch must not corrupt the
    dimension (ADVICE round 1): only the latest is applied, the current
    row closes exactly once, and exactly one row stays is_current."""
    current = spark.createDataFrame(
        [("A01", "old title", "2020-01-01", None, True)],
        "symbol string, title string, valid_from string, valid_to string, is_current boolean",
    )
    incoming = spark.createDataFrame(
        [
            ("A01", "mid title", "2025-01-01"),
            ("A01", "new title", "2025-06-01"),
        ],
        "symbol string, title string, effective string",
    )
    out = scd2_merge(current, incoming, key="symbol", effective_col="effective")
    rows = sorted(
        (r["symbol"], r["title"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    )
    assert rows == [
        ("A01", "new title", "2025-06-01", None, True),
        ("A01", "old title", "2020-01-01", "2025-06-01", False),
    ]


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    from etl_cpc_schema_spark.sources.readers import read_events

    out = str(tmp_path / "events_by_type")
    read_events(spark, sf_dir).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(out)

    back = spark.read.parquet(out).filter("event_type = 'click'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan
    clicks = back.count()
    total = spark.read.parquet(out).count()
    assert 0 < clicks < total


def test_streaming_checkpoint_idempotence(spark, sf_dir, tmp_path):
    """Re-running the stream over an unchanged source with the same
    checkpoint must process nothing new (the engine analog of the
    reference's skip-if-downloaded caching, downloader.py:152-154)."""
    from pyspark.sql import functions as F

    from etl_cpc_schema_spark.streaming.ingest import EVENTS_RAW_SCHEMA

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    run_once()  # same checkpoint, unchanged source
    n2 = spark.read.parquet(out).count()
    assert n1 > 0
    assert n2 == n1  # no reprocessing, no duplicates