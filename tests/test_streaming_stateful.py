"""Stateful streaming operator: final keyed state equals batch truth."""

from __future__ import annotations

from etl_cpc_schema_spark.sources.readers import read_events
from etl_cpc_schema_spark.streaming.stateful import user_counts_stateful


def test_stateful_counts_match_batch(spark, sf_dir):
    out = {
        r["user_id"]: r["n_events"]
        for r in user_counts_stateful(spark, sf_dir).collect()
    }
    batch = {
        r["user_id"]: r["count"]
        for r in read_events(spark, sf_dir).groupBy("user_id").count().collect()
    }
    assert out == batch

