"""Custom stateful streaming operator via ``applyInPandasWithState``.

Per-user running event counts with explicit keyed state — the pattern
for operators Structured Streaming's built-in aggregations can't
express (custom session logic, decaying counters, online sketches).
State is one row per key (bounded), batches arrive Arrow-vectorized,
and the same code runs unchanged against a Kafka/file stream on a
cluster.

Local verification drives the stream to completion with
``trigger(availableNow=True)`` into a memory sink; the final per-key
update equals the batch groupBy count (asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ingest import EVENTS_RAW_SCHEMA, run_to_memory

OUTPUT_SCHEMA = "user_id bigint, n_events bigint"
STATE_SCHEMA = "n bigint"


def user_counts_stateful(spark: SparkSession, events_dir: str) -> DataFrame:
    """Final per-user event counts computed THROUGH keyed streaming state.

    Returns the last update per key (counts are monotone, so max ==
    final).  Shape: (user_id, n_events) — comparable to the batch
    ``groupBy(user_id).count()``.
    """
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(events_dir)
    )

    # Nested (pickled BY VALUE): executors don't share the driver's
    # sys.path, so the state function must not reference this module.
    def count_updates(key, pdfs, state):
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    updates = stream.groupBy("user_id").applyInPandasWithState(
        count_updates,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
    final = run_to_memory(updates, "update", "stateful_out")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        final.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .orderBy("user_id")
    )

