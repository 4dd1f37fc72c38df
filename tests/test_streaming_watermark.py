"""Watermark semantics under MULTI-batch processing.

The oracle-parity streaming tests drive availableNow over one file =
one micro-batch, where the watermark never advances mid-stream and so
never drops anything.  This suite forces one-file-per-trigger so the
watermark advances BETWEEN batches and verifies the engine actually
enforces it: late events arriving after the watermark passed their
window are dropped from the append-mode result.

Spark detail this test encodes: since 3.4 the state operator carries
TWO watermarks — eviction uses the current batch's value, but the
LATE-ROW filter uses the value that was in effect during the previous
batch (one commit behind).  A late row is therefore only dropped from
the third micro-batch on; with two batches it would silently land in
state and emit its own window.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _write(path, rows, age=None):
    ts, v = zip(*rows)
    pq.write_table(
        pa.table({"ts": pa.array(ts, type=pa.timestamp("us")), "v": list(v)}),
        str(path),
    )
    if age is not None:
        t = time.time() - age
        os.utime(path, (t, t))


def test_late_events_dropped_after_watermark(spark, tmp_path):
    d = datetime.datetime
    src = tmp_path / "stream_src"
    src.mkdir()
    # batch 0: two on-time events + one at 12:30 advancing the
    # watermark to 11:30 (1h delay)
    _write(
        src / "b1.parquet",
        [(d(2024, 1, 1, 10, 0), 1), (d(2024, 1, 1, 10, 30), 2), (d(2024, 1, 1, 12, 30), 3)],
        age=20,
    )
    # batch 1: on-time only; 11:30 becomes the NEXT batch's late filter
    _write(src / "b2.parquet", [(d(2024, 1, 1, 12, 45), 4)], age=10)
    # batch 2: two LATE events (windows end 09:00 / 11:00 < 11:30) and
    # one on-time
    _write(
        src / "b3.parquet",
        [(d(2024, 1, 1, 8, 5), 9), (d(2024, 1, 1, 10, 15), 8), (d(2024, 1, 1, 12, 50), 5)],
    )
    stream = (
        spark.readStream.schema("ts timestamp, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("h"), "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    out = {r["h"]: r["n"] for r in spark.table(name).collect()}
    # both late events dropped; the 10:00 window finalized with only
    # its on-time members; open 12:00 window not emitted in append mode
    assert dropped == 2
    assert out == {"10:00": 2}

