"""File-format readers with explicit schema contracts.

Spark-first mappings of the reference's hand-rolled scans
(SURVEY.md §2.1):

* S4/S5 fixed-format text in zips → ``binaryFile`` scan + per-file
  member extraction in ``mapInPandas`` (the one genuinely imperative
  step).
* S6/S7 CSV/TSV with the reference's quirks (last-column status only
  when >6 fields; whitespace-stripped symbols) → line-level
  expressions, not Python loops.
* S9-S11 parquet/CSV read/write.

Zip extraction notes for scale: one zip archive = one task (zip is not
splittable).  For 100 TB the landing zone should decompress to plain
text/parquet once; these readers exist for parity with the reference's
raw-zone layout (reference parser.py:78-93, validator.py:77-157).
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.validation import normalize_symbol, symbol_list_status, validity_status

#: ``file_name`` is the display/filter basename; ``source_file`` is the
#: collision-proof identity (archive path + member path) used for
#: per-file operations like header dropping.
_LINES_SCHEMA = "file_name string, source_file string, line string"

#: Raw-INT64 override used when events.parquet stores TIMESTAMP(NANOS)
#: or a plain INT64 epoch column: Spark's footer converter rejects
#: NANOS, so reading with an explicit ``long`` schema bypasses footer
#: conversion and ``read_events`` restores a µs timestamp itself.
EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)

_EVENTS_SCHEMA_TEMPLATE = (
    "event_id long, ts {ts}, user_id long, event_type string, "
    "value double, props string"
)


def probe_events_ts(events_path: str) -> tuple[str, bool]:
    """Inspect the parquet footer and return ``(read_schema, needs_div)``.

    The events table has shipped with two encodings of ``ts``: a raw
    INT64 epoch-nanoseconds column and a logical ``timestamp[us]``.
    Assuming either one silently corrupts the other (µs divided by
    1000 lands in January 1970), so the reader derives the contract
    from the file footer instead of hard-coding it:

    * logical timestamp (``us``/``ms``/``s``) → read natively
      (``timestamp_ntz`` when the footer is not UTC-adjusted, matching
      how DuckDB reads the same file); no conversion.
    * logical timestamp ``ns`` or plain INT64 → read as ``long`` and
      truncate to µs with integer ``div`` (float division of an
      ~1.7e18 ns value would lose precision past double's mantissa).

    Driver-side footer read only — no Spark job, and the streaming
    source reuses the same probe (readStream needs an explicit schema
    anyway).
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    # the table may arrive as one file or a directory of part-files;
    # any single footer carries the column type (local-FS probe — on a
    # cluster the same role is played by the catalog/first-footer read)
    if os.path.isdir(events_path):
        for name in sorted(os.listdir(events_path)):
            if name.endswith(".parquet"):
                events_path = os.path.join(events_path, name)
                break
    t = pq.read_schema(events_path).field("ts").type
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return EVENTS_RAW_SCHEMA, True
        ts_ddl = "timestamp" if t.tz else "timestamp_ntz"
        return _EVENTS_SCHEMA_TEMPLATE.format(ts=ts_ddl), False
    if pa.types.is_int64(t):
        # plain INT64 has shipped as epoch-nanos; truncate to µs
        return EVENTS_RAW_SCHEMA, True
    # int32/string/decimal/... — assuming epoch-nanos here would yield
    # silent nulls or garbage instants; fail fast instead.
    raise TypeError(
        f"events.ts has unrecognized parquet type {t!r} (expected a "
        "logical timestamp or INT64 epoch-nanos); refusing to guess "
        f"an encoding for {events_path}"
    )


def _with_micro_ts(df: DataFrame, needs_div: bool) -> DataFrame:
    """Normalize the probed ``ts`` column to a session-tz TimestampType
    at µs precision (UTC session tz makes the NTZ cast an identity, so
    values line up exactly with the DuckDB oracle's naive timestamps).
    """
    if needs_div:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` as a TimestampType at µs precision,
    whatever the file's physical encoding (see :func:`probe_events_ts`).
    """
    path = f"{sf_dir}/events.parquet"
    schema, needs_div = probe_events_ts(path)
    return _with_micro_ts(spark.read.schema(schema).parquet(path), needs_div)


def read_zip_members(
    spark: SparkSession,
    zip_path: str,
    member_prefix: str = "",
    member_suffix: str = "",
    skip_header: bool = False,
) -> DataFrame:
    """S4 — (file_name, line) rows from members of zip archives.

    ``binaryFile`` scan → ``mapInPandas`` unzip.  Member-name filtering
    happens inside the extractor (cheap), path filtering at the scan.
    ``source_file`` = ``<archive path>!<member path>`` is collision-proof
    even when different archives/subdirs carry same-named members (the
    basename-only ``file_name`` is NOT — never group by it).  Truncated
    or non-zip files are SKIPPED, not fatal (a crashed download's
    leftover must not abort the whole ingest).

    ``skip_header=True`` drops each member's first line inside the
    extractor (reference validator.py:86, 119) — the same rows as
    :func:`drop_header_per_file` over this frame, without its second
    scan of the archive and its shuffle.
    """
    bin_df = spark.read.format("binaryFile").load(zip_path)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import zipfile as _zf_mod

        for pdf in batches:
            out_names: list[str] = []
            out_sources: list[str] = []
            out_lines: list[str] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    zf = _zf_mod.ZipFile(io.BytesIO(content))
                except _zf_mod.BadZipFile:
                    continue  # tolerate stray/truncated files in the raw zone
                with zf:
                    for member in zf.namelist():
                        name = member.split("/")[-1]
                        if member_prefix and not name.startswith(member_prefix):
                            continue
                        if member_suffix and not name.endswith(member_suffix):
                            continue
                        with zf.open(member) as f:
                            if skip_header:
                                next(f, None)
                            for raw in f:
                                out_names.append(name)
                                out_sources.append(f"{path}!{member}")
                                out_lines.append(
                                    raw.decode("utf-8", errors="replace").strip()
                                )
            yield pd.DataFrame(
                {
                    "file_name": out_names,
                    "source_file": out_sources,
                    "line": out_lines,
                }
            )

    return bin_df.select("path", "content").mapInPandas(extract, _LINES_SCHEMA)


# ---------------------------------------------------------------------------
# Reference-quirk lookup-table parsers (from line DataFrames)
# ---------------------------------------------------------------------------


def parse_symbol_list_lines(lines: DataFrame) -> DataFrame:
    """S6 — CPCSymbolList CSV semantics (reference validator.py:82-98).

    Header skipped by the caller or detected as the first line per
    file; here we drop rows whose first field is empty after
    normalization and reproduce: status = last column only when the
    row has >6 fields, else UNKNOWN; 'published' → ACTIVE.
    """
    parts = F.split(F.col("line"), ",")
    raw_status = F.when(F.size(parts) > 6, F.element_at(parts, -1)).otherwise(
        F.lit("UNKNOWN")
    )
    return (
        lines.select(
            normalize_symbol(F.element_at(parts, 1)).alias("symbol"),
            symbol_list_status(raw_status).alias("status"),
        )
        .filter(F.col("symbol") != "")
    )


def parse_validity_lines(lines: DataFrame) -> DataFrame:
    """S7 — CPCValidityFile TSV semantics (reference validator.py:115-131)."""
    parts = F.split(F.col("line"), "\t")
    return (
        lines.filter(F.size(parts) >= 2)
        .select(
            normalize_symbol(F.element_at(parts, 1)).alias("symbol"),
            F.trim(F.element_at(parts, 2)).alias("valid_from"),
            F.when(F.size(parts) > 2, F.trim(F.element_at(parts, 3)))
            .otherwise(F.lit(""))
            .alias("valid_to"),
        )
        .withColumn(
            "status", validity_status(F.col("valid_from"), F.col("valid_to"))
        )
    )


def drop_header_per_file(lines: DataFrame) -> DataFrame:
    """Skip the first line of each file (reference validator.py:86, 119).

    Implemented with a monotonically-increasing id + min-per-file
    broadcast join rather than a window over the whole 100 TB input.
    It costs two scans of the input (one for the per-file minimum, one
    for the rows) and a shuffle; zip callers should pass
    ``skip_header=True`` to :func:`read_zip_members` instead, which
    drops the headers in its extractor.
    Groups by ``source_file`` (collision-proof identity) when present;
    the basename ``file_name`` would merge same-named members from
    different archives/subdirs into one group and leave their headers
    in the data.
    """
    group_col = "source_file" if "source_file" in lines.columns else "file_name"
    with_id = lines.withColumn("__id", F.monotonically_increasing_id())
    firsts = with_id.groupBy(group_col).agg(F.min("__id").alias("__first"))
    return (
        with_id.join(F.broadcast(firsts), group_col)
        .filter(F.col("__id") != F.col("__first"))
        .drop("__id", "__first")
    )


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S10 — overwrite parquet sink (reference parser.py:118, main.py:119)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S11 — CSV sidecar (reference main.py:120)."""
    df.write.mode("overwrite").option("header", True).csv(path)

