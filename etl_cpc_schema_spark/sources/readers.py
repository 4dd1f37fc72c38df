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


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read across SCHEMA-EVOLVED file generations
    (``mergeSchema``): a long-lived dataset directory accumulates
    files written under successive schema versions (the reference's
    monthly re-publishes add columns over the years); the merged read
    unions the schemas and fills columns absent from older files with
    NULL.  Spark's default read takes ONE footer's schema — silently
    DROPPING later columns when an old file is sampled first — so a
    versioned-dataset consumer must read through this.  Footer
    merging is a planning-time cost over file metadata only (no data
    scan); at 100 TB prefer declaring the current contract schema
    explicitly (``spark.read.schema(...)``) and keep this for the
    exploratory path.  Pinned by tests/test_sources.py."""
    return spark.read.option("mergeSchema", True).parquet(path)


def compact_parquet(
    spark: SparkSession, src: str, dest: str, target_files: int = 1
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``target_files`` files.  The table-maintenance op every
    long-running ingest needs — streaming sinks and fine-grained
    partitioned writes accumulate small files whose per-file open/seek
    overhead dominates scans at 100 TB.  ``repartition`` (round-robin,
    one shuffle) balances output sizes; rows are unchanged.
    """
    df = spark.read.parquet(src)
    df.repartition(target_files).write.mode("overwrite").parquet(dest)
    import pathlib

    return sum(1 for p in pathlib.Path(dest).glob("*.parquet"))


def compact_parquet_inplace(
    spark: SparkSession,
    main: str,
    dedupe: bool = False,
    target_files: int = 1,
) -> int:
    """In-place small-files compaction of ONE parquet table dir with
    a rename-only swap: write the folded copy to ``<main>.compacting``,
    rename the live dir to ``<main>.old``, rename the staging dir
    over ``<main>``, delete ``<main>.old``.  The live table is NEVER
    the target of a recursive delete while it is the only complete
    copy — the round-9 protocol's one unsound window (a crash mid
    ``delete(main)`` left a PARTIAL live dir beside a complete stage,
    and the old recovery preferred the partial dir; round-9 ADVICE).
    Every crash state is now unambiguous and the recovery below
    converges on re-run:

    * ``.old`` + live dir → crash after the swap: drop ``.old``.
    * ``.old`` + stage, no live dir → crash between the two renames:
      promote the stage, drop ``.old``.
    * ``.old`` alone → defensive restore (no such state is reachable
      under this protocol, but an interrupted manual cleanup lands
      here): rename it back.
    * stage beside a live dir → pre-swap crash: the live dir is
      authoritative, discard the stage.
    * no live dir + stage (legacy round-9 delete→rename crash):
      promote the stage.

    Renames are atomic on HDFS and local file:// (an S3 rename is a
    copy — same caveat as any rename-committer job; the generational
    index store is the posture for multi-table artifacts).
    ``dedupe`` additionally ``distinct``s the rows (for value-set
    tables whose appends may repeat values).  Returns the row count,
    read back from the folded files (doubling as a write check).
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    stage, old = f"{main}.compacting", f"{main}.old"
    fs = HPath(main).getFileSystem(conf)
    mainp, stagep, oldp = HPath(main), HPath(stage), HPath(old)
    if fs.exists(oldp):
        if fs.exists(mainp):
            fs.delete(oldp, True)
        elif fs.exists(stagep):
            fs.rename(stagep, mainp)
            fs.delete(oldp, True)
        else:
            fs.rename(oldp, mainp)
    if not fs.exists(mainp) and fs.exists(stagep):
        fs.rename(stagep, mainp)
    if fs.exists(stagep):
        fs.delete(stagep, True)
    df = spark.read.parquet(main)
    if dedupe:
        df = df.distinct()
    # the stage is materialized while every source file still exists,
    # so no lineage-severing checkpoint is needed; the count reads the
    # folded files (no second pass over the source)
    df.coalesce(target_files).write.parquet(stage)
    n = spark.read.parquet(stage).count()
    fs.rename(mainp, oldp)
    fs.rename(stagep, mainp)
    fs.delete(oldp, True)
    return n


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    mode: str = "error",
) -> None:
    """JSON-lines sink — the de-facto interchange format for LLM
    corpora (one JSON object per line; gzip-splittable alternative:
    per-file gzip, still parallel across files).  Spark's native json
    writer emits exactly this shape.

    ``mode`` defaults to ``"error"`` (fail if the destination exists)
    so clobbering an existing dataset is an explicit opt-in via
    ``mode="overwrite"`` — a corpus export that silently overwrites a
    prior run's output is how training data disappears.
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """JSON-lines source with an EXPLICIT schema — never inference for
    contract tables (inference is a full extra pass over the data and
    type-flips on corpora where a field is sometimes-numeric).
    Corrupt lines land in ``_corrupt_record`` (PERMISSIVE) instead of
    failing the 100 TB job; callers filter or quarantine them.

    Caveat (Spark >= 2.3): a query that references ONLY
    ``_corrupt_record`` over the raw JSON read raises
    AnalysisException — ``.cache()`` the frame (or select data
    columns alongside) before a corrupt-only filter, as
    tests/test_sources.py::test_jsonl_roundtrip_documents does.
    """
    return (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "error",
) -> None:
    """ORC sink (zlib default) — the columnar interchange format for
    Hive-ecosystem consumers; Spark's writer is built in, no extra
    packages.  Same destructive-overwrite posture as write_jsonl:
    ``mode="overwrite"`` is an explicit opt-in.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """ORC source.  Pass an explicit ``schema`` for contract tables
    (same no-inference posture as read_jsonl — ORC carries its own
    schema, but pinning one catches upstream type drift at read time
    instead of ten stages later); predicate pushdown and column
    pruning reach the ORC reader exactly as with parquet.
    """
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
