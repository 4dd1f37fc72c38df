"""Ingestion control plane: manifest discovery, version watermarking,
idempotent downloads (SURVEY.md §2.1 S1-S3, §3.2).

The reference scrapes a bulk-download page, picks the latest 6-digit
version, and streams zips to a local raw zone with skip-if-present
caching (reference downloader.py:34-176).  Here the control plane is
driver-side Python (it is not data-plane work), but its *decisions*
are expressed over small DataFrames so they compose with the engine:

* the manifest is a DataFrame (href, label) → filter/extract/distinct,
  the same A2/A3/A4 operators the data plane uses,
* processed-version watermarking replaces ad-hoc filename checks and
  the reference's "latest version" pick: a tiny parquet table records
  completed versions, and the new-version test is an anti-join against
  it, so a scheduled run catches up every pending version.

The download itself runs on executors (``fetch_files_distributed``);
with ``file://`` URLs it is testable offline.  The reference's broken
``force=`` path (orchestrator.py:65 passes a kwarg the downloader
doesn't accept) is supported for real here via ``overwrite=True``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import DOWNLOAD_MANIFEST

VERSION_RE = r"(\d{6})"
_HREF_RE = re.compile(r"""<a[^>]+href=["']([^"']+)["'][^>]*>(.*?)</a>""", re.I | re.S)


def parse_links(html: str) -> list[tuple[str, str]]:
    """(href, label) anchors from a bulk-page HTML blob (S1)."""
    return [(m.group(1), re.sub(r"<[^>]+>", "", m.group(2)).strip()) for m in _HREF_RE.finditer(html)]


def manifest_df(spark: SparkSession, links: list[tuple[str, str]]) -> DataFrame:
    return spark.createDataFrame(links or [], DOWNLOAD_MANIFEST)


def zip_manifest(manifest: DataFrame) -> DataFrame:
    """Keep .zip hrefs and extract their 6-digit version
    (reference downloader.py:48-52)."""
    return manifest.filter(F.col("href").endswith(".zip")).withColumn(
        "version", F.regexp_extract("href", VERSION_RE, 1)
    )


def available_versions(manifest: DataFrame) -> DataFrame:
    """Distinct, sorted versions (reference downloader.py:43-58)."""
    return (
        zip_manifest(manifest)
        .filter(F.col("version") != "")
        .select("version")
        .distinct()
        .orderBy("version")
    )


def files_for_version(manifest: DataFrame, version: str, base_url: str = "") -> DataFrame:
    """Version-matching files with absolute URLs (reference
    downloader.py:100-127).  No job calls this yet: ``jobs`` runs over a
    landed raw zone, and fetching would need a base-URL option."""
    m = zip_manifest(manifest).filter(F.col("href").contains(version))
    return m.select(
        F.element_at(F.split(F.col("href"), "/"), -1).alias("file_name"),
        F.when(
            F.col("href").rlike("^https?://"), F.col("href")
        ).otherwise(F.concat(F.lit(base_url), F.col("href"))).alias("url"),
    )


def new_versions(manifest: DataFrame, processed: DataFrame) -> DataFrame:
    """Versions not yet in the processed watermark table — the
    new-version check (reference downloader.py:63-98) as an anti-join."""
    return available_versions(manifest).join(
        processed.select("version").distinct(), "version", "left_anti"
    )


def record_processed(spark: SparkSession, watermark_path: str, version: str) -> None:
    """Append a completed version to the watermark table (idempotent)."""
    spark.createDataFrame([(version,)], "version string").write.mode("append").parquet(
        watermark_path
    )


def load_processed(spark: SparkSession, watermark_path: str) -> DataFrame:
    """The processed-version watermark table; empty when no version
    has ever completed.  First-run existence is checked through the
    Hadoop FileSystem API (works on URI-addressed storage) instead of
    catching the read's failure — a caught missing-path read still
    makes the JVM log a full stack trace at ERROR, polluting job logs
    (the round-11 _batch_dirs finding).  The except stays only for a
    corrupt/empty directory, where an empty watermark (re-process
    everything, idempotent) beats failing the scheduled tick."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(watermark_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return spark.createDataFrame([], "version string")
    try:
        return spark.read.parquet(watermark_path)
    except Exception:
        return spark.createDataFrame([], "version string")


def fetch_files_distributed(
    files: DataFrame, dest_dir: str, overwrite: bool = False
) -> int:
    """Fetch a manifest's files on EXECUTORS (S3's Spark mapping:
    foreachPartition over the manifest), landing into a shared raw
    zone.  Each task streams its URLs with skip-if-present caching and
    atomic publish; tasks are independent, so a retried task re-lands
    its files idempotently.  Returns the manifest size.

    The closure is self-contained (stdlib only) — executors don't
    share the driver's sys.path.  No job calls this yet, for the
    reason given at :func:`files_for_version`.
    """
    n = files.count()

    def fetch_partition(rows):
        import os
        import pathlib
        import urllib.request as _rq
        import uuid as _uuid

        for row in rows:
            dest = pathlib.Path(dest_dir) / row["file_name"]
            if dest.exists() and not overwrite:
                continue
            dest.parent.mkdir(parents=True, exist_ok=True)
            # unique temp per ATTEMPT: task retries / speculative copies
            # writing one shared .part path would interleave bytes and
            # publish a corrupt file; unique temps + atomic rename make
            # concurrent attempts last-writer-wins on complete files
            tmp = dest.with_suffix(
                dest.suffix + f".part-{_uuid.uuid4().hex[:8]}"
            )
            try:
                with _rq.urlopen(row["url"]) as resp, open(tmp, "wb") as out:
                    while True:
                        chunk = resp.read(8192)
                        if not chunk:
                            break
                        out.write(chunk)
                os.replace(tmp, dest)
            finally:
                if tmp.exists():  # failed attempt: no orphaned temp
                    tmp.unlink()

    files.select("file_name", "url").foreachPartition(fetch_partition)
    return n

