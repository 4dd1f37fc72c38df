"""Scheduled-run entry point — the reference's timer-function analog.

The reference's third entry point is an Azure timer function
(reference src/cpc_etl/functions/etl_function.py:16-38 + host.json
schedule) that wakes up, runs the orchestrator over the data dir, and
raises on failure so the platform records the invocation as failed.

The Spark-native twin composes the pieces that already exist:

  manifest check (sources.manifest)  →  ``new_versions`` anti-join
  against the processed-version watermark  →  ``cli.run`` for each new
  version  →  ``record_processed``.

A scheduler (cron, Airflow, Databricks job — anything that can invoke
``python -m etl_cpc_schema_spark.jobs``) calls :func:`scheduled_run`;
when no new version exists the call is a watermark-verified no-op, so
the schedule can fire as often as it likes (same idempotence contract
as the reference's skip-if-present downloads, downloader.py:152-154).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import SparkSession

from . import cli
from .sources import manifest as M


def scheduled_run(
    data_dir: str,
    out_dir: str,
    watermark_path: str,
    links: list[tuple[str, str]] | None = None,
    html: str | None = None,
    spark: SparkSession | None = None,
) -> str | None:
    """One scheduled tick: process the latest not-yet-processed version.

    ``links``/``html`` feed the manifest (S1); when neither is given the
    manifest is derived from the zips already landed in ``data_dir`` —
    the offline twin of scraping the bulk page.  ALL pending versions
    are processed OLDEST-FIRST (``cli.run`` overwrites one fixed output
    path, so newest-first catch-up would leave an older version
    published after the final tick).  Returns the newest version
    processed, or ``None`` for a watermark-verified no-op.  Raises
    ``RuntimeError`` when the pipeline fails, exactly like the
    reference's timer function (etl_function.py:36-38) so the scheduler
    records a failed invocation; versions already processed before the
    failure stay recorded.
    """
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="cpc_etl_scheduled")
    if links is None:
        if html is not None:
            links = M.parse_links(html)
        else:
            links = [(p.name, p.name) for p in sorted(Path(data_dir).glob("*.zip"))]
    manifest = M.manifest_df(spark, links)
    processed = M.load_processed(spark, watermark_path)
    # control-plane collect: the version list is dimension-sized by design
    pending = [r["version"] for r in M.new_versions(manifest, processed).collect()]
    if not pending:
        return None
    done: str | None = None
    for version in sorted(pending):  # lexicographic == chronological YYYYMM
        rc = cli.run(data_dir, version, out_dir, strict=True)
        if rc != 0:
            raise RuntimeError(
                f"scheduled ETL run failed for version {version} (rc={rc})"
            )
        M.record_processed(spark, watermark_path, version)
        done = version
    return done


def main() -> int:
    import argparse

    p = argparse.ArgumentParser(prog="etl-cpc-spark-scheduled")
    p.add_argument("--data-dir", default="data/raw")
    p.add_argument("--out-dir", default="data/processed")
    p.add_argument("--watermark", default="data/processed/_versions")
    args = p.parse_args()
    v = scheduled_run(args.data_dir, args.out_dir, args.watermark)
    print(f"processed version: {v}" if v else "no new version; no-op")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
