"""Command-line entry point (reference cli/commands.py analog).

``python -m etl_cpc_schema_spark.cli run --data-dir DIR --version V``
runs the CPC pipeline over an extracted raw zone; ``--force`` actually
works here (the reference's ``--force`` path raised TypeError,
orchestrator.py:65).  Exit code 1 on validation failure, mirroring
cli/commands.py:54-58.

argparse instead of typer: no third-party CLI dependency.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.iterutils import run_concurrent
from .plans.cpc_pipeline import run_pipeline
from .session import get_spark
from .sources import readers as R
from .sources.xml_scheme import read_scheme_edges
from .functions.parsing import parse_title_lines


def read_release(
    spark: SparkSession, data_dir: str, version: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(titles, symbol_list, validity, edges) of one release: one
    ``binaryFile`` read per archive, headers dropped in the extractor.

    The four frames are planned concurrently, so their driver-side
    analysis overlaps.  A missing archive raises the first failure in
    that order; the others ride on it as notes."""
    raw = Path(data_dir)

    def lines(archive: str, **kw) -> DataFrame:
        return R.read_zip_members(spark, str(raw / f"{archive}{version}.zip"), **kw)

    titles, symbol_list, validity, edges = run_concurrent(
        lambda: parse_title_lines(lines("CPCTitleList", member_prefix="cpc-section-")),
        lambda: R.parse_symbol_list_lines(
            lines("CPCSymbolList", member_suffix=".csv", skip_header=True)
        ),
        lambda: R.parse_validity_lines(
            lines("CPCValidityFile", member_suffix=".txt", skip_header=True)
        ),
        lambda: read_scheme_edges(
            spark, str(raw / f"CPCSchemeXML{version}.zip"), from_zip=True
        ),
    )
    return titles, symbol_list, validity, edges


def run(data_dir: str, version: str, out_dir: str, strict: bool = True) -> int:
    """Validate one release and, unless the strict gate blocks it, write
    the final table as parquet and CSV under ``out_dir``.

    After the gate and the invalid-row count, the first-10 report and
    both sinks run concurrently, and stdout is printed after all three
    have joined.  One failing sink does not stop the other: the first
    failure in the order (report, parquet, CSV) is raised with the rest
    attached as notes, and both caches are released on every exit path.
    """
    spark = get_spark(app_name="cpc_etl_run")
    titles, symbol_list, validity, edges = read_release(spark, data_dir, version)
    # persisted: the gate's `bad` and both sinks read the parsed
    # TitleList, so its zip is extracted once.  `bad` arrives
    # persisted from run_pipeline.  Both are released on every exit path:
    # scheduled runs call this in a loop in one session.
    titles = titles.persist()
    bad = None
    try:
        final, bad = run_pipeline(
            titles, symbol_list, validity, edges, version, strict
        )
        # first, alone: this action fills the titles cache and builds
        # both broadcast sides; tasks started beside it would hold cores
        # waiting on the cache block
        n_bad = bad.count()

        def first_bad() -> list:
            if not n_bad:
                return []
            return bad.select("symbol", "validation_warnings").limit(10).collect()

        out = Path(out_dir)
        written = Observation()  # the row count, without a count() job
        sinks = () if final is None else (
            lambda: R.write_parquet(
                final.observe(written, F.count(F.lit(1)).alias("rows")),
                str(out / "cpc_schema_final.parquet"),
            ),
            lambda: R.write_csv(final, str(out / "cpc_schema_final.csv")),
        )
        shown, *_ = run_concurrent(first_bad, *sinks)
        if n_bad:
            print(f"{n_bad} invalid symbols; first 10:")
            for row in shown:
                print(f"  {row['symbol']}: {row['validation_warnings']}")
        if final is None:
            print("validation failed; no output written")
            return 1
        print(f"wrote {written.get['rows']} rows to {out}")
        return 0
    finally:
        if bad is not None:
            bad.unpersist()
        titles.unpersist()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl-cpc-spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    runp = sub.add_parser("run", help="run the CPC ETL pipeline")
    runp.add_argument("--data-dir", default="data/raw")
    runp.add_argument("--out-dir", default="data/processed")
    runp.add_argument("--version", required=True)
    runp.add_argument(
        "--force", action="store_true",
        help="write output even when validation finds invalid symbols",
    )
    args = p.parse_args(argv)
    if args.cmd == "run":
        return run(args.data_dir, args.version, args.out_dir, strict=not args.force)
    return 2


if __name__ == "__main__":
    sys.exit(main())
