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

from .plans.cpc_pipeline import run_pipeline
from .session import get_spark
from .sources import readers as R
from .sources.xml_scheme import read_scheme_edges
from .functions.parsing import parse_title_lines


def read_release(
    spark: SparkSession, data_dir: str, version: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(titles, symbol_list, validity, edges) of one release: one
    ``binaryFile`` read per archive, headers dropped in the extractor."""
    raw = Path(data_dir)

    def lines(archive: str, **kw) -> DataFrame:
        return R.read_zip_members(spark, str(raw / f"{archive}{version}.zip"), **kw)

    titles = parse_title_lines(lines("CPCTitleList", member_prefix="cpc-section-"))
    symbol_list = R.parse_symbol_list_lines(
        lines("CPCSymbolList", member_suffix=".csv", skip_header=True)
    )
    validity = R.parse_validity_lines(
        lines("CPCValidityFile", member_suffix=".txt", skip_header=True)
    )
    edges = read_scheme_edges(
        spark, str(raw / f"CPCSchemeXML{version}.zip"), from_zip=True
    )
    return titles, symbol_list, validity, edges


def run(data_dir: str, version: str, out_dir: str, strict: bool = True) -> int:
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
        n_bad = bad.count()
        if n_bad:
            print(f"{n_bad} invalid symbols; first 10:")
            for row in bad.select("symbol", "validation_warnings").limit(10).collect():
                print(f"  {row['symbol']}: {row['validation_warnings']}")
        if final is None:
            print("validation failed; no output written")
            return 1
        out = Path(out_dir)
        written = Observation()  # the row count, without a count() job
        R.write_parquet(
            final.observe(written, F.count(F.lit(1)).alias("rows")),
            str(out / "cpc_schema_final.parquet"),
        )
        R.write_csv(final, str(out / "cpc_schema_final.csv"))
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
