"""The CPC validate/enrich pipeline as ONE lazy Spark plan.

Replaces the reference's eager multi-stage flow (reference
main.py:23-125: parse → write parquet → re-read → per-row Python
validation loop → conditional final write) with a single declarative
plan: the disk IR between parse and validate disappears, the per-row
loop becomes columnar expressions, and the titles meet their lookups
in two broadcast hash joins: one symbol lookup (list membership and
status, built by one aggregate over the symbol list and the validity
file) and the hierarchy edges.  The titles side streams; nothing
dimension-sized ever leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import validation as V


def symbol_lookup(symbol_list: DataFrame, validity: DataFrame) -> DataFrame:
    """One row per symbol: ``__in_list`` (listed in the symbol list) and
    ``status``, with validity-file precedence.

    Reference semantics: ``_load_symbol_list`` fills statuses
    (validator.py:95-98), then ``_load_validity_file`` overwrites them
    (validator.py:126-131) — last write wins by load order
    (validator.py:64-66): a symbol with any validity row takes the
    validity status.

    Both files go through ONE aggregate over their union, so each is
    scanned once and the titles need one lookup join.  A symbol
    re-listed in either file (amended validity rows are real) collapses
    to one row; the reference's dict-insert keeps the file's LAST row,
    and since DataFrames carry no line order the deterministic stand-in
    keeps the lexicographically greatest status per symbol and file.
    """
    no_status = F.lit(None).cast("string")
    rows = symbol_list.select(
        "symbol",
        F.lit(True).alias("from_list"),
        V.symbol_list_status(F.col("status")).alias("list_status"),
        no_status.alias("validity_status"),
    ).unionByName(
        validity.select(
            "symbol",
            F.lit(False).alias("from_list"),
            no_status.alias("list_status"),
            V.validity_status(F.col("valid_from"), F.col("valid_to")).alias(
                "validity_status"
            ),
        )
    )
    # validity_status is never NULL on a validity row, so a non-NULL max
    # means the symbol has one and its status wins
    return rows.groupBy("symbol").agg(
        F.max("from_list").alias("__in_list"),
        F.coalesce(F.max("validity_status"), F.max("list_status")).alias("status"),
    )


def validate_titles(
    titles: DataFrame,
    symbol_list: DataFrame,
    validity: DataFrame,
    scheme_edges: DataFrame,
) -> DataFrame:
    """titles × lookups → validation_result columns (SURVEY.md §1.4).

    One plan: two broadcast left joins (the symbol lookup and the
    hierarchy edges) + pure expressions.  Mirrors ``validate_symbol``
    (reference validator.py:176-209) exactly, including warning order.
    """
    edges = scheme_edges.select(
        "symbol", F.col("parent").alias("parent_symbol")
    ).filter(F.col("parent_symbol").isNotNull())

    out = (
        titles.join(F.broadcast(symbol_lookup(symbol_list, validity)), "symbol", "left")
        .join(F.broadcast(edges), "symbol", "left")
        .withColumn("symbol_valid", V.symbol_format_valid(F.col("symbol")))
        .withColumn("in_symbol_list", F.coalesce(F.col("__in_list"), F.lit(False)))
        .withColumn("validity_status", V.status_with_default(F.col("status")))
        .withColumn("schema_valid", F.col("parent_symbol").isNotNull())
        .withColumn(
            "validation_warnings",
            V.validation_warnings(
                F.col("symbol_valid"),
                F.col("in_symbol_list"),
                F.col("validity_status"),
                F.col("schema_valid"),
            ),
        )
        .drop("__in_list", "status")
    )
    return out


def invalid_symbols(validated: DataFrame) -> DataFrame:
    """The orchestration loop's invalid set (reference main.py:77-87)."""
    return validated.filter(
        ~V.is_fully_valid(
            F.col("symbol_valid"),
            F.col("in_symbol_list"),
            F.col("validity_status"),
        )
    )


def finalize(titles: DataFrame, version: str) -> DataFrame:
    """Append the literal version column (reference main.py:114-116)."""
    return titles.withColumn("cpc_schema_date", F.lit(version))


def run_pipeline(
    titles: DataFrame,
    symbol_list: DataFrame,
    validity: DataFrame,
    scheme_edges: DataFrame,
    version: str,
    strict: bool = True,
) -> tuple[DataFrame | None, DataFrame]:
    """Full reference pipeline semantics: validate, and produce the final
    enriched table only when clean (reference main.py:101: write gate).

    Returns (final_or_None, invalid_rows).  ``strict=False`` makes the
    gate advisory (the engine's configurable refresh mode — the
    reference's ``--force`` flag was broken, orchestrator.py:65).
    """
    validated = validate_titles(titles, symbol_list, validity, scheme_edges)
    # persist: the strict gate probe AND the caller's count/report both
    # read `bad`; without caching each action re-runs the zip-extract +
    # validation DAG from scratch
    bad = invalid_symbols(validated).persist()
    try:
        if strict and bad.limit(1).count() > 0:
            return None, bad
    except BaseException:
        bad.unpersist()
        raise
    return finalize(titles, version), bad
