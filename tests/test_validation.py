"""Parity tests for validation expressions and the lookup-join pipeline.

Covers the fixture matrix of FIXTURES.md §7: fully valid symbol; bad
format; digit-start; absent from symbol list; present but INACTIVE;
present but missing from hierarchy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cpc_schema_spark.functions import validation as V
from etl_cpc_schema_spark.plans import cpc_pipeline as PL


def _fmt_valid(spark, symbols):
    df = spark.createDataFrame([(s,) for s in symbols], "symbol string")
    rows = df.select(
        "symbol", V.symbol_format_valid(F.col("symbol")).alias("ok")
    ).collect()
    return {r["symbol"]: r["ok"] for r in rows}


def test_symbol_format_rules(spark):
    got = _fmt_valid(
        spark, ["A01B1/00", "A", "Y02E", "Z01B", "123", "", "AB1", "H99"]
    )
    assert got["A01B1/00"] is True
    assert got["A"] is True          # short symbol: no digit rule applies
    assert got["Y02E"] is True
    assert got["Z01B"] is False      # Z not in ABCDEFGHY (validator.py:221)
    assert got["123"] is False       # first char not alpha (validator.py:217)
    assert got[""] is False
    assert got["AB1"] is False       # chars 1-2 not digits (validator.py:225)
    assert got["H99"] is True


def test_status_mappings(spark):
    df = spark.createDataFrame(
        [("published", "2020-01-01", ""), ("retired", "", ""), ("x", "2020-01-01", "2021-01-01")],
        "raw string, vf string, vt string",
    )
    rows = df.select(
        V.symbol_list_status(F.col("raw")).alias("list_status"),
        V.validity_status(F.col("vf"), F.col("vt")).alias("validity"),
    ).collect()
    assert [r["list_status"] for r in rows] == ["ACTIVE", "retired", "x"]
    assert [r["validity"] for r in rows] == ["ACTIVE", "INACTIVE", "INACTIVE"]


def _pipeline_fixture(spark):
    titles = spark.createDataFrame(
        [
            ("A01B", 1, "Soil working"),   # fully valid
            ("Z01B", 1, "Bad section"),    # bad format
            ("123", None, "Digit start"),  # bad format
            ("B22F", 1, "Not in list"),    # absent from symbol list
            ("C07D", 1, "Inactive"),       # present but INACTIVE (via validity)
            ("D01F", 1, "No parent"),      # present but missing from hierarchy
        ],
        "symbol string, level int, title string",
    )
    symbol_list = spark.createDataFrame(
        [
            ("A01B", "published"),
            ("Z01B", "published"),
            ("123", "published"),
            ("C07D", "published"),
            ("D01F", "frozen"),
        ],
        "symbol string, status string",
    )
    validity = spark.createDataFrame(
        [("C07D", "2010-01-01", "2015-01-01"), ("D01F", "2010-01-01", "")],
        "symbol string, valid_from string, valid_to string",
    )
    edges = spark.createDataFrame(
        [("A01B", "A01"), ("Z01B", "Z01"), ("C07D", "C07"), ("B22F", "B22")],
        "symbol string, parent string",
    )
    return titles, symbol_list, validity, edges


def test_validate_titles_matrix(spark):
    titles, symbol_list, validity, edges = _pipeline_fixture(spark)
    out = PL.validate_titles(titles, symbol_list, validity, edges)
    got = {r["symbol"]: r.asDict() for r in out.collect()}

    a = got["A01B"]
    assert (a["symbol_valid"], a["in_symbol_list"], a["validity_status"]) == (
        True,
        True,
        "ACTIVE",
    )
    assert a["schema_valid"] is True and a["parent_symbol"] == "A01"
    assert a["validation_warnings"] == []

    z = got["Z01B"]
    assert z["symbol_valid"] is False
    assert z["validation_warnings"][0] == V.WARN_BAD_FORMAT

    b = got["B22F"]
    assert b["in_symbol_list"] is False
    assert b["validity_status"] == "UNKNOWN"
    assert V.WARN_NOT_IN_LIST in b["validation_warnings"]
    assert "Symbol status: UNKNOWN" in b["validation_warnings"]

    c = got["C07D"]
    # validity file (INACTIVE) overwrites symbol list (ACTIVE) — last
    # write wins (reference validator.py:64-66).
    assert c["validity_status"] == "INACTIVE"

    d = got["D01F"]
    # validity says ACTIVE (overrides 'frozen'), but no hierarchy edge.
    assert d["validity_status"] == "ACTIVE"
    assert d["schema_valid"] is False
    assert d["validation_warnings"] == [V.WARN_NO_HIERARCHY]


def test_warning_order_matches_reference(spark):
    titles, symbol_list, validity, edges = _pipeline_fixture(spark)
    out = PL.validate_titles(titles, symbol_list, validity, edges)
    w = {r["symbol"]: r["validation_warnings"] for r in out.collect()}
    # '123': bad format, in list (yes), status ACTIVE? no validity row ->
    # list status ACTIVE (published); hierarchy missing.
    assert w["123"] == [V.WARN_BAD_FORMAT, V.WARN_NO_HIERARCHY]


def test_strict_gate(spark):
    titles, symbol_list, validity, edges = _pipeline_fixture(spark)
    final, bad = PL.run_pipeline(
        titles, symbol_list, validity, edges, version="202505", strict=True
    )
    # Z01B/123 (format), B22F (membership), C07D (INACTIVE) fail the
    # main-loop gate; D01F passes it — a missing hierarchy edge only
    # warns, it does not invalidate (reference main.py:79-83).
    assert final is None
    assert bad.count() == 4

    clean = titles.filter(F.col("symbol") == "A01B")
    final2, bad2 = PL.run_pipeline(
        clean, symbol_list, validity, edges, version="202505", strict=True
    )
    assert final2 is not None
    row = final2.collect()[0]
    assert row["cpc_schema_date"] == "202505"
    assert bad2.count() == 0


def test_strict_gate_probe_failure_releases_bad(spark):
    """If the gate's probe action fails, ``bad`` is not left cached."""
    titles, symbol_list, validity, edges = _pipeline_fixture(spark)
    broken = titles.withColumn(
        "title", F.raise_error(F.concat(F.lit("unreadable "), F.col("symbol")))
    )
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="unreadable"):
        PL.run_pipeline(broken, symbol_list, validity, edges, "202505", strict=True)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_symbol_lookup_membership_precedence_and_repeats(spark):
    """One row per symbol: listed-ness from the symbol list alone; the
    validity file's status wins whenever it has a row for the symbol;
    repeated rows in either file keep the greatest status."""
    symbol_list = spark.createDataFrame(
        [("A01B", "published"), ("A01B", "retired"), ("C07D", "published"),
         ("D01F", "frozen")],
        "symbol string, status string",
    )
    validity = spark.createDataFrame(
        [("C07D", "2010-01-01", ""), ("C07D", "2010-01-01", "2015-01-01"),
         ("E01F", "2010-01-01", "")],
        "symbol string, valid_from string, valid_to string",
    )
    got = {
        r["symbol"]: (r["__in_list"], r["status"])
        for r in PL.symbol_lookup(symbol_list, validity).collect()
    }
    assert got == {
        "A01B": (True, "retired"),    # max("ACTIVE", "retired")
        "C07D": (True, "INACTIVE"),   # validity wins; max of its rows
        "D01F": (True, "frozen"),     # no validity row: list status
        "E01F": (False, "ACTIVE"),    # validity only: not listed
    }


def test_lookup_with_default_stored_null_returned(spark):
    """dict.get(k, default) returns a STORED None when the key exists;
    only truly-absent keys get the default."""
    from etl_cpc_schema_spark.operators.lookups import lookup_with_default

    big = spark.createDataFrame([("A",), ("B",), ("Z",)], "k string")
    lk = spark.createDataFrame([("A", None), ("B", "vb")], "k string, v string")
    got = {
        r["k"]: r["v"]
        for r in lookup_with_default(big, lk, "k", "v", default="DFLT").collect()
    }
    assert got == {"A": None, "B": "vb", "Z": "DFLT"}
