"""Parity tests for the line/symbol parser expressions.

Mirrors the reference's unit cases (reference test_parser.py:25-79,
145-203) plus the FIXTURES.md §1 edge rows.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_cpc_schema_spark.functions import parsing as P
from etl_cpc_schema_spark.schemas import CPC_TITLES, assert_schema


def _parse(spark, lines):
    df = spark.createDataFrame([Row(line=x) for x in lines], "line string")
    return {
        r["symbol"]: r.asDict()
        for r in P.parse_title_lines(df).collect()
    }


def test_parse_line_with_level(spark):
    rows = _parse(spark, ["A01B1/00 0 Hand tools"])
    assert rows["A01B1/00"] == {
        "symbol": "A01B1/00",
        "level": 0,
        "title": "Hand tools",
        "section": "A",
        "class": "A01",
        "subclass": "A01B",
    }


def test_parse_line_semicolons_and_parens(spark):
    rows = _parse(
        spark,
        [
            "A01B1/02 1 Spades; Shovels; Hoes",
            "A01B1/00 0 Hand tools (edge trimmers for lawns A01G3/06)",
        ],
    )
    assert rows["A01B1/02"]["title"] == "Spades; Shovels; Hoes"
    assert rows["A01B1/02"]["level"] == 1
    assert (
        rows["A01B1/00"]["title"] == "Hand tools (edge trimmers for lawns A01G3/06)"
    )


def test_section_row_without_level(spark):
    rows = _parse(spark, ["A HUMAN NECESSITIES"])
    assert rows["A"] == {
        "symbol": "A",
        "level": None,
        "title": "HUMAN NECESSITIES",
        "section": "A",
        "class": None,
        "subclass": None,
    }


def test_y_section_edge_case(spark):
    # reference test_parser.py:198-203
    rows = _parse(spark, ["Y02E REDUCTION OF GHG"])
    assert rows["Y02E"]["section"] == "Y"
    assert rows["Y02E"]["class"] == "Y02"
    assert rows["Y02E"]["subclass"] == "Y02E"


def test_drops_blank_and_invalid_lines(spark):
    # reference test_parser.py:76-79: "" and "Invalid Line" -> None
    rows = _parse(spark, ["", "   ", "Invalid Line", "A01 1 Soil working"])
    assert set(rows) == {"A01"}


def test_numeric_symbol_kept_with_null_components(spark):
    # parse_line("123 garbage") DOES return a record in the reference
    # (pattern 2 matches); parse_symbol guard nulls the components
    # (reference parser.py:22).
    rows = _parse(spark, ["123 garbage"])
    assert rows["123"] == {
        "symbol": "123",
        "level": None,
        "title": "garbage",
        "section": None,
        "class": None,
        "subclass": None,
    }


def test_symbol_component_expressions(spark):
    df = spark.createDataFrame(
        [("A01B1/00",), ("Y02E",), ("123",), ("",), ("A01",)], "symbol string"
    ).select(
        "symbol",
        P.symbol_section(F.col("symbol")).alias("section"),
        P.symbol_class(F.col("symbol")).alias("cls"),
        P.symbol_subclass(F.col("symbol")).alias("subclass"),
    )
    got = {r["symbol"]: r.asDict() for r in df.collect()}
    assert got["A01B1/00"] == {
        "symbol": "A01B1/00",
        "section": "A",
        "cls": "A01",
        "subclass": "A01B",
    }
    assert got["123"] == {
        "symbol": "123",
        "section": None,
        "cls": None,
        "subclass": None,
    }
    assert got[""]["section"] is None
    assert got["A01"]["subclass"] is None


def test_level_too_large_for_int_keeps_row_with_null_level(spark):
    # the reference keeps any digit run as the level; INT cannot, and an
    # ANSI cast would fail the whole job over one raw-zone line
    rows = _parse(spark, ["A01B 99999999999 Big level", "A01C 2 Small level"])
    assert rows["A01B"]["level"] is None
    assert rows["A01B"]["title"] == "Big level"
    assert rows["A01C"]["level"] == 2


def test_output_schema_contract(spark):
    # Spark analog of reference test_parser.py:99-105 dtype assertions.
    df = spark.createDataFrame([Row(line="A01B1/00 0 Hand tools")], "line string")
    assert_schema(P.parse_title_lines(df), CPC_TITLES)
