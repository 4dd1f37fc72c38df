"""Tests for the format readers: zip member extraction, CSV/TSV quirks,
XML scheme edges, header skipping."""

from __future__ import annotations

import zipfile

from etl_cpc_schema_spark.sources import readers as R
from etl_cpc_schema_spark.sources import xml_scheme as X


def _make_zip(path, members: dict[str, str]):
    with zipfile.ZipFile(path, "w") as zf:
        for name, content in members.items():
            zf.writestr(name, content)
    return str(path)


def test_read_zip_members_with_prefix_filter(spark, tmp_path):
    _make_zip(
        tmp_path / "CPCTitleList202505.zip",
        {
            "cpc-section-A.txt": "A HUMAN NECESSITIES\nA01B1/00 0 Hand tools\n",
            "readme.txt": "ignore me\n",
        },
    )
    # a stray non-zip file in the matched glob is skipped, not fatal
    (tmp_path / "CPCTitleList202508.zip").write_bytes(b"truncated garbage")
    df = R.read_zip_members(
        spark, str(tmp_path / "*.zip"), member_prefix="cpc-section-"
    )
    rows = df.collect()
    names = {r["file_name"] for r in rows}
    assert names == {"cpc-section-A.txt"}
    assert {r["source_file"].split("/")[-1] for r in rows} == {
        "CPCTitleList202505.zip!cpc-section-A.txt"
    }
    assert sorted(r["line"] for r in rows) == [
        "A HUMAN NECESSITIES",
        "A01B1/00 0 Hand tools",
    ]


def test_symbol_list_csv_quirks(spark):
    # >6 fields -> last column is status; 'published' -> ACTIVE;
    # <=6 fields -> UNKNOWN; symbols whitespace-normalized.
    lines = spark.createDataFrame(
        [
            ("f.csv", "A01B   1/00,x,x,x,x,x,published"),
            ("f.csv", "B22F,x,x,x,x,x,retired"),
            ("f.csv", "C07D,x,x"),
            ("f.csv", ",x,x"),
        ],
        "file_name string, line string",
    )
    got = {
        r["symbol"]: r["status"]
        for r in R.parse_symbol_list_lines(lines).collect()
    }
    assert got == {"A01B1/00": "ACTIVE", "B22F": "retired", "C07D": "UNKNOWN"}


def test_validity_tsv_quirks(spark):
    lines = spark.createDataFrame(
        [
            ("v.txt", "A01B\t2020-01-01\t"),
            ("v.txt", "B 22F\t2020-01-01\t2021-01-01"),
            ("v.txt", "C07D\t"),       # <2 fields after split -> dropped? has 2
            ("v.txt", "onlyone"),      # dropped (len<2)
        ],
        "file_name string, line string",
    )
    rows = {r["symbol"]: r for r in R.parse_validity_lines(lines).collect()}
    assert rows["A01B"]["status"] == "ACTIVE"
    assert rows["B22F"]["status"] == "INACTIVE"  # whitespace-normalized key
    assert rows["C07D"]["status"] == "INACTIVE"  # empty valid_from
    assert "onlyone" not in rows


def test_drop_header_per_file(spark):
    lines = spark.createDataFrame(
        [("a.csv", "HEADER"), ("a.csv", "row1"), ("b.csv", "HEADER"), ("b.csv", "row2")],
        "file_name string, line string",
    )
    got = sorted(r["line"] for r in R.drop_header_per_file(lines).collect())
    assert got == ["row1", "row2"]


def test_zip_skip_header_matches_drop_header_per_file(spark, tmp_path):
    """Dropping headers in the extractor gives the rows the two-scan
    ``drop_header_per_file`` gives, member by member and archive by
    archive."""
    members = {
        "data.csv": "h1,h2\nA,1\nB,2\n",
        "sub/data.csv": "h1,h2\r\nC,3\r\nD,4",  # same basename, CRLF
        "header_only.csv": "h1,h2\n",
        "empty.csv": "",
        "blank_first.csv": "\nE,5\n",
    }
    _make_zip(tmp_path / "a.zip", members)
    _make_zip(tmp_path / "b.zip", {"data.csv": "h1,h2\nF,6\n"})
    path = str(tmp_path)

    def rows(df):
        return sorted(df.select("file_name", "source_file", "line").collect())

    want = rows(R.drop_header_per_file(
        R.read_zip_members(spark, path, member_suffix=".csv")
    ))
    got = rows(R.read_zip_members(spark, path, member_suffix=".csv", skip_header=True))
    assert got == want
    assert sorted(r[2] for r in got) == ["A,1", "B,2", "C,3", "D,4", "E,5", "F,6"]


def test_xml_scheme_edges(spark, tmp_path):
    xml = (
        "<classification-item><classification-symbol>A</classification-symbol>"
        "<classification-item><classification-symbol>A 01</classification-symbol>"
        "<classification-item><classification-symbol>A01B</classification-symbol>"
        "</classification-item></classification-item></classification-item>"
    )
    (tmp_path / "scheme.xml").write_text(xml)
    (tmp_path / "broken.xml").write_text("<unclosed>")  # tolerated per-file
    df = X.read_scheme_edges(spark, str(tmp_path / "*.xml"))
    got = {r["symbol"]: r["parent"] for r in df.collect()}
    # 'A 01' whitespace-normalized (reference validator.py:167)
    assert got == {"A": None, "A01": "A", "A01B": "A01"}


def test_xml_scheme_edges_from_zip_tolerates_bad_members(spark, tmp_path):
    """``from_zip=True`` (the path ``cli.run`` takes) keeps only the
    edges of well-formed XML members: a malformed XML member, a non-XML
    member and a matched file that is not a zip contribute nothing."""
    good = (
        "<classification-item><classification-symbol>B</classification-symbol>"
        "<classification-item><classification-symbol>B 21</classification-symbol>"
        "</classification-item></classification-item>"
    )
    _make_zip(
        tmp_path / "CPCSchemeXML202505.zip",
        {
            "scheme-B.xml": good,
            "scheme-C.xml": "<classification-item><classification-symbol>C",
            "notes.txt": (
                "<classification-item><classification-symbol>D"
                "</classification-symbol></classification-item>"
            ),
        },
    )
    (tmp_path / "CPCSchemeXML202508.zip").write_bytes(b"not a zip archive")
    df = X.read_scheme_edges(spark, str(tmp_path / "*.zip"), from_zip=True)
    got = sorted((r["symbol"], r["parent"]) for r in df.collect())
    assert got == [("B", None), ("B21", "B")]


def test_parquet_roundtrip(spark, tmp_path):
    # Spark analog of the reference's parquet roundtrip test
    # (test_parser.py:123-142).
    df = spark.createDataFrame(
        [("A01B1/00", 0, "Hand tools", "A", "A01", "A01B")],
        "symbol string, level int, title string, section string, class string, subclass string",
    )
    out = str(tmp_path / "titles.parquet")
    R.write_parquet(df, out)
    back = spark.read.parquet(out)
    assert back.count() == 1
    assert [f.name for f in back.schema.fields] == [
        "symbol", "level", "title", "section", "class", "subclass",
    ]


def test_schema_evolution_merge_read(spark, tmp_path):
    """Parquet schema evolution: parts written before/after a column was
    added read as one table under mergeSchema, old rows NULL-filled —
    the long-lived-dataset contract a 100 TB landing zone relies on."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id bigint, v string"
    ).write.parquet(base + "/part=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, v string, score double"
    ).write.parquet(base + "/part=2")

    merged = spark.read.option("mergeSchema", True).parquet(base)
    assert set(merged.columns) == {"id", "v", "score", "part"}
    rows = {r["id"]: r.asDict() for r in merged.collect()}
    assert rows[1]["score"] is None  # old rows NULL-fill the new column
    assert rows[2]["score"] == 9.5
