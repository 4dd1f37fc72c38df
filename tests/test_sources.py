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
    zp = _make_zip(
        tmp_path / "CPCTitleList202505.zip",
        {
            "cpc-section-A.txt": "A HUMAN NECESSITIES\nA01B1/00 0 Hand tools\n",
            "readme.txt": "ignore me\n",
        },
    )
    df = R.read_zip_members(spark, zp, member_prefix="cpc-section-")
    rows = df.collect()
    names = {r["file_name"] for r in rows}
    assert names == {"cpc-section-A.txt"}
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


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    from etl_cpc_schema_spark.sources.readers import compact_parquet

    src = str(tmp_path / "scattered")
    dest = str(tmp_path / "compacted")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.repartition(16).write.parquet(src)
    import pathlib

    assert sum(1 for _ in pathlib.Path(src).glob("*.parquet")) == 16
    n_files = compact_parquet(spark, src, dest, target_files=2)
    assert n_files == 2
    # rows unchanged (round-robin repartition moves, never drops)
    assert spark.read.parquet(dest).count() == orders.count()


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


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    """JSONL (the LLM-corpus interchange format) round-trips the
    documents table bit-exactly under an explicit schema, and corrupt
    lines are quarantined, not fatal."""
    from etl_cpc_schema_spark.sources.readers import read_jsonl, write_jsonl

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dest = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, dest)
    back = read_jsonl(
        spark,
        dest,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).cache()  # Spark disallows querying ONLY _corrupt_record from raw JSON
    assert back.filter("_corrupt_record is not null").count() == 0
    a = sorted(docs.collect(), key=lambda r: r["doc_id"])
    b = sorted(
        back.drop("_corrupt_record").collect(), key=lambda r: r["doc_id"]
    )
    assert a == b

    # corrupt line → quarantined row, clean rows unaffected (fresh
    # copy: appending to files Spark has already listed trips its
    # modified-file detection, a different failure mode)
    import pathlib
    import shutil

    dest2 = str(tmp_path / "docs_jsonl_corrupt")
    shutil.copytree(dest, dest2)
    for crc in pathlib.Path(dest2).glob(".*.crc"):
        crc.unlink()  # stale Hadoop checksums would fail the read
    part = next(pathlib.Path(dest2).glob("part-*.json"))
    with open(part, "a") as fh:
        fh.write('{"doc_id": "not-a-number", "text": 3\n')
    back2 = read_jsonl(
        spark,
        dest2,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).cache()
    assert back2.filter("_corrupt_record is not null").count() == 1
    assert back2.filter("_corrupt_record is null").count() == len(a)


def test_orc_roundtrip_documents(spark, sf_dir, tmp_path):
    """ORC (the Hive-ecosystem columnar format) round-trips the
    documents table bit-exactly, with the explicit-schema contract
    pinned and predicate pushdown reaching the ORC scan."""
    from etl_cpc_schema_spark.sources.readers import read_orc, write_orc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dest = str(tmp_path / "docs_orc")
    write_orc(docs, dest)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    back = read_orc(spark, dest, schema)
    assert sorted(docs.collect(), key=lambda r: r["doc_id"]) == sorted(
        back.collect(), key=lambda r: r["doc_id"]
    )
    # pushdown reaches the ORC scan (PushedFilters in the physical plan)
    plan = (
        back.filter("doc_id = 7")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]" in plan
    # mode defaults to error-on-exists: no silent clobber
    import pytest as _pytest

    with _pytest.raises(Exception, match="already exists"):
        write_orc(docs, dest)


def test_cpczip_datasource_matches_reader_and_splits_per_member(spark, tmp_path):
    """The Python DataSource (spark.read.format('cpczip')) must emit
    the exact rows read_zip_members does AND plan one input partition
    per zip MEMBER (binaryFile parallelizes per archive — the fat-zip
    shape the reference downloader produces would serialize there)."""
    from etl_cpc_schema_spark.sources import pydatasource as P

    _make_zip(
        tmp_path / "CPCTitleList202505.zip",
        {
            "cpc-section-A.txt": "A HUMAN NECESSITIES\nA01B1/00 0 Hand tools\n",
            "cpc-section-B.txt": "B PERFORMING OPERATIONS\n",
            "readme.txt": "ignore me\n",
        },
    )
    _make_zip(
        tmp_path / "CPCTitleList202508.zip",
        {"cpc-section-C.txt": "C CHEMISTRY\n"},
    )
    (tmp_path / "not_a_zip.zip").write_bytes(b"truncated garbage")

    P.register(spark)
    df = (
        spark.read.format("cpczip")
        .option("member_prefix", "cpc-section-")
        .load(str(tmp_path / "*.zip"))
    )
    got = {(r["file_name"], r["line"]) for r in df.collect()}
    ref = R.read_zip_members(
        spark, str(tmp_path / "*.zip"), member_prefix="cpc-section-"
    )
    want = {(r["file_name"], r["line"]) for r in ref.collect()}
    assert got == want and len(got) == 4
    # one partition per filtered member (3), not per archive (2)
    assert df.rdd.getNumPartitions() == 3
    # source_file stays collision-proof: archive!member
    assert all("!" in r["source_file"] for r in df.collect())


def test_cpczip_datasource_empty_match(spark, tmp_path):
    from etl_cpc_schema_spark.sources import pydatasource as P

    P.register(spark)
    df = spark.read.format("cpczip").load(str(tmp_path / "nothing-*.zip"))
    assert df.count() == 0
    assert df.columns == ["file_name", "source_file", "line"]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """read_parquet_evolved unions schema generations: v2's new column
    is present and NULL-filled for v1 rows, and every row from both
    generations survives."""
    base = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(1, "A01B"), (2, "B22F")], "id bigint, symbol string"
    ).write.parquet(base + "/g=1")
    spark.createDataFrame(
        [(3, "C07D", "ACTIVE")], "id bigint, symbol string, status string"
    ).write.parquet(base + "/g=2")

    df = R.read_parquet_evolved(spark, base)
    rows = {r["id"]: (r["symbol"], r["status"]) for r in df.collect()}
    assert set(df.columns) >= {"id", "symbol", "status"}
    assert rows[1] == ("A01B", None) and rows[3] == ("C07D", "ACTIVE")
    assert len(rows) == 3


def test_compact_parquet_inplace_rename_swap_crash_states(spark, tmp_path):
    """The round-10 rename-only swap: the live dir is never the
    target of a recursive delete while it is the only complete copy,
    and every crash state converges on the next run — including the
    mid-rename window (.old + stage, no live) and the legacy round-9
    delete->rename window (stage only)."""
    import os
    import shutil

    main = str(tmp_path / "t.parquet")
    df = spark.range(100).selectExpr("id", "id % 7 AS v")
    for _ in range(3):
        df.write.mode("append").parquet(main)

    def nfiles():
        return sum(1 for f in os.listdir(main) if f.endswith(".parquet"))

    def rows():
        return sorted(
            tuple(r) for r in spark.read.parquet(main).collect()
        )

    before = rows()
    assert nfiles() >= 3
    assert R.compact_parquet_inplace(spark, main) == 300
    assert nfiles() == 1 and rows() == before

    # pre-swap crash: a stale stage beside the live dir is discarded
    shutil.copytree(main, main + ".compacting")
    assert R.compact_parquet_inplace(spark, main) == 300
    assert rows() == before and not os.path.exists(main + ".compacting")

    # crash between the two renames: .old + complete stage, no live
    shutil.copytree(main, main + ".compacting")
    os.rename(main, main + ".old")
    assert R.compact_parquet_inplace(spark, main) == 300
    assert rows() == before
    assert not os.path.exists(main + ".old")

    # crash after the swap, before cleanup: .old beside the live dir
    shutil.copytree(main, main + ".old")
    assert R.compact_parquet_inplace(spark, main) == 300
    assert rows() == before and not os.path.exists(main + ".old")

    # legacy round-9 window: live dir gone, completed stage present
    os.rename(main, main + ".compacting")
    assert R.compact_parquet_inplace(spark, main) == 300
    assert rows() == before and nfiles() == 1

    # dedupe folds repeated value rows (value-set tables)
    df.write.mode("append").parquet(main)
    assert R.compact_parquet_inplace(spark, main, dedupe=True) == 100
