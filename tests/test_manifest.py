"""Control-plane tests (reference test_downloader.py semantics, offline)."""

from __future__ import annotations

from etl_cpc_schema_spark.sources import manifest as M

HTML = """
<html><body>
<a href="/files/CPCTitleList202401.zip">Titles Jan</a>
<a href="/files/CPCTitleList202503.zip">Titles Mar</a>
<a href="https://x.example/files/CPCSchemeXML202505.zip">Scheme <b>May</b></a>
<a href="/files/readme.html">Readme</a>
</body></html>
"""


def test_parse_links_and_versions(spark):
    links = M.parse_links(HTML)
    assert ("/files/readme.html", "Readme") in links
    m = M.manifest_df(spark, links)
    versions = [r["version"] for r in M.available_versions(m).collect()]
    assert versions == ["202401", "202503", "202505"]  # distinct + sorted


def test_files_for_version_absolute_urls(spark):
    m = M.manifest_df(spark, M.parse_links(HTML))
    files = {
        r["file_name"]: r["url"]
        for r in M.files_for_version(m, "202505", base_url="https://host").collect()
    }
    assert files == {
        "CPCSchemeXML202505.zip": "https://x.example/files/CPCSchemeXML202505.zip"
    }
    files2 = {
        r["file_name"]: r["url"]
        for r in M.files_for_version(m, "202401", base_url="https://host").collect()
    }
    assert files2 == {
        "CPCTitleList202401.zip": "https://host/files/CPCTitleList202401.zip"
    }


def test_version_watermark_anti_join(spark, tmp_path):
    m = M.manifest_df(spark, M.parse_links(HTML))
    wm = str(tmp_path / "processed.parquet")
    processed = M.load_processed(spark, wm)
    assert processed.count() == 0
    assert M.new_versions(m, processed).count() == 3

    M.record_processed(spark, wm, "202401")
    M.record_processed(spark, wm, "202503")
    processed = M.load_processed(spark, wm)
    new = [r["version"] for r in M.new_versions(m, processed).collect()]
    assert new == ["202505"]


def test_fetch_files_distributed_file_urls(spark, tmp_path):
    # file:// URLs let the executor-side fetch path run offline.
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.zip").write_bytes(b"AAA")
    (src / "b.zip").write_bytes(b"BBBB")
    files = spark.createDataFrame(
        [("a.zip", f"file://{src}/a.zip"), ("b.zip", f"file://{src}/b.zip")],
        "file_name string, url string",
    )
    dest = tmp_path / "raw"
    n = M.fetch_files_distributed(files, str(dest))
    assert n == 2
    assert (dest / "a.zip").read_bytes() == b"AAA"
    assert (dest / "b.zip").read_bytes() == b"BBBB"

    # idempotent re-run: cached files survive untouched
    (dest / "a.zip").write_bytes(b"CACHED")
    M.fetch_files_distributed(files, str(dest))
    assert (dest / "a.zip").read_bytes() == b"CACHED"
    # overwrite=True refreshes (the reference's broken --force, working)
    M.fetch_files_distributed(files, str(dest), overwrite=True)
    assert (dest / "a.zip").read_bytes() == b"AAA"

