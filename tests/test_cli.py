"""End-to-end CPC pipeline test through the CLI surface, on synthetic
zip fixtures shaped per FIXTURES.md (the reference's missing
integration fixture, reconstructed)."""

from __future__ import annotations

import zipfile

import pytest

from etl_cpc_schema_spark import cli
from etl_cpc_schema_spark.sources import readers as R


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_run_clean_pipeline(spark, raw_zone, tmp_path):
    raw, v = raw_zone
    out = tmp_path / "out"
    rc = cli.main(
        ["run", "--data-dir", str(raw), "--out-dir", str(out), "--version", v]
    )
    assert rc == 0
    final = spark.read.parquet(str(out / "cpc_schema_final.parquet"))
    rows = {r["symbol"]: r.asDict() for r in final.collect()}
    # 'A' section row + A01 + A01B parse; junk/blank lines dropped.
    assert set(rows) == {"A", "A01", "A01B"}
    assert rows["A01B"]["cpc_schema_date"] == v
    assert rows["A01B"]["section"] == "A"
    assert rows["A01B"]["class"] == "A01"
    assert rows["A01B"]["subclass"] == "A01B"
    assert rows["A"]["level"] is None and rows["A01"]["level"] == 1


def test_cli_strict_gate_blocks_dirty_data(spark, raw_zone, tmp_path):
    raw, v = raw_zone
    spark.catalog.clearCache()
    # Poison the symbol list: drop A01B membership -> validation fails.
    (raw / f"CPCSymbolList{v}.zip").unlink()
    with zipfile.ZipFile(raw / f"CPCSymbolList{v}.zip", "w") as zf:
        zf.writestr(
            f"CPCSymbolList{v}.csv",
            "symbol,c1,c2,c3,c4,c5,status\nA,x,x,x,x,x,published\nA01,x,x,x,x,x,published\n",
        )
    out = tmp_path / "out2"
    rc = cli.main(
        ["run", "--data-dir", str(raw), "--out-dir", str(out), "--version", v]
    )
    assert rc == 1  # strict gate: no output written (reference main.py:101)
    assert not (out / "cpc_schema_final.parquet").exists()
    assert _cache_is_empty(spark)  # the gate's exit releases its caches

    # --force (the reference's broken flag, working here) writes anyway.
    rc = cli.main(
        ["run", "--data-dir", str(raw), "--out-dir", str(out), "--version", v, "--force"]
    )
    assert rc == 0
    assert spark.read.parquet(str(out / "cpc_schema_final.parquet")).count() == 3


def test_cli_run_releases_caches_when_a_sink_fails(spark, raw_zone, tmp_path, monkeypatch):
    """A scheduled loop calls ``cli.run`` in one session: a failed sink
    write must not leave the parsed titles or the invalid rows cached."""
    raw, v = raw_zone
    spark.catalog.clearCache()

    def boom(df, path, partition_by=None):
        raise OSError("disk full")

    monkeypatch.setattr(R, "write_parquet", boom)
    with pytest.raises(OSError, match="disk full"):
        cli.run(str(raw), v, str(tmp_path / "out"))
    assert _cache_is_empty(spark)
