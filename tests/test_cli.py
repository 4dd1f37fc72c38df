"""End-to-end CPC pipeline test through the CLI surface, on synthetic
zip fixtures shaped per FIXTURES.md (the reference's missing
integration fixture, reconstructed)."""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.find_spark_home import _find_spark_home

from etl_cpc_schema_spark import cli
from etl_cpc_schema_spark import session as sess
from etl_cpc_schema_spark.schemas import CPC_SCHEMA_FINAL, assert_schema
from etl_cpc_schema_spark.sources import readers as R


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_run_clean_pipeline(spark, raw_zone, tmp_path, capsys):
    raw, v = raw_zone
    out = tmp_path / "out"
    rc = cli.main(
        ["run", "--data-dir", str(raw), "--out-dir", str(out), "--version", v]
    )
    assert rc == 0
    final = spark.read.parquet(str(out / "cpc_schema_final.parquet"))
    assert_schema(final, CPC_SCHEMA_FINAL)
    rows = {r["symbol"]: r.asDict() for r in final.collect()}
    # 'A' section row + A01 + A01B parse; junk/blank lines dropped.
    assert set(rows) == {"A", "A01", "A01B"}
    assert rows["A01B"]["cpc_schema_date"] == v
    assert rows["A01B"]["section"] == "A"
    assert rows["A01B"]["class"] == "A01"
    assert rows["A01B"]["subclass"] == "A01B"
    assert rows["A"]["level"] is None and rows["A01"]["level"] == 1
    # the printed count comes from an Observation on the parquet write
    printed = re.search(r"^wrote (\d+) rows to ", capsys.readouterr().out, re.M)
    assert printed and int(printed.group(1)) == final.count()


def _unlist_a01b(raw, v) -> None:
    """Poison the symbol list: drop A01B membership, so one title row
    fails validation."""
    (raw / f"CPCSymbolList{v}.zip").unlink()
    with zipfile.ZipFile(raw / f"CPCSymbolList{v}.zip", "w") as zf:
        zf.writestr(
            f"CPCSymbolList{v}.csv",
            "symbol,c1,c2,c3,c4,c5,status\nA,x,x,x,x,x,published\nA01,x,x,x,x,x,published\n",
        )


def test_cli_strict_gate_blocks_dirty_data(spark, raw_zone, tmp_path, capsys):
    raw, v = raw_zone
    spark.catalog.clearCache()
    _unlist_a01b(raw, v)
    out = tmp_path / "out2"
    rc = cli.main(
        ["run", "--data-dir", str(raw), "--out-dir", str(out), "--version", v]
    )
    assert rc == 1  # strict gate: no output written (reference main.py:101)
    assert not (out / "cpc_schema_final.parquet").exists()
    assert _cache_is_empty(spark)  # the gate's exit releases its caches

    # --force (the reference's broken flag, working here) writes anyway.
    capsys.readouterr()
    rc = cli.main(
        ["run", "--data-dir", str(raw), "--out-dir", str(out), "--version", v, "--force"]
    )
    assert rc == 0
    assert spark.read.parquet(str(out / "cpc_schema_final.parquet")).count() == 3
    # the report and the sinks run concurrently; stdout is printed after
    # they join, so its order is fixed: header, at most 10 rows, count
    lines = capsys.readouterr().out.splitlines()
    header = re.fullmatch(r"(\d+) invalid symbols; first 10:", lines[0])
    assert header and int(header.group(1)) == 1
    shown = lines[1:-1]
    assert 1 <= len(shown) <= 10
    assert all(re.fullmatch(r"  \S+: .+", line) for line in shown)
    assert shown[0].startswith("  A01B: ")
    assert lines[-1] == f"wrote 3 rows to {out}"


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


def test_cli_run_releases_caches_when_only_the_csv_sink_fails(
    spark, raw_zone, tmp_path, monkeypatch
):
    """The sinks run concurrently: a failing CSV write surfaces its
    error, the parquet write beside it still completes, and both caches
    are released."""
    raw, v = raw_zone
    spark.catalog.clearCache()

    def boom(df, path):
        raise OSError("csv disk full")

    monkeypatch.setattr(R, "write_csv", boom)
    out = tmp_path / "out"
    with pytest.raises(OSError, match="csv disk full"):
        cli.run(str(raw), v, str(out))
    assert _cache_is_empty(spark)
    assert spark.read.parquet(str(out / "cpc_schema_final.parquet")).count() == 3


def test_read_release_reports_every_missing_archive(spark, raw_zone):
    """The four sources are planned concurrently: with two archives
    missing, the first in source order (validity) is raised and the
    other (scheme) rides on it as a note."""
    raw, v = raw_zone
    (raw / f"CPCValidityFile{v}.zip").unlink()
    (raw / f"CPCSchemeXML{v}.zip").unlink()
    with pytest.raises(AnalysisException) as info:
        cli.read_release(spark, str(raw), v)
    assert f"CPCValidityFile{v}.zip" in str(info.value)
    notes = getattr(info.value, "__notes__", [])
    assert len(notes) == 1 and f"CPCSchemeXML{v}.zip" in notes[0]


def test_cli_run_jobs_carry_the_callers_job_group(spark, raw_zone, tmp_path):
    """The report and the sinks run on helper threads, yet every job of
    the pass carries the job group set on the calling thread, so
    per-group accounting (status tracker, event-log rollups) sees it."""
    raw, v = raw_zone
    spark.catalog.clearCache()
    _unlist_a01b(raw, v)  # an invalid row, so the report collects
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    first = dag.numTotalJobs()  # job ids are handed out in sequence
    sc.setJobGroup("cpc", "cli.run job-group test")
    try:
        assert cli.run(str(raw), v, str(tmp_path / "out"), strict=False) == 0
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    pass_jobs = set(range(first, dag.numTotalJobs()))
    # at least the count, the first-10 collect and both writes
    assert len(pass_jobs) >= 4
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert pass_jobs <= set(sc.statusTracker().getJobIdsForGroup("cpc"))


def test_cli_force_output_is_the_same_whatever_the_cds_archive(raw_zone, tmp_path):
    """A fresh ``cli run --force`` process prints the same stdout, exits
    with the same code and writes the same rows whether the driver JVM's
    class-data-sharing cache is fresh (the run leaves a mark), holds the
    mark but no archive (the run writes it at exit), or holds an archive
    that is good, dumped with another conf directory, or garbage."""
    raw, v = raw_zone
    _unlist_a01b(raw, v)
    repo = Path(__file__).resolve().parent.parent
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(repo), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    env.pop("SPARK_CONF_DIR", None)

    def cds_dir(cache: Path) -> Path:
        return cache / "etl_cpc_schema_spark" / "cds"

    first = sess.jvm_launch(
        {**env, "XDG_CACHE_HOME": str(tmp_path / "a")},
        Path(_find_spark_home()), jvm_up=False, heap="1g",
    )
    if first.mark is None:
        pytest.skip("this environment launches the JVM without an archive")
    archive = first.mark.with_suffix(".jsa")

    def run(case: str, cache: Path) -> None:
        out = tmp_path / f"out-{case}"
        proc = subprocess.run(
            [sys.executable, "-m", "etl_cpc_schema_spark.cli", "run",
             "--data-dir", str(raw), "--out-dir", str(out), "--version", v, "--force"],
            env={**env, "XDG_CACHE_HOME": str(cache)},
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, (case, proc.stderr[-2000:])
        assert proc.stdout == (
            "1 invalid symbols; first 10:\n"
            "  A01B: ['Symbol not found in symbol list']\n"
            f"wrote 3 rows to {out}\n"
        ), case
        rows = pq.read_table(out / "cpc_schema_final.parquet").to_pylist()
        assert sorted(r["symbol"] for r in rows) == ["A", "A01", "A01B"], case

    def cached() -> set[str]:
        return {p.name for p in cds_dir(tmp_path / "a").iterdir()}

    run("fresh", tmp_path / "a")
    assert cached() == {first.mark.name, "conf"}
    run("missing", tmp_path / "a")
    # published under its key, and no temporary file is left behind
    assert cached() == {first.mark.name, archive.name, "conf"}
    run("present", tmp_path / "a")

    other = cds_dir(tmp_path / "b") / archive.name
    other.parent.mkdir(parents=True)
    shutil.copy(archive, other)  # dumped with a/.../conf on the classpath
    run("other-conf-dir", tmp_path / "b")
    other.unlink()

    archive.chmod(0o644)
    archive.write_bytes(b"not an archive" * 1000)
    run("garbage", tmp_path / "a")
