"""How ``session.get_spark`` launches the driver JVM, checked without a
JVM: the conf it builds, the env parsing, and the choice between
writing, using and skipping the class-data-sharing archive."""

from __future__ import annotations

import logging
import os
import sys
import time
import types

import pytest

from etl_cpc_schema_spark import session as sess

#: bytes that start like a JDK dynamic archive
ARCHIVE = sess._CDS_DYNAMIC_MAGIC.to_bytes(4, sys.byteorder) + b"archive"


@pytest.fixture()
def launch_env(tmp_path):
    """A fake JDK 17 and Spark home, and a cache under ``tmp_path``."""
    jdk = tmp_path / "jdk"
    (jdk / "lib" / "server").mkdir(parents=True)
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    environ = {"JAVA_HOME": str(jdk), "XDG_CACHE_HOME": str(tmp_path / "cache")}
    return environ, home


def test_missing_archive_is_written_then_used(launch_env, tmp_path):
    environ, home = launch_env
    cds = tmp_path / "cache" / "etl_cpc_schema_spark" / "cds"

    # a fresh cache: launch as without an archive and leave a mark
    first = sess.jvm_launch(environ, home, jvm_up=False, heap="8g")
    assert first == sess.JvmLaunch(mark=first.mark)
    assert first.mark.parent == cds and first.mark.suffix == ".seen"
    assert sess._prepare_cache(first) == first
    assert first.mark.is_file()

    # the mark outlived its process: this launch writes the archive
    second = sess.jvm_launch(environ, home, jvm_up=False, heap="8g")
    tmp, archive = second.dump
    assert second.java_options == f"-XX:ArchiveClassesAtExit={tmp} {sess.CDS_DUMP}"
    assert second.env == {"SPARK_CONF_DIR": str(cds / "conf")}
    assert second.mark is None
    assert archive.parent == tmp.parent == cds
    assert archive.suffix == ".jsa" and tmp.suffix != ".jsa"
    assert archive.stem == first.mark.stem

    archive.write_bytes(ARCHIVE)
    third = sess.jvm_launch(environ, home, jvm_up=False, heap="8g")
    assert third.java_options == f"-XX:SharedArchiveFile={archive} {sess.CDS_USE}"
    assert third.env == second.env
    assert third.dump is None and third.mark is None


def test_corrupt_archive_is_rewritten_not_used(launch_env, tmp_path):
    """A file at the archive's path that does not start with the
    dynamic-archive magic counts as missing: with the mark present the
    launch writes a new archive, which replaces the bad file at exit."""
    environ, home = launch_env
    mark = sess.jvm_launch(environ, home, jvm_up=False, heap="8g").mark
    archive = mark.with_suffix(".jsa")
    mark.parent.mkdir(parents=True)
    mark.touch()
    for garbage in (b"", b"\xf0", b"not an archive" * 100, ARCHIVE[::-1]):
        archive.write_bytes(garbage)
        launch = sess.jvm_launch(environ, home, jvm_up=False, heap="8g")
        assert launch.java_options.startswith("-XX:ArchiveClassesAtExit="), garbage
        assert launch.dump[1] == archive


def test_archive_key_follows_heap_and_jar_set(launch_env):
    environ, home = launch_env

    def archive(heap="8g"):
        return sess.jvm_launch(environ, home, jvm_up=False, heap=heap).mark

    key = archive()
    assert archive() == key
    assert archive("4g") != key  # the heap decides the compressed-oops mode
    (home / "jars" / "spark-sql.jar").write_bytes(b"jar")
    assert archive() != key


def _real_defaults(environ, home):
    (home / "conf" / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    return environ


def _cache_not_writable(environ, home):
    blocker = home / "not-a-dir"  # a file: nothing can be created below it
    blocker.write_text("")
    return {**environ, "XDG_CACHE_HOME": str(blocker)}


def _old_jdk(environ, home):
    release = os.path.join(environ["JAVA_HOME"], "release")
    with open(release, "w") as f:
        f.write('JAVA_VERSION="11.0.2"\n')
    return environ


@pytest.mark.parametrize(
    "make, jvm_up",
    [
        (_real_defaults, False),
        (_cache_not_writable, False),
        (lambda environ, home: environ, True),  # a SparkContext is active
        (_old_jdk, False),
        (lambda environ, home: {**environ, "HADOOP_CONF_DIR": str(home)}, False),
    ],
    ids=["spark-defaults.conf", "cache-not-writable", "jvm-up", "jdk-11", "hadoop-conf"],
)
def test_launch_as_without_archive(launch_env, make, jvm_up):
    environ, home = launch_env
    launch = sess.jvm_launch(make(environ, home), home, jvm_up=jvm_up, heap="8g")
    assert launch == sess.JvmLaunch()
    assert launch.java_options == "" and "SPARK_CONF_DIR" not in launch.env


def test_every_launch_that_uses_the_cache_sweeps_orphans(launch_env, tmp_path):
    """A process killed without its exit hooks leaves its temporary
    archive behind; any later launch that uses the cache removes it once
    it is an hour old, also when the archive itself is present."""
    environ, home = launch_env
    cds = tmp_path / "cache" / "etl_cpc_schema_spark" / "cds"
    mark = sess.jvm_launch(environ, home, jvm_up=False, heap="8g").mark
    archive = mark.with_suffix(".jsa")
    cds.mkdir(parents=True)
    archive.write_bytes(ARCHIVE)
    old, new = cds / "k.1.tmp", cds / "k.2.tmp"
    for f in (old, new):
        f.write_bytes(b"partial")
    hour_ago = time.time() - sess._ORPHAN_AGE_S - 60
    os.utime(old, (hour_ago, hour_ago))
    launch = sess.jvm_launch(environ, home, jvm_up=False, heap="8g")
    assert launch.java_options.startswith("-XX:SharedArchiveFile=")
    assert sess._prepare_cache(launch) == launch
    assert not old.exists() and new.exists() and archive.exists()


def test_caller_and_program_java_options_both_reach_the_conf():
    caller = "-Xlog:gc:file=/w/gc.log -Djava.io.tmpdir=/w/tmp"
    conf = sess.session_conf(
        "app", 4, 4, {sess.JAVA_OPTIONS: caller, "spark.local.dir": "/w/local"}
    )
    ours = f"-XX:SharedArchiveFile=/c/k.jsa {sess.CDS_USE}"
    built = sess.append_java_options(conf, ours)
    assert built[sess.JAVA_OPTIONS] == f"{caller} {ours}"
    assert built["spark.local.dir"] == "/w/local"
    assert built["spark.master"] == "local[4]"
    assert sess.append_java_options(conf, "") == conf
    alone = sess.session_conf("app", 4, 4)
    assert sess.append_java_options(alone, ours)[sess.JAVA_OPTIONS] == ours


@pytest.mark.parametrize(
    "raw, want, warns",
    [
        (None, 32, False),
        ("6", 6, False),
        (" 6 ", 6, False),
        ("abc", 32, True),
        ("", 32, True),
        ("0", 32, True),
        ("-2", 32, True),
    ],
)
def test_default_cpus_falls_back_on_bad_values(monkeypatch, caplog, raw, want, warns):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with caplog.at_level(logging.WARNING, logger=sess.__name__):
        assert sess.default_cpus() == want
    assert len(caplog.records) == int(warns)


@pytest.mark.parametrize(
    "raw, want, warns",
    [
        (None, "8g", False),
        ("8G", "8g", False),
        (" 512m ", "512m", False),
        ("04g", "4g", False),
        ("abc", "8g", True),
        ("", "8g", True),
        ("0g", "8g", True),
        ("8gb", "8g", True),  # the JVM's -Xmx takes no "b"
        ("512", "8g", True),  # -Xmx512 would be 512 bytes
    ],
)
def test_driver_memory_falls_back_on_bad_values(monkeypatch, caplog, raw, want, warns):
    if raw is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
    with caplog.at_level(logging.WARNING, logger=sess.__name__):
        assert sess.driver_memory() == want
    assert len(caplog.records) == int(warns)


class _Proc:
    def __init__(self, rc):
        self.rc, self.stdin = rc, open(os.devnull, "w")

    def wait(self, timeout):
        return self.rc


@pytest.mark.parametrize("rc, published", [(0, True), (1, False), (-9, False)])
def test_archive_is_published_only_after_a_clean_exit(
    monkeypatch, tmp_path, rc, published
):
    hooks = []
    monkeypatch.setattr(sess.atexit, "register", hooks.append)
    tmp, archive = tmp_path / "k.123.tmp", tmp_path / "k.jsa"
    tmp.write_bytes(b"written at exit")
    proc = _Proc(rc)
    sess._publish_at_exit(types.SimpleNamespace(proc=proc), tmp, archive)
    (publish,) = hooks
    publish()
    assert proc.stdin.closed  # the JVM exits when its stdin closes
    assert not tmp.exists()
    assert archive.exists() == published
