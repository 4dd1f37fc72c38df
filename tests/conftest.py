from __future__ import annotations

import decimal
import math
import os
import zipfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from etl_cpc_schema_spark.session import get_spark  # noqa: E402

#: tables the DuckDB oracle connection registers (shared by every
#: oracle-parity suite and the contract-type gate)
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="session", autouse=True)
def _cds_cache(tmp_path_factory):
    """Keep the driver JVM's class-data-sharing cache (session.py) in a
    directory of this test run, never in the user's ~/.cache."""
    mp = pytest.MonkeyPatch()
    mp.setenv("XDG_CACHE_HOME", str(tmp_path_factory.mktemp("xdg-cache")))
    yield
    mp.undo()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="etl_cpc_schema_spark_tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


# --- shared oracle-comparison helpers ------------------------------------
#
# ONE copy of the driver-hash normalization semantics (scale-sensitive
# Decimal, NaN folding) — the parity suites must not drift apart.


def norm_value(v):
    if isinstance(v, decimal.Decimal):
        # no normalize(): scale differences must FAIL (round-1 lesson)
        return ("dec", str(v))
    if isinstance(v, float):
        return ("float", "nan") if math.isnan(v) else ("float", v)
    return v


def norm_rows(cols, data):
    """Column-name-sorted, order-insensitive normalized rows.

    Sorted via ``repr`` of the normalized tuple: a total order even for
    rows mixing None with ints (raw tuple comparison would raise
    TypeError instead of reporting the diff)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm_value(row[i]) for i in order) for row in data]
    return sorted(rows, key=repr)


@pytest.fixture()
def raw_zone(tmp_path):
    """Synthetic CPC raw zone (zip fixtures shaped per FIXTURES.md) —
    shared by the CLI e2e and scheduled-run suites."""
    raw = tmp_path / "raw"
    raw.mkdir()
    v = "202505"

    with zipfile.ZipFile(raw / f"CPCTitleList{v}.zip", "w") as zf:
        zf.writestr(
            "cpc-section-A.txt",
            "A HUMAN NECESSITIES\n"
            "A01 1 AGRICULTURE\n"
            "A01B 1 SOIL WORKING\n"
            "\n"
            "lowercase junk line\n",
        )
        zf.writestr("readme.txt", "not a section file\n")

    with zipfile.ZipFile(raw / f"CPCSymbolList{v}.zip", "w") as zf:
        zf.writestr(
            f"CPCSymbolList{v}.csv",
            "symbol,c1,c2,c3,c4,c5,status\n"
            "A,x,x,x,x,x,published\n"
            "A01,x,x,x,x,x,published\n"
            "A01B,x,x,x,x,x,published\n",
        )

    with zipfile.ZipFile(raw / f"CPCValidityFile{v}.zip", "w") as zf:
        zf.writestr(
            f"CPCValidityFile{v}.txt",
            "symbol\tvalid_from\tvalid_to\n"
            "A\t2020-01-01\t\n"
            "A01\t2020-01-01\t\n"
            "A01B\t2020-01-01\t\n",
        )

    with zipfile.ZipFile(raw / f"CPCSchemeXML{v}.zip", "w") as zf:
        zf.writestr(
            f"cpc-scheme-{v}.xml",
            "<classification-item><classification-symbol>A</classification-symbol>"
            "<classification-item><classification-symbol>A01</classification-symbol>"
            "<classification-item><classification-symbol>A01B</classification-symbol>"
            "</classification-item></classification-item></classification-item>",
        )
    return raw, v
