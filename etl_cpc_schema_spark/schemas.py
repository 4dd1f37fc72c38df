"""Schema contracts for the CPC engine tables (SURVEY.md §1.4).

The reference pins its output schema by select+cast
(reference parser.py:99-108) and its tests assert exact dtypes
(reference test_parser.py:99-105).  The engine does the same with
explicit ``StructType``s — no inference anywhere on contract tables.

``level`` is semantically an integer rank; the reference stores Float64
only because Polars needs a null-capable uniform dtype (reference
parser.py:102).  We keep nullable ``IntegerType``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# CPC pipeline contract tables
# ---------------------------------------------------------------------------

#: Parsed titles table (reference parser.py:99-108).
CPC_TITLES = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("title", T.StringType(), False),
        T.StructField("section", T.StringType(), True),
        T.StructField("class", T.StringType(), True),
        T.StructField("subclass", T.StringType(), True),
    ]
)

#: Final enriched output (reference main.py:114-119, README.md:45-49).
CPC_SCHEMA_FINAL = T.StructType(
    list(CPC_TITLES.fields)
    + [T.StructField("cpc_schema_date", T.StringType(), False)]
)

#: Download manifest (reference downloader.py:113-124) — control plane.
DOWNLOAD_MANIFEST = T.StructType(
    [
        T.StructField("href", T.StringType(), False),
        T.StructField("label", T.StringType(), True),
    ]
)


def assert_schema(df: DataFrame, expected: T.StructType) -> None:
    """Raise if ``df`` does not match the contract (names + types in order).

    Nullability is advisory in Spark (parquet round-trips can flip it),
    so we compare names and dataTypes only — the Spark analog of the
    reference's dtype assertions (test_parser.py:99-105).
    """
    actual = [(f.name, f.dataType) for f in df.schema.fields]
    wanted = [(f.name, f.dataType) for f in expected.fields]
    if actual != wanted:
        raise AssertionError(f"schema mismatch:\n  actual={actual}\n  wanted={wanted}")
