"""CPC scheme XML → (symbol, parent) edge extraction.

Spark mapping of the reference's recursive XML walk (reference
validator.py:135-174): a ``binaryFile`` scan over the XML members plus
a ``mapInPandas`` recursive-descent extractor.  Parse errors are
tolerated per-file (validator.py:155-157) — a bad file contributes no
edges instead of failing the job (PERMISSIVE semantics).

A scanned file is never split across tasks, so with ``from_zip=True``
all XML members of one archive are parsed by one task.  The output is
a dimension-sized edge table that downstream joins broadcast.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_EDGES_SCHEMA = "symbol string, parent string"


def read_scheme_edges(
    spark: SparkSession, path: str, from_zip: bool = False
) -> DataFrame:
    """(symbol, parent) edges from XML files (or XML members of zips)."""
    bin_df = spark.read.format("binaryFile").load(path)

    # Self-contained closure (stdlib imports inside, no module-level
    # references): Spark pickles module functions by reference and
    # executors don't see the driver's sys.path, so the extractor must
    # carry its own recursion.  ``walk`` reproduces reference
    # validator.py:161-174: the nearest enclosing item's symbol becomes
    # the parent of each nested symbol.
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io as _io
        import xml.etree.ElementTree as _ET
        import zipfile as _zipfile

        import pandas as _pd

        def walk(element, parent, out):
            symbol_elem = element.find("classification-symbol")
            if symbol_elem is not None and symbol_elem.text:
                symbol = "".join(symbol_elem.text.split())
                out.append((symbol, parent))
                parent = symbol
            for child in element.findall("classification-item"):
                walk(child, parent, out)

        def edges_of(content: bytes):
            out: list[tuple[str, str | None]] = []
            try:
                root = _ET.parse(_io.BytesIO(content)).getroot()
            except _ET.ParseError:
                return out  # per-file tolerance (validator.py:155-157)
            walk(root, None, out)
            return out

        for pdf in batches:
            rows: list[tuple[str, str | None]] = []
            for content in pdf["content"]:
                if from_zip:
                    try:
                        zf = _zipfile.ZipFile(_io.BytesIO(content))
                    except _zipfile.BadZipFile:
                        continue  # same per-file tolerance as ParseError
                    with zf:
                        for member in zf.namelist():
                            if member.endswith(".xml"):
                                rows.extend(edges_of(zf.read(member)))
                else:
                    rows.extend(edges_of(content))
            yield _pd.DataFrame(rows, columns=["symbol", "parent"])

    return bin_df.select("content").mapInPandas(extract, _EDGES_SCHEMA)
