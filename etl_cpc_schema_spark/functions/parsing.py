"""CPC title-line and symbol parsing as native Column expressions.

Reproduces the reference's row-at-a-time parser (reference
parser.py:13-72) as vectorized, codegen-friendly expressions:

* ``parse_line`` semantics (parser.py:43-61): one pattern with an
  optional level group (``LINE``); blank lines and no-match lines drop.
* ``parse_symbol`` semantics (parser.py:13-41): positional
  decomposition into section / subsection(class) / group(subclass),
  with the all-digits guard (parser.py:22).
* The output contract renames subsection→class, group→subclass and
  drops subgroup (parser.py:65-72) — preserved here.

At 100 TB these run inside whole-stage codegen on the scan; no Python
boundary is crossed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: parser.py:50 and 56 in one pattern — symbol, optional integer level,
#: title.  The reference tries the with-level pattern first and falls
#: back to the one without; the greedy optional group does the same at
#: the same symbol split, since the symbol cannot hold whitespace.
LINE = r"^([A-Z0-9/]+)\s+(?:(\d+)\s+)?(.+)$"


# ---------------------------------------------------------------------------
# parse_symbol (parser.py:13-41)
# ---------------------------------------------------------------------------


def symbol_section(symbol: Column) -> Column:
    """First char when alphabetic (parser.py:26-27)."""
    return F.when(
        F.substring(symbol, 1, 1).rlike(r"^[A-Za-z]$"),
        F.substring(symbol, 1, 1),
    )


def symbol_class(symbol: Column) -> Column:
    """First 3 chars when chars 1-2 are digits (parser.py:30-31), except
    for all-digits symbols (parser.py:22).

    Reference key name is ``subsection``; output column name is
    ``class`` (parser.py:70).
    """
    return F.when(
        ~symbol.rlike(r"^[0-9]+$")
        & (F.length(symbol) >= 3)
        & F.substring(symbol, 2, 2).rlike(r"^[0-9]{2}$"),
        F.substring(symbol, 1, 3),
    )


def symbol_subclass(symbol: Column) -> Column:
    """First 4 chars when char 3 is alphabetic (parser.py:34-35).

    Reference key name is ``group``; output column name is
    ``subclass`` (parser.py:71).
    """
    return F.when(
        (F.length(symbol) >= 4)
        & F.substring(symbol, 4, 1).rlike(r"^[A-Za-z]$"),
        F.substring(symbol, 1, 4),
    )


def parse_title_lines(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """lines(line STRING, ...) → cpc_titles contract (SURVEY.md §1.4).

    One lazy plan: strip → one ``LINE`` match per field → drop lines
    with no symbol → symbol decomposition.
    """
    # Python ``str.strip()`` twin: ``F.trim`` removes only spaces, so a
    # tab-indented line would fail the ^-anchored pattern.
    t = F.regexp_replace(F.col(line_col), r"^\s+|\s+$", "")
    symbol = F.col("symbol")
    return (
        lines.select(
            F.regexp_extract(t, LINE, 1).alias("symbol"),
            # no level group extracts "" and try_cast("") is NULL; a level
            # too large for INT is NULL too instead of failing the job
            F.regexp_extract(t, LINE, 2).try_cast("int").alias("level"),
            F.regexp_extract(t, LINE, 3).alias("title"),
        )
        .filter(symbol != "")
        .select(
            "symbol",
            "level",
            "title",
            symbol_section(symbol).alias("section"),
            symbol_class(symbol).alias("class"),
            symbol_subclass(symbol).alias("subclass"),
        )
    )
