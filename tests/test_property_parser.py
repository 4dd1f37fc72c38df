"""Property-based parity: the Spark expression parser must agree with a
pure-Python model of the reference's parse_line/parse_symbol semantics
(reference parser.py:13-72) on arbitrary generated lines."""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st

from etl_cpc_schema_spark.functions import parsing as P

# --- pure-Python model of the reference semantics ---------------------------


def model_parse_symbol(symbol: str) -> dict:
    comp = {"section": None, "class": None, "subclass": None}
    if not symbol or symbol.isdigit():
        return comp
    if symbol[0].isalpha():
        comp["section"] = symbol[0]
    if len(symbol) >= 3 and symbol[1:3].isdigit():
        comp["class"] = symbol[:3]
    if len(symbol) >= 4 and symbol[3].isalpha():
        comp["subclass"] = symbol[:4]
    return comp


def model_parse_line(line: str) -> dict | None:
    line = line.strip()
    if not line:
        return None
    m = re.match(r"^([A-Z0-9/]+)\s+(\d+)\s+(.+)$", line)
    if m:
        symbol, level, title = m.group(1), int(m.group(2)), m.group(3)
    else:
        m = re.match(r"^([A-Z0-9/]+)\s+(.+)$", line)
        if not m:
            return None
        symbol, title = m.group(1), m.group(2)
        level = None
    return {"symbol": symbol, "level": level, "title": title, **model_parse_symbol(symbol)}


# --- generators -------------------------------------------------------------

symbolish = st.text(
    alphabet="ABCHYZ019/ab", min_size=0, max_size=8
)
titleish = st.text(
    alphabet="abcdefg ();/0123456789", min_size=0, max_size=20
)
# every alphabet stays ASCII: Java's ``.`` stops at ``\r`` and ``\u0085``,
# Python's does not
whitespace = st.text(alphabet=" \t", min_size=1, max_size=3)
line_strategy = st.one_of(
    st.builds(lambda s, lvl, t: f"{s} {lvl} {t}", symbolish, st.integers(0, 12), titleish),
    st.builds(
        lambda s, w1, lvl, w2, t: f"{s}{w1}{lvl}{w2}{t}",
        symbolish, whitespace, st.integers(0, 999), whitespace, titleish,
    ),
    st.builds(lambda s, t: f"{s} {t}", symbolish, titleish),
    st.builds(lambda s, t: f"{s}\t{t}", symbolish, titleish),
    titleish,
    st.just(""),
)


@settings(max_examples=25, deadline=None)
@given(st.lists(line_strategy, min_size=1, max_size=60))
# regression: tab-led line — Python strip() removes it, F.trim does not
@example(["\t0 0"])
@example(["\tA01B 1 tab indented title"])
# where the with-level and the no-level pattern used to split
@example(["A 1"])  # level-like digits, no title after them
@example(["A 12abc t"])  # title starting with digits
@example(["A  1  x"])  # runs of spaces
@example(["A\t1\tx"])  # tabs between the fields
@example(["A 1 2"])  # all-digit title
@example([" A01B 1 x "])  # spaces at both ends
def test_parser_matches_reference_model(spark, lines):
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    got = [r.asDict() for r in P.parse_title_lines(df).collect()]

    expected = [m for m in (model_parse_line(ln) for ln in lines) if m is not None]

    # order-insensitive multiset compare (Spark does not guarantee
    # input order post-filter on multiple partitions)
    key = lambda d: (
        d["symbol"], d["level"] if d["level"] is not None else -1, d["title"],
        d["section"] or "", d["class"] or "", d["subclass"] or "",
    )
    assert sorted(got, key=key) == sorted(expected, key=key)
