"""The ``cpc_release`` workload: a seeded synthetic CPC release, its
pure-Python expected output, and one pass of the CPC ETL job over it.

The release has the four archives the job reads (FIXTURES.md sections
1, 3, 4 and 5):

* ``CPCTitleList<v>.zip`` - one ``cpc-section-<X>.txt`` member per
  section A-H and Y, plus blank and unparseable lines the parser drops;
* ``CPCSymbolList<v>.zip`` - a CSV member with a header, 7 columns,
  symbols with embedded spaces and a few 6-column rows;
* ``CPCValidityFile<v>.zip`` - a TSV member with a header, covering a
  share of symbols, some with conflicting or repeated rows;
* ``CPCSchemeXML<v>.zip`` - one XML member per subclass, each nesting
  section > class > subclass > main group > subgroups.

About 1% of symbols are made invalid: missing from the symbol list, or
INACTIVE in the validity file, or carrying an unknown status.

The oracle re-reads the generated archives and applies the parser and
validator rules in plain Python, so it never shares code with the
program under test.
"""

from __future__ import annotations

import contextlib
import csv
import hashlib
import io
import random
import re
import zipfile
from pathlib import Path

VERSION = "202501"
SECTIONS = "ABCDEFGHY"
#: title rows per release: 1/8 of the ~264k of the public CPC scheme.
TITLE_ROWS = 33_000
#: subclasses per release: one SchemeXML member each.
SUBCLASSES = 700

WORDS = (
    "apparatus method device system means arrangement control unit "
    "circuit signal fluid heat vehicle engine compound composition "
    "treatment layer surface structure element member housing valve "
    "sensor measuring electric optical chemical mechanical transport "
    "processing material machine tool container support drive power "
    "water gas liquid solid plant animal food textile paper building"
).split()

LINE_WITH_LEVEL = re.compile(r"^([A-Z0-9/]+)\s+(\d+)\s+(.+)$")
LINE_NO_LEVEL = re.compile(r"^([A-Z0-9/]+)\s+(.+)$")


def _title(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 9)))


def _letters(rng: random.Random, k: int) -> list[str]:
    return sorted(rng.sample("ABCDEFGHJKLMNPQRSTUVWXYZ", k))


def generate(root: Path, seed: int) -> dict:
    """Write the four archives under ``root``; return their byte sizes."""
    rng = random.Random(seed)
    root.mkdir(parents=True, exist_ok=True)
    # hierarchy: section -> classes -> subclasses -> groups
    per_section = [SUBCLASSES // len(SECTIONS)] * len(SECTIONS)
    per_section[0] += SUBCLASSES - sum(per_section)
    rows_per_subclass = TITLE_ROWS // SUBCLASSES
    title_members: dict[str, list[str]] = {}
    all_symbols: list[str] = []
    xml_members: dict[str, str] = {}
    for sec, n_sub in zip(SECTIONS, per_section):
        lines = [f"{sec} {_title(rng).upper()}"]
        all_symbols.append(sec)
        n_cls = max(1, n_sub // 5)
        cls_nums = sorted(rng.sample(range(1, 100), n_cls))
        subs_left = n_sub
        for ci, cn in enumerate(cls_nums):
            cls = f"{sec}{cn:02d}"
            lines.append(f"{cls} {_title(rng).upper()}")
            all_symbols.append(cls)
            k = subs_left if ci == n_cls - 1 else min(subs_left - (n_cls - ci - 1), 5)
            subs_left -= k
            for letter in _letters(rng, k):
                sub = f"{cls}{letter}"
                lines.append(f"{sub} {_title(rng)}")
                all_symbols.append(sub)
                groups = _subclass_groups(rng, sub, rows_per_subclass - 1)
                for sym, level, title in groups:
                    lines.append(f"{sym} {level} {title}")
                    all_symbols.append(sym)
                xml_members[sub] = _scheme_xml(sec, cls, sub, groups, rng)
            if rng.random() < 0.2:
                lines.append("")  # blank line: dropped by the parser
            if rng.random() < 0.2:
                lines.append("# see also the concordance list")  # no match
        title_members[f"cpc-section-{sec}.txt"] = lines

    invalid = _plant_invalid(rng, all_symbols)
    _write_zip(root / f"CPCTitleList{VERSION}.zip", {
        name: "\n".join(lines) + "\n" for name, lines in title_members.items()
    } | {"README.txt": "not a section member\n"})
    _write_zip(root / f"CPCSymbolList{VERSION}.zip", {
        f"CPCSymbolList{VERSION}.csv": _symbol_list_csv(rng, all_symbols, invalid)
    })
    _write_zip(root / f"CPCValidityFile{VERSION}.zip", {
        f"CPCValidityFile{VERSION}.txt": _validity_tsv(rng, all_symbols, invalid)
    })
    _write_zip(root / f"CPCSchemeXML{VERSION}.zip", {
        f"scheme-{sub.replace('/', '_')}.xml": body
        for sub, body in xml_members.items()
    })
    return {p.name: p.stat().st_size for p in sorted(root.glob("*.zip"))}


def _subclass_groups(
    rng: random.Random, sub: str, n: int
) -> list[tuple[str, int, str]]:
    """``n`` (symbol, level, title) rows: main groups ``<sub>G/00`` at
    level 0, each followed by subgroups ``<sub>G/NN`` at levels 1-4."""
    out: list[tuple[str, int, str]] = []
    group = 0
    while len(out) < n:
        group += rng.randint(1, 3)
        out.append((f"{sub}{group}/00", 0, _title(rng)))
        for k in range(1, min(rng.randint(20, 60), n - len(out)) + 1):
            out.append((f"{sub}{group}/{k * 2:02d}", rng.randint(1, 4), _title(rng)))
    return out[:n]


def _scheme_xml(sec, cls, sub, groups, rng) -> str:
    """Nested classification items; subgroups nest under their main group."""
    item = "<classification-item><classification-symbol>{}</classification-symbol>"
    parts = [item.format(sec), item.format(cls), item.format(sub)]
    open_group = False
    for sym, level, _ in groups:
        if level == 0:
            if open_group:
                parts.append("</classification-item>")
            parts.append(item.format(sym))
            open_group = True
        elif rng.random() < 0.995:  # a few subgroups lack a hierarchy edge
            parts.append(item.format(sym) + "</classification-item>")
    if open_group:
        parts.append("</classification-item>")
    parts.append("</classification-item>" * 3)
    return "<?xml version='1.0'?>\n<scheme>" + "".join(parts) + "</scheme>\n"


def _plant_invalid(rng: random.Random, symbols: list[str]) -> dict[str, str]:
    """~1% of symbols -> the reason they fail validation."""
    reasons = ("missing", "inactive", "unknown", "conflict")
    return {
        s: rng.choice(reasons)
        for s in symbols
        if len(s) > 4 and rng.random() < 0.01
    }


def _spaced(rng: random.Random, sym: str) -> str:
    """Symbol-list spelling: some symbols carry padding spaces."""
    if "/" in sym and rng.random() < 0.3:
        head, tail = sym.split("/", 1)
        return f"{head[:4]}   {head[4:]}/{tail}"
    return sym


def _symbol_list_csv(rng, symbols, invalid) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["symbol", "origin", "kind", "sort", "level", "note", "status"])
    for s in symbols:
        why = invalid.get(s)
        if why == "missing":
            continue
        row = [_spaced(rng, s), "EP", "main", "1", "0", "none"]
        if why == "unknown":
            w.writerow(row)  # 6 fields: status falls back to UNKNOWN
        else:
            w.writerow(row + ["published"])
    return buf.getvalue()


def _validity_tsv(rng, symbols, invalid) -> str:
    lines = ["symbol\tvalid_from\tvalid_to"]
    for s in symbols:
        why = invalid.get(s)
        if why == "inactive":
            lines.append(f"{s}\t2010-01-01\t2024-06-30")
        elif why == "conflict":  # repeated rows: max(status) = INACTIVE
            lines.append(f"{s}\t2010-01-01\t")
            lines.append(f"{s}\t2010-01-01\t2023-12-31")
        elif why is None and rng.random() < 0.3:
            lines.append(f"{_spaced(rng, s)}\t2016-01-01\t")
    return "\n".join(lines) + "\n"


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        for name, text in members.items():
            zf.writestr(name, text)


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


def _member_lines(path: Path, keep) -> list[list[str]]:
    out = []
    with zipfile.ZipFile(path) as zf:
        for member in zf.namelist():
            if keep(member.split("/")[-1]):
                text = zf.read(member).decode("utf-8", errors="replace")
                out.append([ln.strip() for ln in text.splitlines()])
    return out


def _norm(s: str) -> str:
    return "".join(s.split())


def _section(sym: str):
    if not sym or sym.isdigit():
        return None
    return sym[0] if sym[0].isalpha() else None


def _class(sym: str):
    if not sym or sym.isdigit() or len(sym) < 3 or not sym[1:3].isdigit():
        return None
    return sym[:3]


def _subclass(sym: str):
    if not sym or sym.isdigit() or len(sym) < 4 or not sym[3].isalpha():
        return None
    return sym[:4]


def parse_titles(lines: list[str]) -> list[tuple]:
    """Title rows (symbol, level, title, section, class, subclass)."""
    rows = []
    for ln in lines:
        if not ln:
            continue
        m = LINE_WITH_LEVEL.search(ln)
        if m:
            sym, level, title = m.group(1), int(m.group(2)), m.group(3)
        else:
            m = LINE_NO_LEVEL.search(ln)
            if not m:
                continue
            sym, level, title = m.group(1), None, m.group(2)
        rows.append((sym, level, title, _section(sym), _class(sym), _subclass(sym)))
    return rows


def _format_valid(sym: str) -> bool:
    return (
        bool(sym)
        and sym[0] in SECTIONS
        and (len(sym) < 3 or sym[1:3].isdigit())
    )


def expected(root: Path) -> dict:
    """Row count, invalid count and output hash the job must produce."""
    title_lines = [
        ln
        for member in _member_lines(
            root / f"CPCTitleList{VERSION}.zip",
            lambda n: n.startswith("cpc-section-"),
        )
        for ln in member
    ]
    titles = parse_titles(title_lines)

    listed: dict[str, str] = {}
    for member in _member_lines(
        root / f"CPCSymbolList{VERSION}.zip", lambda n: n.endswith(".csv")
    ):
        for ln in member[1:]:
            parts = ln.split(",")
            sym = _norm(parts[0])
            if not sym:
                continue
            status = parts[-1] if len(parts) > 6 else "UNKNOWN"
            status = "ACTIVE" if status == "published" else status
            listed[sym] = max(listed.get(sym, status), status)

    valid: dict[str, str] = {}
    for member in _member_lines(
        root / f"CPCValidityFile{VERSION}.zip", lambda n: n.endswith(".txt")
    ):
        for ln in member[1:]:
            parts = ln.split("\t")
            if len(parts) < 2:
                continue
            vf = parts[1].strip()
            vt = parts[2].strip() if len(parts) > 2 else ""
            status = "ACTIVE" if vf and not vt else "INACTIVE"
            sym = _norm(parts[0])
            valid[sym] = max(valid.get(sym, status), status)

    n_bad = 0
    for sym, *_ in titles:
        status = valid.get(sym, listed.get(sym, "UNKNOWN"))
        if not (_format_valid(sym) and sym in listed and status == "ACTIVE"):
            n_bad += 1
    return {
        "rows": len(titles),
        "invalid": n_bad,
        "hash": rows_hash(row + (VERSION,) for row in titles),
    }


def rows_hash(rows) -> str:
    """Order-insensitive multiset hash: sum of per-row digests mod 2^64."""
    total = 0
    for row in rows:
        key = "\x1f".join("\x00" if v is None else str(v) for v in row)
        total += int.from_bytes(
            hashlib.blake2b(key.encode(), digest_size=8).digest(), "little"
        )
    return f"{total % (1 << 64):016x}"


# ---------------------------------------------------------------------------
# one pass and its check
# ---------------------------------------------------------------------------

OUTPUT_COLUMNS = ("symbol", "level", "title", "section", "class", "subclass",
                  "cpc_schema_date")


def run_pass(data_dir: Path, out_dir: Path) -> dict:
    """``cli.run`` on the ``--force`` path; returns what it reported."""
    from etl_cpc_schema_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = cli.run(str(data_dir), VERSION, str(out_dir), strict=False)
    m = re.search(r"^(\d+) invalid symbols", buf.getvalue(), re.M)
    return {"code": code, "invalid": int(m.group(1)) if m else 0}


def check_pass(out_dir: Path, report: dict, want: dict) -> bool:
    """The parquet output matches the oracle and the CSV has every row."""
    import pyarrow.parquet as pq

    if report["code"] != 0 or report["invalid"] != want["invalid"]:
        return False
    table = pq.read_table(out_dir / "cpc_schema_final.parquet",
                          columns=list(OUTPUT_COLUMNS))
    cols = [table.column(c).to_pylist() for c in OUTPUT_COLUMNS]
    if table.num_rows != want["rows"] or rows_hash(zip(*cols)) != want["hash"]:
        return False
    csv_rows = sum(
        max(0, sum(1 for _ in p.open()) - 1)
        for p in (out_dir / "cpc_schema_final.csv").glob("part-*.csv")
    )
    return csv_rows == want["rows"]


# ---------------------------------------------------------------------------
# layer boundaries (traced run only)
# ---------------------------------------------------------------------------


def layer_pass(spark, data_dir: Path, out_dir: Path, clock) -> dict[str, float]:
    """Self time of each layer ``cli.run`` composes, in seconds.

    Each public call is materialised into Spark's ``noop`` sink; a
    layer's self time is its boundary time minus the boundary time of
    what it consumes.  ``clock(fn)`` returns ``fn``'s wall seconds.
    """
    from etl_cpc_schema_spark.functions.parsing import parse_title_lines
    from etl_cpc_schema_spark.plans.cpc_pipeline import run_pipeline
    from etl_cpc_schema_spark.sources import readers as R
    from etl_cpc_schema_spark.sources.xml_scheme import read_scheme_edges

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    def zip_lines(name, **kw):
        return R.read_zip_members(spark, str(data_dir / f"{name}{VERSION}.zip"), **kw)

    def title_lines():
        return zip_lines("CPCTitleList", member_prefix="cpc-section-")

    def symbol_list():
        lines = zip_lines("CPCSymbolList", member_suffix=".csv")
        return R.parse_symbol_list_lines(R.drop_header_per_file(lines))

    def validity():
        lines = zip_lines("CPCValidityFile", member_suffix=".txt")
        return R.parse_validity_lines(R.drop_header_per_file(lines))

    def edges():
        return read_scheme_edges(
            spark, str(data_dir / f"CPCSchemeXML{VERSION}.zip"), from_zip=True
        )

    def pipeline():
        return run_pipeline(parse_title_lines(title_lines()), symbol_list(),
                            validity(), edges(), VERSION, strict=False)

    def pipeline_boundary():
        final, bad = pipeline()
        bad.count()
        noop(final)()
        bad.unpersist()

    def write(sink, path):
        def go():
            final, bad = pipeline()
            bad.unpersist()
            sink(final, str(out_dir / path))
        return go

    b = {
        "title_lines": clock(noop(title_lines())),
        "titles": clock(noop(parse_title_lines(title_lines()))),
        "symbol_list": clock(noop(symbol_list())),
        "validity": clock(noop(validity())),
        "edges": clock(noop(edges())),
        "pipeline": clock(pipeline_boundary),
        "final": clock(write(lambda df, _: noop(df)(), "unused")),
        "parquet": clock(write(R.write_parquet, "layer.parquet")),
        "csv": clock(write(R.write_csv, "layer.csv")),
    }
    upstream = b["titles"] + b["symbol_list"] + b["validity"] + b["edges"]
    return {
        "sources.title_lines_s": b["title_lines"],
        "functions.parse_title_lines_s": b["titles"] - b["title_lines"],
        "sources.symbol_list_s": b["symbol_list"],
        "sources.validity_s": b["validity"],
        "sources.scheme_edges_s": b["edges"],
        "plans.run_pipeline_s": b["pipeline"] - upstream,
        "sources.write_parquet_s": b["parquet"] - b["final"],
        "sources.write_csv_s": b["csv"] - b["final"],
    }

