"""The ``corpus_queries`` workload: seeded TPC-H-style tables plus a
document and an embedding corpus, a fixed ordered list of read-only
declared queries over them, the index-writing queries of the traced
run's index pass, and DuckDB answers to check each call.

The tables have the schemas of the engine's declared-query inputs
(``queries.py`` reads ``<dir>/<table>.parquet``).  Every value is drawn
from ``numpy`` PCG64 seeded by the workload seed.  Money and quantities
are whole cents stored as doubles, as the queries' exact-cents casts
expect.  The corpus plants exact and near duplicate documents and
near-neighbour vectors so the dedup and ANN queries have work to find.

Expected answers come from each query's DuckDB oracle
(``queries.oracle_sql()``) over the same parquet files, normalised the
way ``tools/drive_contract.py`` compares results: columns sorted by
name, rows sorted, decimals keeping their scale, floats tagged.
"""

from __future__ import annotations

import decimal
import hashlib
import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The ordered query list of one pass: relational, dedup, text, graph
#: and ANN (IVF top-k, rebuilt from the vectors in every call).
QUERIES = (
    "q18_join_agg",
    "dedup_minhash_lsh",
    "text_gopher_filters",
    "q83_label_propagation",
    "ann_ivf_topk",
)

#: The traced run's index pass: one call each, over a fresh copy of the
#: tables so the process-cached index builds run again.  The streaming
#: dedup writes a committed delta per micro-batch; the maintained dedup
#: index is saved, appended to, tombstoned and compacted into a new
#: generation; the IVF-PQ index is saved, appended to and tombstoned.
INDEX_QUERIES = (
    "stream_incremental_dedup",
    "docs_dedup_index_maintained",
    "ann_ivfpq_deleted",
)

ROWS = {
    "customer": 1_500,
    "orders": 15_000,
    "lineitem": 60_000,
    "part": 2_000,
    "supplier": 100,
    "documents": 1_000,
    "embeddings": 1_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["small", "red", "blue", "green", "steel", "ring", "widget",
              "bolt", "gear", "frame", "plate", "tube"]
VOCAB = (
    "the a and of to data spark query table row column join filter group "
    "sort window stream batch hash merge scan agg key value line part "
    "order customer fast slow big small wide narrow cache shuffle stage "
    "task plan codegen skew salt bucket probe build spill"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DIMS = 64
EPOCH_DAY = np.datetime64("1992-01-01")


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return np.round(rng.integers(lo, hi, size=n) / 100.0, 2)


def _days(rng, n: int, span: int) -> np.ndarray:
    return (EPOCH_DAY + rng.integers(0, span, size=n)).astype("datetime64[us]")


def _tpch(rng) -> dict[str, pa.Table]:
    n_c, n_o, n_l = ROWS["customer"], ROWS["orders"], ROWS["lineitem"]
    n_p, n_s = ROWS["part"], ROWS["supplier"]
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_o),
        "o_orderdate": _days(rng, n_o, 365 * 7),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    })
    part = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [
            f"{PART_WORDS[a]} {PART_WORDS[b]}"
            for a, b in rng.integers(0, len(PART_WORDS), (n_p, 2))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_p)],
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": _cents(rng, 90_000, 200_000, n_p),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _cents(rng, -99_999, 999_999, n_s),
    })
    orderkey = np.sort(rng.integers(0, n_o, n_l)).astype(np.int64)
    linenumber = np.ones(n_l, dtype=np.int32)
    for i in range(1, n_l):
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    quantity = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _cents(rng, 90_000, 200_000, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": _days(rng, n_l, 365 * 10),
    })
    return {"customer": customer, "orders": orders, "part": part,
            "supplier": supplier, "lineitem": lineitem}


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    w = 1.0 / (np.arange(len(VOCAB)) + 1.0)
    w /= w.sum()
    lengths = rng.integers(20, 90, size=n)
    texts = [
        " ".join(VOCAB[j] for j in rng.choice(len(VOCAB), size=k, p=w))
        for k in lengths
    ]
    # exact duplicates (~1%) and near duplicates (~3%, two words edited)
    n_exact, n_near = n // 100, 3 * n // 100
    src = rng.integers(0, n // 2, size=n_exact + n_near)
    for k in range(n_exact):
        texts[n - 1 - k] = texts[src[k]]
    for k in range(n_near):
        toks = texts[src[n_exact + k]].split()
        for pos in rng.integers(0, len(toks), size=2):
            toks[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[n - 1 - n_exact - k] = " ".join(toks)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    mat = rng.normal(0.0, 0.12, size=(n, DIMS)).astype(np.float32)
    near = rng.integers(0, n // 2, size=n // 50)
    for k, s in enumerate(near):
        mat[n - 1 - k] = mat[s] + rng.normal(0.0, 0.01, DIMS).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(mat), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(root: Path, seed: int) -> dict:
    """Write every table under ``root``; return row counts."""
    rng = np.random.Generator(np.random.PCG64(seed))
    tables = _tpch(rng) | {"documents": _documents(rng),
                           "embeddings": _embeddings(rng)}
    root.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, root / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# answers
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, float):
        return ("f", "nan") if math.isnan(v) else ("f", v)
    return v


def answer_hash(cols: list[str], rows) -> str:
    """Hash of the column-sorted, row-sorted, exact-form result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    key = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    head = repr(sorted(cols)).encode()
    return hashlib.sha256(head + repr(key).encode()).hexdigest()[:16]


def expected(root: Path, names=QUERIES) -> dict[str, str]:
    """DuckDB oracle answer hash per query over the tables in ``root``."""
    import duckdb

    from etl_cpc_schema_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for p in sorted(root.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = answer_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()

