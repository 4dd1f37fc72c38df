"""Declared correctness queries (SURVEY.md §2.9 Q1-Q16 + scale extensions).

Each entry pairs a Spark DataFrame implementation (exercising the
engine's operator library) with an exactly-equivalent DuckDB SQL
oracle over the same parquet tables.  Determinism rules (BASELINE.md):

* every query ends in a total ORDER BY over its output columns,
* no floating-point aggregation — integers, strings, decimals, and
  doubles derived from *exact integer* inputs only (see
  functions.vectors for why those are bit-stable),
* dates/timestamps are emitted as formatted strings,
* cross-engine hashing (MinHash/SimHash/LSH) uses the portable md5
  hash (functions.hashing) that both engines compute identically.

Aliases match between Spark and SQL on every computed column — the
driver sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import text as TX
from .functions.hashing import portable_hash64_sql

#: shared oracle tokenization idiom (empty-token-filtered; see ADVICE r1)
_TOKS_SQL = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

#: docs_quality_logreg hashed-feature space: 2001 integer weight
#: levels centered on 0 (range [-1000, 1000]) and a +50 per-token
#: intercept, i.e. keep iff the mean token weight exceeds -50.  On a
#: uniform hash the keep rate is ~p(mean > -50/1000) — most docs keep,
#: the left tail drops, which is the shape of a real quality model.
QLR_LEVELS = 2001
QLR_INTERCEPT = 50
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators.iterutils import local_df as _local_df
from .operators import similarity as SIM
from .operators.lookups import (
    anti_join,
    last_write_wins,
    lookup_with_default,
    semi_join,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        from .sources.readers import read_events

        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


#: one persisted index per (kind, sf_dir, *params) per process — bench
#: medians (3-7 runs) and driver sweeps re-invoke the index-lifecycle
#: queries many times, and rebuilding a corpus-sized parquet index into
#: a fresh mkdtemp on every call accumulated several shingle/codes
#: copies in /tmp within one process (round-8 ADVICE).  The key holds
#: everything that determines index CONTENT, so a cache hit is
#: bit-identical to a rebuild; each path gets exactly one atexit
#: cleanup.  Deterministic by construction: builders derive all state
#: from the parquet inputs named in the key.
_INDEX_CACHE: dict[tuple, str] = {}


def _cached_index(key: tuple, builder) -> str:
    path = _INDEX_CACHE.get(key)
    if path is None:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix=f"spark_{key[0]}_index_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        builder(path)
        _INDEX_CACHE[key] = path
    return path


def query(name: str, oracle: str | None):
    def wrap(fn: QueryFn) -> QueryFn:
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return wrap


# ---------------------------------------------------------------------------
# Q1-Q16 — reference-operator parity set (SURVEY.md §2.9)
# ---------------------------------------------------------------------------


@query(
    "q01_regex_parse",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '^(\\w+)', 1) AS name_head,
           regexp_extract(p_name, '(\\w+)$', 1) AS name_tail,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
    FROM part
    ORDER BY p_partkey
    """,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    """P1/P2/P10 — regex field extraction (reference parser.py:43-61)."""
    return (
        _t(spark, sf, "part")
        .select(
            "p_partkey",
            F.regexp_extract("p_name", r"^(\w+)", 1).alias("name_head"),
            F.regexp_extract("p_name", r"(\w+)$", 1).alias("name_tail"),
            F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q02_filter_predicates",
    """
    SELECT o_orderkey, o_orderpriority, o_orderstatus
    FROM orders
    WHERE o_orderpriority LIKE '1%' AND o_orderstatus IN ('O', 'F')
    ORDER BY o_orderkey
    """,
)
def q02(spark: SparkSession, sf: str) -> DataFrame:
    """P3/P9 — prefix / membership predicates (reference downloader.py:48-118)."""
    o = _t(spark, sf, "orders")
    return (
        o.filter(
            F.col("o_orderpriority").startswith("1")
            & F.col("o_orderstatus").isin("O", "F")
        )
        .select("o_orderkey", "o_orderpriority", "o_orderstatus")
        .orderBy("o_orderkey")
    )


@query(
    "q03_project_cast_lit",
    """
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_cents,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           '202505' AS schema_date
    FROM orders
    ORDER BY o_orderkey
    """,
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    """P4/P5/P6 — project, cast, literal append (reference main.py:114-116).

    Money is emitted as exact BIGINT cents (decimal(18,2) -> x100 -> bigint):
    the decimal cast fixes the scale identically in Spark and DuckDB, and the
    x100/bigint conversion is exact, so the output is hasher-proof (no
    engine-specific decimal/float rendering).
    """
    return (
        _t(spark, sf, "orders")
        .select(
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("total_cents"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.lit("202505").alias("schema_date"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q04_semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    """J1 — membership semi join (reference validator.py:189)."""
    c = _t(spark, sf, "customer").withColumnRenamed("c_custkey", "key")
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    return (
        semi_join(c, o, "key")
        .select(F.col("key").alias("c_custkey"), "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q05_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
)
def q05(spark: SparkSession, sf: str) -> DataFrame:
    """J2 — the invalid-symbols anti join (reference main.py:77-87)."""
    c = _t(spark, sf, "customer").withColumnRenamed("c_custkey", "key")
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    return (
        anti_join(c, o, "key")
        .select(F.col("key").alias("c_custkey"), "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q06_left_join_default",
    """
    SELECT o.o_orderkey, coalesce(c.c_mktsegment, 'UNKNOWN') AS segment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_orderkey
    """,
)
def q06(spark: SparkSession, sf: str) -> DataFrame:
    """J3 — left join + default (reference validator.py:195 .get default)."""
    o = _t(spark, sf, "orders").withColumnRenamed("o_custkey", "key")
    c = _t(spark, sf, "customer").withColumnRenamed("c_custkey", "key")
    return (
        lookup_with_default(o, c, "key", "c_mktsegment", "UNKNOWN", "segment")
        .select("o_orderkey", "segment")
        .orderBy("o_orderkey")
    )


@query(
    "q07_distinct_sort",
    "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
)
def q07(spark: SparkSession, sf: str) -> DataFrame:
    """A2/A3 — distinct + sort (reference downloader.py:43-58)."""
    return (
        _t(spark, sf, "orders")
        .select("o_orderpriority")
        .distinct()
        .orderBy("o_orderpriority")
    )


@query(
    "q08_max_per_group",
    """
    SELECT o_custkey, max(strftime(o_orderdate, '%Y-%m-%d')) AS last_order
    FROM orders GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def q08(spark: SparkSession, sf: str) -> DataFrame:
    """A4 — max aggregate (reference downloader.py:81-95 latest version)."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.max(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("last_order"))
        .orderBy("o_custkey")
    )


@query(
    "q09_group_count",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q09(spark: SparkSession, sf: str) -> DataFrame:
    """A1 — grouped count (reference main.py:74-91)."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderstatus")
    )


@query(
    "q10_topn_rank",
    """
    WITH c AS (
      SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders GROUP BY 1
    )
    SELECT custkey, n_orders, rn FROM (
      SELECT custkey, n_orders,
             row_number() OVER (ORDER BY n_orders DESC, custkey) AS rn
      FROM c
    ) t WHERE rn <= 10 ORDER BY rn
    """,
)
def q10(spark: SparkSession, sf: str) -> DataFrame:
    """A6 + §2.6 — top-N with deterministic ranking (reference main.py:93-100).

    TakeOrdered shape (VERDICT r7): orderBy+limit selects the 10
    survivors as a TakeOrderedAndProject (per-partition top-10, tiny
    driver merge — never a global sort), and only those 10 rows pass
    through the ranking window.  The previous rank-all-then-filter
    form produced the same plan ONLY via the rank-filter pushdown
    optimizer rule; this form states the intent directly."""
    counts = (
        _t(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    top = counts.orderBy(F.col("n_orders").desc(), F.col("custkey")).limit(10)
    w = Window.orderBy(F.col("n_orders").desc(), F.col("custkey"))
    return top.withColumn("rn", F.row_number().over(w).cast("bigint")).orderBy(
        "rn"
    )


@query(
    "q11_conditional_status",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
                ELSE o_orderpriority END AS priority_mapped,
           CASE WHEN strftime(o_orderdate, '%Y-%m-%d') >= '1997-01-01'
                     AND o_orderstatus = 'O'
                THEN 'ACTIVE' ELSE 'INACTIVE' END AS status
    FROM orders ORDER BY o_orderkey
    """,
)
def q11(spark: SparkSession, sf: str) -> DataFrame:
    """P12/P13 — conditional mappings (reference validator.py:96-98, 126-131)."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("URGENT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("priority_mapped"),
        F.when(
            (F.date_format("o_orderdate", "yyyy-MM-dd") >= "1997-01-01")
            & (F.col("o_orderstatus") == "O"),
            F.lit("ACTIVE"),
        )
        .otherwise(F.lit("INACTIVE"))
        .alias("status"),
    ).orderBy("o_orderkey")


@query(
    "q12_parent_lookup",
    """
    SELECT n.n_nationkey, n.n_name, coalesce(r.r_name, 'NONE') AS parent_name
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY n_nationkey
    """,
)
def q12(spark: SparkSession, sf: str) -> DataFrame:
    """J4 — parent-edge lookup (reference validator.py:202-207)."""
    n = _t(spark, sf, "nation").withColumnRenamed("n_regionkey", "key")
    r = _t(spark, sf, "region").withColumnRenamed("r_regionkey", "key")
    return (
        lookup_with_default(n, r, "key", "r_name", "NONE", "parent_name")
        .select("n_nationkey", "n_name", "parent_name")
        .orderBy("n_nationkey")
    )


@query(
    "q13_normalize_split",
    """
    SELECT p_partkey,
           regexp_replace(p_name, '\\s+', '', 'g') AS name_norm,
           split_part(p_type, ' ', 1) AS type_first
    FROM part ORDER BY p_partkey
    """,
)
def q13(spark: SparkSession, sf: str) -> DataFrame:
    """P7/P8 — whitespace normalization + split (reference validator.py:91, 121)."""
    return (
        _t(spark, sf, "part")
        .select(
            "p_partkey",
            F.regexp_replace("p_name", r"\s+", "").alias("name_norm"),
            F.split(F.col("p_type"), " ").getItem(0).alias("type_first"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q14_pipeline_composite",
    """
    WITH cnt AS (
      SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey,
           coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
           n.n_name AS nation_name,
           coalesce(cnt.n_orders, 0) AS n_orders,
           CASE WHEN coalesce(cnt.n_orders, 0) > 0 THEN 'ACTIVE'
                ELSE 'INACTIVE' END AS status,
           concat_ws(',',
             CASE WHEN coalesce(cnt.n_orders, 0) = 0 THEN 'no_orders' END,
             CASE WHEN c.c_acctbal < 0 THEN 'neg_balance' END) AS warnings
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN cnt ON c.c_custkey = cnt.o_custkey
    ORDER BY c_custkey
    """,
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end composite — the reference pipeline's shape (parse →
    lookup joins → status mapping → warning accumulation → enrich)
    over the TPC-H tables, as one lazy plan with broadcast dims."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    cnt = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    joined = (
        # nation is a bounded dim (25 rows) → forced broadcast is safe;
        # cnt is per-customer and grows with the corpus → AQE decides.
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(cnt, c.c_custkey == cnt.o_custkey, "left")
        .withColumn("n_orders", F.coalesce(F.col("n_orders"), F.lit(0)))
    )
    return joined.select(
        "c_custkey",
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        F.col("n_name").alias("nation_name"),
        "n_orders",
        F.when(F.col("n_orders") > 0, F.lit("ACTIVE"))
        .otherwise(F.lit("INACTIVE"))
        .alias("status"),
        F.concat_ws(
            ",",
            F.when(F.col("n_orders") == 0, F.lit("no_orders")),
            F.when(F.col("c_acctbal") < 0, F.lit("neg_balance")),
        ).alias("warnings"),
    ).orderBy("c_custkey")


@query(
    "q15_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           count(*) AS n
    FROM events GROUP BY 1 ORDER BY hour_start
    """,
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    """§2.7 — tumbling-window counts, batch-checkable (engine's streaming
    twin is ``stream_hourly_counts``)."""
    return (
        _t(spark, sf, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_start"
            )
        )
        .agg(F.count("*").alias("n"))
        .orderBy("hour_start")
    )


@query(
    "q79_sliding_window",
    """
    WITH cov AS (
      SELECT make_timestamp(
               (CAST(epoch_us(ts) AS BIGINT) // 900000000 - u.k) * 900000000
             ) AS win_start,
             event_type
      FROM events, unnest(range(4)) AS u(k)
      WHERE make_timestamp(
              (CAST(epoch_us(ts) AS BIGINT) // 900000000 - u.k) * 900000000
            ) > ts - INTERVAL 1 HOUR
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(count(*) AS BIGINT) AS n
    FROM cov GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    """SLIDING (overlapping) window aggregation — 1-hour windows every
    15 minutes per event type, the windowing class q15/stream_hourly's
    tumbling windows don't cover: each event lands in 4 overlapping
    windows.  Spark's ``F.window(ts, '1 hour', '15 minutes')``
    replicates each row once per covering window BEFORE the
    aggregation (epoch-aligned starts, start <= ts < end); the oracle
    derives the same 4 covering starts arithmetically per event.  The
    identical expression runs under Structured Streaming with a
    watermark — sliding state is windows/slide × keys rows.  At
    100 TB: the ×(len/slide) row replication happens map-side and is
    immediately collapsed by partial aggregation, so the shuffle
    carries windows × types rows, not events × 4."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q16_dedup_last_wins",
    """
    SELECT user_id, event_id, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1 ORDER BY user_id
    """,
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    """A7/J5 — last-write-wins dedup (reference validator.py:93-131
    dict-overwrite semantics) via row_number window."""
    e = _t(spark, sf, "events")
    latest = last_write_wins(e, "user_id", "ts", tiebreak="event_id")
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("value_cents"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Aggregation/bench extensions (ABSENT-in-reference classes, SURVEY §2.4-2.6)
# ---------------------------------------------------------------------------


@query(
    "q17_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_cents,
           count(*) AS n
    FROM lineitem
    WHERE strftime(l_shipdate, '%Y-%m-%d') <= '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape — the scan+agg throughput headline (exact-cents sums).

    The ship-date predicate compares the native timestamp (not a
    formatted string) so it pushes down to the parquet scan and prunes
    row groups; semantically identical to the oracle's string compare.
    """
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.lit("1998-09-03").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(
                (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("sum_qty_cents"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("sum_price_cents"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q18_join_agg",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_lines,
           CAST(sum(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape — fact-fact join + dim join + agg (bench headline).

    Customer scales linearly with the corpus (TPC-H SF×150k), so it is
    NOT broadcast-forced: AQE broadcasts it when the runtime-measured
    size is under the threshold and falls back to a shuffled hash join
    at 100 TB, where a forced broadcast would OOM the executors.
    """
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(
                (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
            ).alias("sum_qty_cents"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q19_rollup",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def q19(spark: SparkSession, sf: str) -> DataFrame:
    """Grouping-sets class (ABSENT in reference, SURVEY §2.4) — rollup."""
    return (
        _t(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n",
        )
        .orderBy("status", "priority")
    )


@query(
    "q20_set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY c_custkey
    """,
)
def q20(spark: SparkSession, sf: str) -> DataFrame:
    """Set-operation class (SURVEY §2.5) — except/distinct."""
    pos = (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey")
    )
    closed = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return pos.exceptAll(closed).distinct().orderBy("c_custkey")


@query(
    "q80_bag_set_ops",
    """
    WITH a AS (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    ), b AS (
      SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT op, o_orderpriority FROM (
      SELECT 'intersect' AS op, o_orderpriority
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'except' AS op, o_orderpriority
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    ) t ORDER BY op, o_orderpriority
    """,
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    """BAG-semantics set operations — INTERSECT ALL (multiplicity
    min(m_a, m_b)) and EXCEPT ALL (max(0, m_a − m_b)) over the order
    priority multisets of open vs finished orders.  The planning class
    q20's distinct EXCEPT doesn't exercise: Spark rewrites the ALL
    variants into a count-compare aggregate plus ``replicate_rows``
    Generate (re-expanding each row to its surviving multiplicity),
    not a semi/anti join.  Multiplicity math is exact-integer, so both
    engines agree row-for-row.  Scale: one shuffle on the compared
    columns, counts aggregated map-side; the re-expansion is map-only
    against the aggregated (distinct-valued) frame."""
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    both = a.intersectAll(b).select(
        F.lit("intersect").alias("op"), "o_orderpriority"
    )
    only_a = a.exceptAll(b).select(F.lit("except").alias("op"), "o_orderpriority")
    return both.unionByName(only_a).orderBy("op", "o_orderpriority")


@query(
    "q81_fuzzy_join",
    """
    SELECT a.c_custkey AS left_id, b.c_custkey AS right_id,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey <> b.c_custkey
    WHERE a.c_custkey < 256
      AND levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY left_id, right_id
    """,
)
def q81(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution class — blocked edit-distance (fuzzy) join:
    customer names within Levenshtein distance 1 of each probe
    customer (c_custkey < 256).  The oracle states the textbook form —
    a quadratic theta-join with the distance in the predicate; the
    Spark side runs operators/linkage.edit_distance_join: explode each
    name into its |s|+1 single-deletion variants (codegen
    transform/sequence, no Python), ONE hash equi-join on the variant
    string, distinct the candidate pairs, then verify levenshtein on
    candidates only.  Candidate volume is O(n·L) where the oracle's is
    O(n²) — the plan the plan-guard suite requires (no CartesianProduct
    / BNLJ) and the shape that survives 100 TB.  Recall is exact for
    d<=1 (a substitution shares the deletion-at-that-position variant;
    an insertion makes one string a member of the other's
    neighborhood), and the verify step restores precision for the
    shared-variant false positives ("ab"/"ba")."""
    from .operators import linkage as LK

    cust = _t(spark, sf, "customer")
    probes = cust.filter(F.col("c_custkey") < 256)
    return LK.edit_distance_join(
        probes, cust, "c_custkey", "c_custkey", "c_name"
    ).orderBy("left_id", "right_id")


@query(
    "q82_triangle_counts",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), tri AS (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM e e1 JOIN e e2 ON e2.u = e1.v
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ) t GROUP BY node ORDER BY node
    """,
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    """Graph-analytics class — per-vertex triangle counts over the
    part co-order graph (parts appearing in the same order are
    adjacent; the market-basket graph from
    operators/graph.cooccurrence_edges).  The oracle states the
    textbook id-ordered 3-way edge self-join; the Spark side runs
    operators/graph.triangle_counts — DEGREE-ORIENTED compact-forward
    enumeration, where wedges are generated only at each arc's
    lower-(degree, id) endpoint, so wedge volume is Σ outdeg² with
    outdeg = O(√m) instead of the Σ deg² a celebrity vertex turns
    quadratic.  Both enumerate every triangle exactly once, so the
    corner counts agree row-for-row.  All integer equi-joins and
    aggregations, zero Python, zero CartesianProduct."""
    from .operators import graph as GR

    li = _t(spark, sf, "lineitem")
    edges = GR.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return GR.triangle_counts(edges).orderBy("node")


@query(
    "q83_label_propagation",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), arcs AS (
      SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
    ), l0 AS (
      SELECT DISTINCT u AS node, u AS community FROM arcs
    ), c1 AS (
      SELECT a.v AS node, l.community, count(*) AS cnt
      FROM arcs a JOIN l0 l ON l.node = a.u
      GROUP BY a.v, l.community
    ), l1 AS (
      SELECT node, community FROM (
        SELECT node, community,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, community) AS rn
        FROM c1) t WHERE rn = 1
    ), c2 AS (
      SELECT a.v AS node, l.community, count(*) AS cnt
      FROM arcs a JOIN l1 l ON l.node = a.u
      GROUP BY a.v, l.community
    ), l2 AS (
      SELECT node, community FROM (
        SELECT node, community,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, community) AS rn
        FROM c2) t WHERE rn = 1
    )
    SELECT node, community FROM l2 ORDER BY node
    """,
)
def q83(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection — deterministic synchronous label
    propagation (Raghavan et al. 2007, derandomized: mode of
    neighbor labels, ties to the smallest label, two fixed rounds)
    over the part co-order graph.  Distinct from dedup_components
    (connectivity: where any path exists) — LPA finds DENSITY
    communities inside a connected blob, which is what corpus
    curation wants from a co-occurrence graph.  The Spark argmax is
    an AGGREGATE (``max(struct(cnt, -label))``), not a ranking
    window, so a celebrity vertex costs a spillable two-phase hash
    aggregate rather than a single-task sort; the oracle states the
    same choice as the textbook row_number form."""
    from .operators import graph as GR

    li = _t(spark, sf, "lineitem")
    edges = GR.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return GR.label_propagation(edges, iterations=2).orderBy("node")


@query(
    "q21_running_window",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
    FROM events ORDER BY user_id, event_id
    """,
)
def q21(spark: SparkSession, sf: str) -> DataFrame:
    """Window-function class (SURVEY §2.6) — running sum over exact cents."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("bigint"))
            .over(w)
            .alias("running_cents"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q22_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
)
def q22(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap session ids via lag + running sum
    (the batch twin of streaming session windows)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        e.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wsum))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id", "session_id")
    )


@query(
    "q23_asof_join",
    """
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        FROM orders) t WHERE rn = 1
    )
    SELECT e.event_id, e.user_id,
           coalesce(r.o_orderkey, -1) AS last_order_key
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    ORDER BY event_id
    """,
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (operators.asof): each event picks the latest order of
    that customer at or before the event time.  No-match rows emit -1
    like q44 — a NULL in a bigint output floats the whole column under
    pandas conversion."""
    from .operators.asof import asof_join

    e = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    # as-of requires the right side unique per (key, time); keep the
    # highest orderkey per (custkey, orderdate).
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    o = (
        _t(spark, sf, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumnRenamed("o_custkey", "user_id")
    )
    joined = asof_join(
        e,
        o,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        value_col="o_orderkey",
        out_col="last_order_key",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("last_order_key"), F.lit(-1)).alias("last_order_key"),
    ).orderBy("event_id")


@query(
    "q44_asof_forward",
    """
    WITH r AS (
      SELECT o_custkey, o_orderdate, o_orderkey FROM (
        SELECT *, row_number() OVER (
          PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
        FROM orders) t WHERE rn = 1
    )
    SELECT e.event_id, e.user_id,
           coalesce(r.o_orderkey, -1) AS next_order_key
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.o_custkey AND e.ts <= r.o_orderdate
    ORDER BY event_id
    """,
)
def q44(spark: SparkSession, sf: str) -> DataFrame:
    """FORWARD as-of join: each event picks the customer's earliest
    order at or after the event time (asof_join direction='forward' —
    same union+window plan, reversed time order).  No-match rows emit
    -1, not NULL: a NULL in a bigint output turns the whole column
    float64 under pandas conversion (same hasher hazard as DECIMAL)."""
    from .operators.asof import asof_join

    e = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    o = (
        _t(spark, sf, "orders")
        .select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumnRenamed("o_custkey", "user_id")
    )
    joined = asof_join(
        e,
        o,
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        value_col="o_orderkey",
        out_col="next_order_key",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("next_order_key"), F.lit(-1)).alias("next_order_key"),
    ).orderBy("event_id")


@query(
    "q45_salted_join",
    """
    SELECT s.s_nationkey,
           count(*) AS n_lines,
           CAST(sum(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_qty_cents
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey ORDER BY s_nationkey
    """,
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    """Salted join parity: the deterministic-salt join (operators/skew.py
    — big side's hot keys split 8 ways, small side replicated per salt)
    must produce exactly the plain join's results, which the oracle
    computes."""
    from .operators.skew import salted_join

    li = _t(spark, sf, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        "l_orderkey",
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("qty_cents"),
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, s, key="suppkey", salt_from="l_orderkey", factor=8)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("qty_cents").alias("sum_qty_cents"),
        )
        .orderBy("s_nationkey")
    )


@query(
    "q46_nullsafe_join",
    """
    WITH k AS (
      SELECT event_id,
             CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS BIGINT) AS k_val
      FROM events
    ), d AS (
      SELECT DISTINCT k_val FROM k
    ), c AS (
      SELECT k_val, count(*) AS n FROM k GROUP BY k_val
    )
    SELECT coalesce(CAST(d.k_val AS VARCHAR), 'NULL') AS k_str, c.n
    FROM d JOIN c ON d.k_val IS NOT DISTINCT FROM c.k_val
    ORDER BY k_str
    """,
)
def q46(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (IS NOT DISTINCT FROM / eqNullSafe):
    NULL keys MATCH each other — a plain equi-join silently drops them,
    the classic joins-on-extracted-optional-fields bug.  The key is
    emitted as a string with a 'NULL' sentinel (nullable numeric
    outputs go float64 under pandas conversion)."""
    e = _t(spark, sf, "events")
    k = e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k_val"),
    )
    d = k.select("k_val").distinct()
    c = k.groupBy("k_val").agg(F.count("*").alias("n"))
    return (
        d.join(c, d.k_val.eqNullSafe(c.k_val))
        .select(
            F.coalesce(d.k_val.cast("string"), F.lit("NULL")).alias("k_str"),
            "n",
        )
        .orderBy("k_str")
    )


@query(
    "q24_pivot_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS n_click,
           count(*) FILTER (WHERE event_type = 'view')     AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           count(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (wide conditional aggregation) of event types per user."""
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in types
        ],
    ).orderBy("user_id")


@query(
    "q25_cube",
    """
    SELECT coalesce(event_type, 'ALL') AS etype,
           coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_mod,
           count(*) AS n
    FROM events GROUP BY CUBE (event_type, CAST(user_id % 10 AS VARCHAR))
    ORDER BY etype, user_mod
    """,
)
def q25(spark: SparkSession, sf: str) -> DataFrame:
    """Cube (grouping-sets class, SURVEY §2.4 ABSENT row)."""
    e = _t(spark, sf, "events").withColumn(
        "user_mod_raw", (F.col("user_id") % 10).cast("string")
    )
    return (
        e.cube("event_type", "user_mod_raw")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("user_mod_raw"), F.lit("ALL")).alias("user_mod"),
            "n",
        )
        .orderBy("etype", "user_mod")
    )


@query(
    "q26_distinct_exact",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q26(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct aggregation (exact; the approx sketch twin is
    ``approx_distinct_users`` with a rows-only check)."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


@query(
    "q28_unpivot",
    """
    WITH w AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'click')    AS n_click,
             count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
      FROM events GROUP BY user_id
    )
    SELECT user_id, metric, n FROM (
      SELECT user_id, 'n_click' AS metric, n_click AS n FROM w
      UNION ALL
      SELECT user_id, 'n_purchase' AS metric, n_purchase AS n FROM w
    ) t ORDER BY user_id, metric
    """,
)
def q28(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (wide→long melt) of per-user conditional counts."""
    e = _t(spark, sf, "events")
    wide = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchase"),
    )
    return (
        wide.unpivot(
            ["user_id"], ["n_click", "n_purchase"], "metric", "n"
        )
        .orderBy("user_id", "metric")
    )


@query(
    "q29_interval_join",
    """
    SELECT a.event_id, CAST(count(*) AS BIGINT) AS n_nearby
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id <> b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120000000
    GROUP BY a.event_id ORDER BY a.event_id
    """,
)
def q29(spark: SparkSession, sf: str) -> DataFrame:
    """Interval (range) join: events within ±2 minutes of each other per
    user, via bucketize + 3-offset equi-join (operators/rangejoin.py) —
    equi-join-shaped shuffle instead of a theta join, candidate fan-out
    bounded by bucket occupancy."""
    from .operators.rangejoin import interval_join

    e = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    joined = interval_join(e, e, "user_id", "ts", "ts", max_gap_us=120_000_000)
    return (
        joined.filter(F.col("event_id") != F.col("event_id_r"))
        .groupBy("event_id")
        .agg(F.count("*").alias("n_nearby"))
        .orderBy("event_id")
    )


@query(
    "q30_skewed_agg",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
             AS sum_qty_cents
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q30(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-proof aggregation: 3 hot group keys (l_returnflag) summed
    via deterministic-salt two-stage agg (operators/skew.py) — partials
    per (key, salt) bound every reducer's fan-in; result identical to
    the plain groupBy the oracle computes."""
    from .operators.skew import two_stage_agg

    li = _t(spark, sf, "lineitem").withColumn(
        "qty_cents",
        (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint"),
    )
    return two_stage_agg(
        li, key="l_returnflag", agg_col="qty_cents", salt_from="l_orderkey"
    ).orderBy("l_returnflag")


@query(
    "q32_quantiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    """Exact grouped quantiles: Spark ``percentile`` and DuckDB
    ``quantile_cont`` share the (n-1)*p linear-interpolation definition,
    so the doubles agree bit-for-bit (verified).  At 100 TB swap in
    ``percentile_approx`` with a bounds-flag oracle like
    approx_distinct_users."""
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50"),
            F.percentile("value", 0.9).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "q33_grouped_topk",
    f"""
    SELECT lang, doc_id, n_tokens, rn AS rank FROM (
      SELECT lang, doc_id,
             CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY len({_TOKS_SQL}) DESC, doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 3 ORDER BY lang, rank
    """,
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped top-k (3 longest documents per language) — the per-group
    selection every curation pipeline needs; WindowGroupLimit pushes
    the rank filter below the sort at scale."""
    d = _t(spark, sf, "documents").select(
        "lang",
        "doc_id",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("n_tokens").desc(), "doc_id")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("lang", "doc_id", "n_tokens", "rank")
        .orderBy("lang", "rank")
    )


@query(
    "q37_range_window",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_cents
    FROM events ORDER BY user_id, event_id
    """,
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-frame window (SURVEY §2.6): trailing 1-hour sum per user by
    event-time distance, not row count — peer rows at equal timestamps
    are included by both engines' RANGE semantics."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        _t(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("bigint"))
            .over(w)
            .alias("hour_cents"),
        )
        .orderBy("user_id", "event_id")
    )


@query(
    "q38_window_misc",
    """
    SELECT o_orderkey,
           ntile(4) OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           lead(o_orderkey, 1, -1) OVER w AS next_key
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-statistics window functions (ntile / percent_rank /
    cume_dist / lead-with-default) under a total order — exact rational
    doubles, identical in both engines.

    Scale note: an unpartitioned window is inherently one task; global
    ranking at 100 TB goes through rangepartition + per-range offsets
    (or approx quantile buckets, q32).  This query pins the function
    semantics, not the global-sort strategy."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf, "orders")
        .select(
            "o_orderkey",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.lead("o_orderkey", 1, -1).over(w).alias("next_key"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "approx_quantiles_bounded",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           true AS p50_ok, true AS p99_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_quantiles_q(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-quantile sketch (Greenwald-Khanna family) with the
    bounds-flag pattern: percentile_approx at accuracy 1000 must land
    within the value range spanned by the exact percentile +/- 2% of
    rank — the 100 TB substitute for q32's exact sort-based quantiles.
    Deterministic for fixed data; the exact-SQL oracle asserts the
    flags."""
    e = _t(spark, sf, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile_approx("value", 0.5, 1000).alias("a50"),
        F.percentile_approx("value", 0.99, 1000).alias("a99"),
        F.percentile("value", 0.48).alias("lo50"),
        F.percentile("value", 0.52).alias("hi50"),
        F.percentile("value", 0.97).alias("lo99"),
        F.percentile("value", 1.0).alias("hi99"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "p50_ok"
        ),
        ((F.col("a99") >= F.col("lo99")) & (F.col("a99") <= F.col("hi99"))).alias(
            "p99_ok"
        ),
    ).orderBy("event_type")


@query(
    "approx_hll_mergeable",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS merged_within_bounds
    FROM events
    """,
)
def approx_hll_mergeable_q(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch MERGEABILITY — the property that makes sketches work on a
    cluster: HLL sketches built independently on two disjoint halves of
    the data (even/odd event ids), merged with hll_union, must estimate
    the full distinct-user count within 15% of exact.  The oracle
    asserts the flag plus the exact count."""
    e = _t(spark, sf, "events")
    merged = (
        e.withColumn("half", (F.col("event_id") % 2).cast("int"))
        .groupBy("half")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est"))
    )
    exact = e.agg(F.countDistinct("user_id").alias("n_exact"))
    # combine the two 1-row aggregates by union + max, NOT a join: a
    # 1-row x 1-row join plans as BroadcastNestedLoopJoin (banned)
    combined = exact.select(
        F.col("n_exact").cast("double").alias("n_exact"),
        F.lit(None).cast("double").alias("n_est"),
    ).unionByName(
        merged.select(
            F.lit(None).cast("double").alias("n_exact"),
            F.col("n_est").cast("double").alias("n_est"),
        )
    )
    return combined.agg(
        F.max("n_exact").cast("bigint").alias("n_exact"),
        (
            F.abs(F.max("n_est") - F.max("n_exact"))
            <= F.max("n_exact") * F.lit(0.15)
        ).alias("merged_within_bounds"),
    )


#: approx_heavy_hitters count-min sketch geometry.  W=16 is chosen
#: BELOW the test vocabulary (~40 types) so bucket collisions actually
#: occur and the min-over-depth estimator is exercised (W >> vocab
#: would make est == exact trivially); at 100 TB W is the accuracy
#: lever (W ≈ e/ε counters per row — still kilobytes, the whole
#: sketch is D×W counters regardless of corpus size).
CMS_D = 4
CMS_W = 16
CMS_TOPK = 10


def _cms_bucket_sql(tok_expr: str, j_expr: str) -> str:
    """DuckDB twin of ``portable_hash64(tok, seed=f"cms{j}") % CMS_W``
    with the depth index as a SQL column."""
    return (
        f"CAST('0x' || substr(md5('cms' || CAST({j_expr} AS VARCHAR) "
        f"|| ':' || {tok_expr}), 1, 15) AS BIGINT) % {CMS_W}"
    )


@query(
    "approx_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT u.t AS tok FROM documents, unnest({_TOKS_SQL}) AS u(t)
    ), ex AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM tok GROUP BY tok
    ), topk AS (
      SELECT tok, n_exact FROM (
        SELECT tok, n_exact,
               row_number() OVER (ORDER BY n_exact DESC, tok) AS rn
        FROM ex
      ) t WHERE rn <= {CMS_TOPK}
    ), sk AS (
      SELECT r.j AS j, {_cms_bucket_sql('tok.tok', 'r.j')} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM tok CROSS JOIN range({CMS_D}) r(j)
      GROUP BY 1, 2
    ), est AS (
      SELECT k.tok, k.n_exact, min(s.c) AS est
      FROM topk k
      CROSS JOIN range({CMS_D}) r(j)
      JOIN sk s ON s.j = r.j
               AND s.bucket = {_cms_bucket_sql('k.tok', 'r.j')}
      GROUP BY k.tok, k.n_exact
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok
    )
    SELECT e.tok, e.n_exact, CAST(e.est AS BIGINT) AS est,
           e.est >= e.n_exact AS never_under,
           (e.est - e.n_exact) * {CMS_W} <= 2 * t.n_total AS within_eps
    FROM est e CROSS JOIN tot t
    ORDER BY n_exact DESC, tok
    """,
)
def approx_heavy_hitters_q(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy hitters via a COUNT-MIN sketch (Cormode & Muthukrishnan
    2005) built with plain DataFrame aggregation — the third mergeable
    sketch in the approx family (HLL: distinct, GK: quantiles, CMS:
    frequencies).  Each of ``CMS_D`` hash rows buckets every token
    into ``CMS_W`` counters; a token's estimate is the MIN of its
    bucket counts across rows.  The output pins both sketch
    guarantees per heavy hitter: ``never_under`` (CMS never
    underestimates — structural, holds for every token) and
    ``within_eps`` (overestimate ≤ 2·N/W on this data).

    Scale shape / why this is the cluster-native form: the sketch is a
    ``groupBy(j, bucket).count()`` — Spark's partial aggregation IS
    the CMS merge (counters add), so the shuffle carries at most
    D×W×partitions pre-merged rows no matter the corpus size, and the
    final sketch is D×W = {CMS_D}×{CMS_W} counters.  Estimation joins
    the candidate set (top-k, bounded) against the sketch on
    (j, bucket) — AQE broadcasts the sketch side at runtime (bounded
    aggregate, not forced).  The one-row total-token aggregate
    attaches via the constant-key broadcast (:func:`_attach_scalar`).
    """
    from .functions.hashing import portable_hash64

    from .operators.iterutils import fan_out

    # fan the narrow scan out before tokenizing (round 13, guide
    # §2.5): the token table is consumed by THREE branches (exact
    # counts, the D×md5-per-token sketch build, the total) and each
    # re-runs tokenize+hash fused into the single-task scan stage —
    # profiled 9.4 s of executor time all in 1-task stages; no-op on
    # pre-split inputs at scale
    d = fan_out(_t(spark, sf, "documents"))
    tok = d.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    ex = tok.groupBy("tok").agg(F.count("*").cast("bigint").alias("n_exact"))
    # orderBy+limit, NOT a global row_number window: Spark plans this
    # as TakeOrderedAndProject (per-partition top-k, then a k-sized
    # merge on one task) — the distinct-token relation is
    # vocabulary-sized here but corpus-scale in general, and a
    # partitionless window would drag all of it through one task.
    topk = ex.orderBy(F.col("n_exact").desc(), "tok").limit(CMS_TOPK)

    def bucket(tok_col):
        return [
            F.struct(
                F.lit(j).alias("j"),
                (portable_hash64(tok_col, seed=f"cms{j}") % CMS_W).alias(
                    "bucket"
                ),
            )
            for j in range(CMS_D)
        ]

    sk = (
        tok.select(F.explode(F.array(*bucket(F.col("tok")))).alias("p"))
        .select("p.j", "p.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    est = (
        topk.select(
            "tok",
            "n_exact",
            F.explode(F.array(*bucket(F.col("tok")))).alias("p"),
        )
        .select("tok", "n_exact", "p.j", "p.bucket")
        .join(sk, ["j", "bucket"])
        .groupBy("tok", "n_exact")
        .agg(F.min("c").cast("bigint").alias("est"))
    )
    tot = tok.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        _attach_scalar(est, tot, "n_exact")
        .select(
            "tok",
            "n_exact",
            "est",
            (F.col("est") >= F.col("n_exact")).alias("never_under"),
            (
                (F.col("est") - F.col("n_exact")) * CMS_W
                <= 2 * F.col("n_total")
            ).alias("within_eps"),
        )
        .orderBy(F.col("n_exact").desc(), "tok")
    )


#: docs_source_overlap KMV (k-minimum-values / theta) sketch geometry:
#: k = 64 minima per source over the 60-bit portable-hash domain.
KMV_K = 64
KMV_DOMAIN = 1 << 60  # portable_hash64 range: 15 hex digits of md5


def _kmv_overlap_oracle(k: int = KMV_K) -> str:
    # (k-1)·2^60 overflows BIGINT; 63·2^60 is exact in DOUBLE
    # (63 < 2^53 times a power of two), and both engines then perform
    # the identical single correctly-rounded division + floor.
    numer = float((k - 1) * KMV_DOMAIN)
    return f"""
WITH sh AS (
  SELECT source,
         list_distinct(list_transform(range(greatest(len(t)-2, 0)),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
  FROM (SELECT source, {_TOKS_SQL} AS t FROM documents)
), ex AS (
  SELECT DISTINCT source, {portable_hash64_sql('s', 'kmv')} AS h
  FROM (SELECT source, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0)
), rk AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM ex
), sk AS (
  SELECT source, h FROM rk WHERE rn <= {k}
), prs AS (
  SELECT DISTINCT a.source AS src_a, b.source AS src_b
  FROM sk a JOIN sk b ON a.h = b.h AND a.source < b.source
), u AS (
  SELECT src_a, src_b, h,
         max(CASE WHEN tag = 'a' THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN tag = 'b' THEN 1 ELSE 0 END) AS in_b
  FROM (
    SELECT p.src_a, p.src_b, s.h, 'a' AS tag
    FROM prs p JOIN sk s ON s.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, s.h, 'b' AS tag
    FROM prs p JOIN sk s ON s.source = p.src_b
  ) t GROUP BY 1, 2, 3
), r AS (
  SELECT src_a, src_b, h, in_a, in_b,
         row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS urn
  FROM u
), agg AS (
  SELECT src_a, src_b,
         CAST(least({k}, count(*)) AS BIGINT) AS kk,
         CAST(count(*) AS BIGINT) AS n_union,
         CAST(sum(CASE WHEN urn <= {k} AND in_a = 1 AND in_b = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS shared,
         max(CASE WHEN urn <= {k} THEN h END) AS kth
  FROM r GROUP BY 1, 2
)
SELECT src_a, src_b, kk, shared,
       CAST(CASE WHEN n_union < {k} THEN n_union
                 ELSE floor({numer} / kth) END AS BIGINT) AS est_union,
       CAST(floor(CAST(shared AS DOUBLE)
                  * (CASE WHEN n_union < {k} THEN n_union
                          ELSE floor({numer} / kth) END)
                  / kk) AS BIGINT) AS est_intersection
FROM agg ORDER BY src_a, src_b
"""


def kmv_source_overlap(d: DataFrame, k: int = KMV_K) -> DataFrame:
    """The docs_source_overlap computation over any (source, text)
    frame — parameterized so the accuracy test can drive it with a
    corpus of KNOWN overlap."""
    from .functions.hashing import portable_hash64
    from .operators.iterutils import fan_out, iter_checkpoint
    from .operators.skew import grouped_bottomk

    # fan the narrow scan out before the shingle explode (round 13,
    # guide §2.5): shingle + md5-per-shingle is the one corpus-sized
    # pass and it was fused into the single-task scan stage
    # (profiled: the 1-task sketch-build stage is the operator's
    # dominant cost); no-op on pre-split inputs at scale
    ex = fan_out(d).select(
        "source", F.explode(TX.word_shingles(F.col("text"), 3)).alias("s")
    )
    dist = ex.select(
        "source", portable_hash64(F.col("s"), seed="kmv").alias("h")
    ).distinct()
    # the sketch table is referenced FOUR times below (both sides of
    # the pair join, both tag arms) and its subtree is the one
    # corpus-sized pass (shingle explode → md5 → distinct → salted
    # bottom-k window); at sources × k rows it is exactly the
    # narrow-after-projection shape the round-9 checkpoint audit
    # showed wins 20-40% — materialize once, not four times
    sk = iter_checkpoint(
        grouped_bottomk(dist, "source", "h", k).select("source", "h"),
        eager=False,
    )

    a, b = sk.alias("a"), sk.alias("b")
    prs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .select(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .distinct()
    )
    tagged = (
        prs.join(sk.withColumnRenamed("source", "src_a"), "src_a")
        .select("src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            prs.join(sk.withColumnRenamed("source", "src_b"), "src_b")
            .select("src_a", "src_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
    )
    u = tagged.groupBy("src_a", "src_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("src_a", "src_b").orderBy("h")
    r = u.withColumn("urn", F.row_number().over(w))
    agg = r.groupBy("src_a", "src_b").agg(
        F.least(F.lit(k), F.count("*")).cast("bigint").alias("kk"),
        F.count("*").cast("bigint").alias("n_union"),
        F.sum(
            F.when(
                (F.col("urn") <= k) & (F.col("in_a") == 1) & (F.col("in_b") == 1),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("shared"),
        F.max(F.when(F.col("urn") <= k, F.col("h"))).alias("kth"),
    )
    numer = float((k - 1) * KMV_DOMAIN)
    est_union = F.when(
        F.col("n_union") < k, F.col("n_union")
    ).otherwise(F.floor(F.lit(numer) / F.col("kth")))
    return agg.select(
        "src_a",
        "src_b",
        "kk",
        "shared",
        est_union.cast("bigint").alias("est_union"),
        F.floor(F.col("shared").cast("double") * est_union / F.col("kk"))
        .cast("bigint")
        .alias("est_intersection"),
    ).orderBy("src_a", "src_b")


@query("docs_source_overlap", _kmv_overlap_oracle())
def docs_source_overlap_q(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise corpus-overlap estimation between sources via KMV
    (k-minimum-values / theta) sketches (Beyer et al. 2007; the
    DataSketches theta family) — the fourth mergeable sketch in the
    approx family (HLL: distinct, GK: quantiles, CMS: frequencies,
    KMV: set intersections, which HLL cannot do).  Each source keeps
    its k=64 smallest distinct shingle hashes; for a pair, the k
    smallest of the sketch UNION form a uniform sample of the union,
    so distinct-union ≈ (k−1)·2^60/kth-min and intersection ≈
    (shared-in-top-k / k) · union.  Everything emitted is
    exact-integer (hash counts and floors of identical
    correctly-rounded float64 expressions), so the oracle runs the
    SAME estimator, not a tolerance band; the estimator's ACCURACY
    against exact overlap is pinned separately in
    tests/test_dedup_similarity.py.  Pairs with disjoint sketches are
    absent (their estimate is 0) — that convention is what lets pair
    enumeration be an equi-join on sketch hash instead of a banned
    source×source cross join.

    Scale shape: the corpus is touched ONCE, map-only, to shingle and
    hash (distinct + per-source bottom-k via
    operators/skew.py::grouped_bottomk — the salted two-stage window,
    so one dominant source cannot pile its whole shingle set on one
    reducer).  Everything after the sketch build operates on ≤
    sources × k rows — control-plane sized, AQE broadcasts freely.
    At 100 TB: sketches for 10^5 sources are 10^5 × 64 longs; the
    pair stage only materializes pairs that actually collide."""
    return kmv_source_overlap(_t(spark, sf, "documents"), k=KMV_K)


@query(
    "q39_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
                AS BIGINT) AS gid,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority, gid
    """,
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS with explicit grouping() markers (the
    class rollup/cube can't express: disjoint sets + the grand total,
    no (status, priority) pair).  The grouping id is composed
    explicitly as 2*g(status)+g(priority) because engines disagree on
    native grouping_id bit order.  Uses the SQL surface over a direct
    parquet table reference — no temp-view state."""
    return spark.sql(
        f"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
                    AS BIGINT) AS gid,
               count(*) AS n
        FROM parquet.`{sf}/orders.parquet`
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority, gid
        """
    )


@query(
    "q40_stats_agg",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_vals,
           true AS corr_ok, true AS stddev_ok, true AS covar_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q40(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical-aggregate class: corr / stddev_samp / covar_samp.
    Engines use different summation algorithms (naive vs Welford), so
    the declared output cross-checks Spark's aggregates against
    textbook recomputations FROM THE SAME engine's avgs inside the
    query and emits relative-tolerance flags the exact-SQL oracle
    asserts — the q34 pattern for float aggregates."""
    e = _t(spark, sf, "events").withColumn(
        "v2", F.col("value") * F.col("value")
    ).withColumn("uid_d", F.col("user_id").cast("double"))
    agg = e.groupBy("event_type").agg(
        F.count("value").alias("n_vals"),
        F.corr("value", "uid_d").alias("corr_s"),
        F.stddev_samp("value").alias("sd_s"),
        F.covar_samp("value", "uid_d").alias("cv_s"),
        F.avg("value").alias("m_v"),
        F.avg("uid_d").alias("m_u"),
        F.avg(F.col("value") * F.col("uid_d")).alias("m_vu"),
        F.avg("v2").alias("m_v2"),
        F.avg(F.col("uid_d") * F.col("uid_d")).alias("m_u2"),
    )
    n = F.col("n_vals").cast("double")
    cov_ref = (F.col("m_vu") - F.col("m_v") * F.col("m_u")) * n / (n - 1)
    var_ref = (F.col("m_v2") - F.col("m_v") * F.col("m_v")) * n / (n - 1)
    varu_ref = (F.col("m_u2") - F.col("m_u") * F.col("m_u")) * n / (n - 1)
    corr_ref = cov_ref / F.sqrt(var_ref * varu_ref)

    def ok(a, b):
        return F.abs(a - b) <= F.greatest(F.abs(b) * F.lit(1e-6), F.lit(1e-9))

    return agg.select(
        "event_type",
        F.col("n_vals").cast("bigint").alias("n_vals"),
        ok(F.col("corr_s"), corr_ref).alias("corr_ok"),
        ok(F.col("sd_s"), F.sqrt(var_ref)).alias("stddev_ok"),
        ok(F.col("cv_s"), cov_ref).alias("covar_ok"),
    ).orderBy("event_type")


@query(
    "q41_string_funcs",
    """
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
           translate(p_name, 'ae', 'AE') AS translated,
           CAST(levenshtein(p_brand, 'Brand#1') AS BIGINT) AS lev,
           reverse(p_brand) AS rev,
           left(p_name, 5) AS l5,
           right(p_name, 5) AS r5
    FROM part ORDER BY p_partkey
    """,
)
def q41(spark: SparkSession, sf: str) -> DataFrame:
    """String-function class: lpad / translate / levenshtein (fuzzy
    matching) / reverse / left / right — parity across the common
    built-in surface."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded"),
        F.translate("p_name", "ae", "AE").alias("translated"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#1")).cast("bigint").alias("lev"),
        F.reverse("p_brand").alias("rev"),
        F.left(F.col("p_name"), F.lit(5)).alias("l5"),
        F.right(F.col("p_name"), F.lit(5)).alias("r5"),
    ).orderBy("p_partkey")


@query(
    "q42_datetime_funcs",
    """
    SELECT o_orderkey,
           CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
           CAST(date_part('month', o_orderdate) AS BIGINT) AS mo,
           CAST(date_part('dow', o_orderdate) AS BIGINT) AS dow,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
             AS days_since
    FROM orders ORDER BY o_orderkey
    """,
)
def q42(spark: SparkSession, sf: str) -> DataFrame:
    """Datetime-function class: component extraction, month boundaries,
    interval arithmetic, day differences.  Day-of-week numbering
    differs across engines (Spark Sunday=1, DuckDB Sunday=0) — the
    Spark side subtracts 1 to pin a single convention."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("dow"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_add("o_orderdate", 30), "yyyy-MM-dd").alias("plus30"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
    ).orderBy("o_orderkey")


@query(
    "q47_udtf_enumerate",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 50
    )
    -- parallel unnests zip positionally in DuckDB (no WITH ORDINALITY)
    SELECT doc_id,
           CAST(unnest(range(len(toks))) AS BIGINT) AS token_idx,
           unnest(toks) AS token
    FROM t ORDER BY doc_id, token_idx
    """,
)
def q47(spark: SparkSession, sf: str) -> DataFrame:
    """UDTF surface (SURVEY §2.8): a Python user-defined TABLE function
    enumerating (token_idx, token) rows per document — the 1→N lateral
    shape.  UDTFs are the row-at-a-time slow path (hence the doc_id <
    50 slice and the preference for explode/posexplode in production
    plans); this query pins the API surface and its oracle is the
    equivalent lateral unnest WITH ORDINALITY."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token_idx bigint, token string")
    class Enumerate:
        def eval(self, text: str):
            toks = text.split() if text is not None else []
            for i, tok in enumerate(toks):
                yield i, tok

    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    # lateral join the UDTF against each row's text
    d.createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("enumerate_tokens", Enumerate)
    out = spark.sql(
        """
        SELECT d.doc_id, t.token_idx, t.token
        FROM __udtf_docs d, LATERAL enumerate_tokens(d.text) t
        """
    )
    return out.orderBy("doc_id", "token_idx")


@query(
    "q76_profile_events",
    """
    WITH m AS (
      SELECT 'event_id' AS col_name, count(*) AS n_rows,
             sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_null,
             count(DISTINCT event_id) AS n_distinct,
             min(event_id) AS lo, max(event_id) AS hi
      FROM events
      UNION ALL
      SELECT 'event_type', count(*),
             sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT event_type), -1, -1
      FROM events
      UNION ALL
      SELECT 'props', count(*),
             sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT props), -1, -1
      FROM events
      UNION ALL
      SELECT 'ts', count(*),
             sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT ts), min(epoch_us(ts)), max(epoch_us(ts))
      FROM events
      UNION ALL
      SELECT 'user_id', count(*),
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT user_id), min(user_id), max(user_id)
      FROM events
      UNION ALL
      SELECT 'value', count(*),
             sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT value),
             min(CAST(floor(value * 100 + 0.5) AS BIGINT)),
             max(CAST(floor(value * 100 + 0.5) AS BIGINT))
      FROM events
    )
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi
    FROM m ORDER BY col_name
    """,
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    """ONE-PASS column profiling (the deequ/dataset-summary shape):
    null count, exact distinct count, and an integer-encoded min/max
    for every column of events, computed in a SINGLE aggregation over
    ONE scan — Spark plans the six count(DISTINCT) via one Expand
    (rows × columns pre-aggregation), not six scans; the oracle's
    per-column UNION ALL is the readable but 6-scan equivalent.
    Non-orderable/string columns carry the -1 sentinel (NULLs in
    numeric outputs float pandas columns — the repo's standing rule);
    doubles are profiled in e2-quantized integer cents and timestamps
    as epoch micros, so every emitted number is exact-integer
    cross-engine.  At 100 TB: profiling cost is one corpus pass with
    an expand factor equal to the distinct-counted column count; for
    wider tables swap exact distincts for HLL
    (approx_count_distinct) column-by-column — same single-pass
    shape, fixed-size state."""
    e = _t(spark, sf, "events")
    n1 = F.lit(-1).cast("bigint")

    def prof(name, col, lo=None, hi=None):
        return F.struct(
            F.lit(name).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(col.isNull().cast("long")).alias("n_null"),
            F.count_distinct(col).alias("n_distinct"),
            (lo if lo is not None else n1).cast("bigint").alias("lo"),
            (hi if hi is not None else n1).cast("bigint").alias("hi"),
        )

    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    row = e.agg(
        F.array(
            prof("event_id", F.col("event_id"),
                 F.min("event_id"), F.max("event_id")),
            prof("event_type", F.col("event_type")),
            prof("props", F.col("props")),
            prof("ts", F.col("ts"),
                 F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))),
            prof("user_id", F.col("user_id"),
                 F.min("user_id"), F.max("user_id")),
            prof("value", F.col("value"), F.min(cents), F.max(cents)),
        ).alias("profiles")
    )
    return (
        row.select(F.explode("profiles").alias("p"))
        .select("p.*")
        .withColumn("n_rows", F.col("n_rows").cast("bigint"))
        .withColumn("n_null", F.col("n_null").cast("bigint"))
        .withColumn("n_distinct", F.col("n_distinct").cast("bigint"))
        .orderBy("col_name")
    )


@query(
    "q77_integrity_checks",
    """
    WITH c AS (
      SELECT 'events_user_fk' AS check_name,
             (SELECT count(*) FROM events e
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = e.user_id)) AS n_violations
      UNION ALL
      SELECT 'events_value_range',
             (SELECT count(*) FROM events
              WHERE value IS NULL OR value < 0 OR value > 1000000)
      UNION ALL
      SELECT 'lineitem_orders_fk',
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'orders_customer_fk',
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'orders_pk_unique',
             (SELECT count(*) FROM (
                SELECT o_orderkey FROM orders
                GROUP BY o_orderkey HAVING count(*) > 1))
    )
    SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM c ORDER BY check_name
    """,
)
def q77(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style data-quality / integrity suite: referential
    integrity as LEFT ANTI joins (orders→customer, lineitem→orders,
    events→customer — the last one legitimately FAILING on this data,
    so the suite demonstrably detects violations, not just vacuous
    passes), primary-key uniqueness as a grouped HAVING count, and a
    value-range completeness check as one filtered aggregate.  Each
    check is the minimal distributed shape for its class — anti joins
    shuffle on the key (AQE broadcasts the dimension side), the
    uniqueness check is one groupBy, the range check one scan — and
    emits a uniform (check_name, n_violations, passed) row, which is
    the contract a quality gate in front of a 100 TB corpus build
    consumes (docs_corpus_build composes the same way)."""
    e = _t(spark, sf, "events")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")

    def check(name, n_col):
        return F.struct(
            F.lit(name).alias("check_name"),
            n_col.cast("bigint").alias("n_violations"),
        ).alias("chk")

    checks = [
        e.join(c, e.user_id == c.c_custkey, "left_anti")
        .agg(check("events_user_fk", F.count(F.lit(1)))),
        e.filter(
            F.col("value").isNull()
            | (F.col("value") < 0)
            | (F.col("value") > 1_000_000)
        ).agg(check("events_value_range", F.count(F.lit(1)))),
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(check("lineitem_orders_fk", F.count(F.lit(1)))),
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(check("orders_customer_fk", F.count(F.lit(1)))),
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(check("orders_pk_unique", F.count(F.lit(1)))),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out.select(
        "chk.check_name",
        "chk.n_violations",
        (F.col("chk.n_violations") == 0).alias("passed"),
    ).orderBy("check_name")


_Q78_SQL = """
SELECT c.c_custkey, l.o_orderkey AS latest_order
FROM {customer} c,
LATERAL (
  SELECT o_orderkey
  FROM {orders} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_orderdate DESC, o_orderkey DESC
  LIMIT 1
) l
ORDER BY c.c_custkey
"""


@query(
    "q78_lateral_topk",
    _Q78_SQL.format(customer="customer", orders="orders"),
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL table subquery with ORDER BY + LIMIT — the
    top-1-per-correlation planning class (each customer's most recent
    order).  Catalyst DECORRELATES it into a WindowGroupLimit
    (map-side partial top-1 per o_custkey BEFORE the shuffle, then a
    final top-1) joined back on the key — the plan one would
    hand-write with a window, derived from the declarative correlated
    form.  Customers with no orders drop (inner lateral), identically
    in both engines.  At 100 TB the partial WindowGroupLimit is the
    part that matters: the shuffle carries at most one row per
    (partition, customer), not the order history."""
    return spark.sql(
        _Q78_SQL.format(
            customer=f"parquet.`{sf}/customer.parquet`",
            orders=f"parquet.`{sf}/orders.parquet`",
        )
    )


@query(
    "q49_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
      WHERE o_orderkey % 97 <> 0
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_orderpriority
      FROM orders WHERE o_orderkey % 101 <> 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                WHEN o.o_orderstatus <> n.o_orderstatus
                     OR o.o_orderpriority <> n.o_orderpriority THEN 'changed'
           END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_orderpriority <> n.o_orderpriority
    ORDER BY o_orderkey, change_type
    """,
)
def q49(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot diff / CDC (operators/snapshot_diff.py): two derived
    versions of the orders table (some keys deleted from each side,
    some statuses rewritten) → inserted/deleted/changed keys via one
    fingerprint-comparing full-outer join.  The oracle compares the
    raw columns directly — equivalent because the fingerprint is
    injective over the NULL-tagged column concatenation."""
    from .operators.snapshot_diff import snapshot_diff

    orders = _t(spark, sf, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    new = orders.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderpriority",
    )
    return snapshot_diff(
        old, new, "o_orderkey", ["o_orderstatus", "o_orderpriority"]
    ).orderBy("o_orderkey", "change_type")


@query(
    "q54_exists_subquery",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries through the SQL surface
    (customers with open orders and no finished ones) — Catalyst
    rewrites them to the semi/anti joins q04/q05 express directly; this
    pins the subquery syntax path."""
    return spark.sql(
        f"""
        SELECT c_custkey, c_name FROM parquet.`{sf}/customer.parquet` c
        WHERE EXISTS (SELECT 1 FROM parquet.`{sf}/orders.parquet` o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
          AND NOT EXISTS (SELECT 1 FROM parquet.`{sf}/orders.parquet` o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        ORDER BY c_custkey
        """
    )


@query(
    "q53_try_cast",
    """
    SELECT o_orderkey,
           coalesce(TRY_CAST(o_orderpriority AS BIGINT), -1) AS strict_cast,
           coalesce(TRY_CAST(left(o_orderpriority, 1) AS BIGINT), -1) AS prefix_code
    FROM orders ORDER BY o_orderkey
    """,
)
def q53(spark: SparkSession, sf: str) -> DataFrame:
    """Safe-cast class (try_cast / TRY_CAST): malformed numeric strings
    yield NULL instead of an ANSI error or a silent partial parse —
    '1-URGENT' fails the whole-string cast in BOTH engines (sentinel
    -1), while its first character parses.  The dirty-data casting
    idiom every ingest needs under ANSI mode."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.col("o_orderpriority").try_cast("bigint"), F.lit(-1)
        ).alias("strict_cast"),
        F.coalesce(
            F.left(F.col("o_orderpriority"), F.lit(1)).try_cast("bigint"),
            F.lit(-1),
        ).alias("prefix_code"),
    ).orderBy("o_orderkey")


@query(
    "q52_union_by_name",
    """
    SELECT o_orderkey, o_orderstatus, coalesce(o_orderpriority, 'NONE') AS priority
    FROM (
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderpriority, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1
    )
    ORDER BY o_orderkey
    """,
)
def q52(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution union: two snapshots with different column sets
    combined by NAME with NULL fill (unionByName allowMissingColumns /
    DuckDB UNION ALL BY NAME) — the long-lived-pipeline append
    pattern; positional union would silently misalign columns."""
    o = _t(spark, sf, "orders")
    old_rows = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new_rows = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    return (
        old_rows.unionByName(new_rows, allowMissingColumns=True)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce(F.col("o_orderpriority"), F.lit("NONE")).alias("priority"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q51_regex_rewrite",
    r"""
    SELECT p_partkey,
           regexp_replace(p_name, '^(\w+) (\w+)', '\2 \1') AS swapped,
           regexp_replace(p_name, '(\w+)$', '[\1]') AS bracketed_last
    FROM part ORDER BY p_partkey
    """,
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    """Regex rewrite with capture-group references — the engines use
    DIFFERENT backreference syntax ($1 in Spark/Java, \\1 in
    DuckDB/RE2) for the same semantics; this query pins that the
    rewrites agree.  Note DuckDB replaces only the FIRST match without
    the 'g' flag, matching these anchored single-match patterns."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_replace("p_name", r"^(\w+) (\w+)", r"$2 $1").alias("swapped"),
        F.regexp_replace("p_name", r"(\w+)$", r"[$1]").alias("bracketed_last"),
    ).orderBy("p_partkey")


@query(
    "q50_map_type",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           string_agg(event_type || ':' || CAST(n AS VARCHAR), ','
                      ORDER BY event_type) AS type_counts
    FROM c GROUP BY user_id ORDER BY user_id
    """,
)
def q50(spark: SparkSession, sf: str) -> DataFrame:
    """MAP column type: per-user event-type→count built as a real
    MapType column (map_from_entries), then canonicalized to a sorted
    'k:v' string for hash-stable comparison (map internals aren't
    directly hashable cross-engine; the entries are)."""
    e = _t(spark, sf, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    with_map = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("m")
    )
    entry_strs = F.transform(
        F.map_entries(F.col("m")),
        lambda kv: F.concat(kv["key"], F.lit(":"), kv["value"].cast("string")),
    )
    return (
        with_map.select(
            "user_id",
            F.array_join(F.array_sort(entry_strs), ",").alias("type_counts"),
        )
        .orderBy("user_id")
    )


@query(
    "q48_resample_gapfill",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ), counts AS (
      SELECT date_trunc('hour', ts) AS hour_ts, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT strftime(s.hour_ts, '%Y-%m-%d %H:%M:%S') AS hour_start,
           coalesce(c.n, 0) AS n
    FROM spine s LEFT JOIN counts c USING (hour_ts)
    ORDER BY hour_start
    """,
)
def q48(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series resampling / gap filling: a generated calendar spine
    (sequence of hours between min and max event time) left-joins the
    hourly counts so silent gaps become explicit zero rows — the
    monitoring/feature-pipeline staple a bare groupBy cannot produce.
    The spine generates from a 1-row bounds aggregate (map-side
    explode), then one broadcastable join against the counts."""
    e = _t(spark, sf, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts")
    )
    counts = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_ts")).agg(
        F.count("*").alias("n")
    )
    return (
        spine.join(counts, "hour_ts", "left")
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .orderBy("hour_start")
    )


@query(
    "q43_variant_extract",
    """
    SELECT event_id,
           CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                     THEN json_extract_string(props, '$.k') END
                AS BIGINT) AS k_val,
           (props IS NOT NULL AND json_valid(props)) AS parsed_ok
    FROM events ORDER BY event_id
    """,
)
def q43(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): try_parse_json →
    variant_get with a typed path — the shredding-friendly successor to
    string JSON (q27's get_json_object twin).  Malformed/NULL props
    parse to NULL variant, matching the oracle's json_valid guard."""
    e = _t(spark, sf, "events")
    v = F.try_parse_json(F.col("props"))
    return (
        e.select(
            "event_id",
            F.variant_get(v, "$.k", "bigint").alias("k_val"),
            v.isNotNull().alias("parsed_ok"),
        )
        .orderBy("event_id")
    )


@query(
    "q35_full_outer",
    """
    WITH c AS (
      SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1
    ), s AS (
      SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1
    )
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(c.n_cust, 0) AS n_cust,
           coalesce(s.n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
)
def q35(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer join class: per-nation customer vs supplier counts,
    nations present on either side survive with zero-filled partners."""
    c = (
        _t(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, c.nk_c == s.nk_s, "full_outer")
        .select(
            F.coalesce(F.col("nk_c"), F.col("nk_s")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "q36_intersect",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY custkey
    """,
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    """Set-operation class (SURVEY §2.5) — INTERSECT (q20 covers
    EXCEPT): customers in credit who also have open orders."""
    pos = (
        _t(spark, sf, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
    )
    open_o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return pos.intersect(open_o).orderBy("custkey")


@query(
    "q34_udaf_geomean",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n_vals,
           true AS within_tol
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q34(spark: SparkSession, sf: str) -> DataFrame:
    """UDAF surface (SURVEY §2.8): an Arrow-batched grouped-agg Pandas
    UDF (geometric mean of 1+|value|) cross-checked IN the query
    against the native ``exp(avg(ln(...)))`` formulation.  Float
    summation order differs between numpy and the JVM, so the declared
    output is the exact count plus a relative-tolerance flag the
    exact-SQL oracle asserts — same pattern as approx_distinct_users.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` turns
    # type hints into strings, which PySpark's hint inference rejects
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        import numpy as np

        v = v.dropna()
        if len(v) == 0:
            return float("nan")
        return float(np.exp(np.log1p(np.abs(v.to_numpy())).mean()))

    e = _t(spark, sf, "events")
    # a grouped-agg pandas UDF cannot share an agg() with JVM
    # aggregates — two aggregations joined on the (tiny) group key
    udaf = e.groupBy("event_type").agg(geomean(F.col("value")).alias("gm_udaf"))
    native = e.groupBy("event_type").agg(
        F.count("value").alias("n_vals"),
        F.exp(F.avg(F.log1p(F.abs(F.col("value"))))).alias("gm_native"),
    )
    return (
        native.join(F.broadcast(udaf), "event_type")
        .select(
            "event_type",
            "n_vals",
            (
                F.abs(F.col("gm_udaf") - F.col("gm_native"))
                <= F.abs(F.col("gm_native")) * F.lit(1e-9)
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


@query(
    "q31_ancestor_paths",
    """
    WITH RECURSIVE edges AS (
      SELECT CAST(p_partkey AS VARCHAR) AS symbol, p_brand AS parent FROM part
      UNION
      SELECT DISTINCT p_brand AS symbol, 'ROOT' AS parent FROM part
      UNION
      SELECT 'ROOT' AS symbol, NULL AS parent
    ), paths AS (
      SELECT symbol, parent AS ancestor, 1 AS depth
      FROM edges WHERE parent IS NOT NULL
      UNION ALL
      SELECT p.symbol, e.parent, p.depth + 1
      FROM paths p JOIN edges e ON p.ancestor = e.symbol
      WHERE e.parent IS NOT NULL
    )
    SELECT symbol, ancestor, CAST(depth AS BIGINT) AS depth
    FROM paths ORDER BY symbol, depth, ancestor
    """,
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchy ancestor paths over the part → brand → ROOT tree via
    iterative broadcast self-joins (operators/hierarchy.py); the oracle
    is DuckDB's recursive CTE."""
    from .operators.hierarchy import ancestor_paths

    p = _t(spark, sf, "part")
    edges = (
        p.select(
            F.col("p_partkey").cast("string").alias("symbol"),
            F.col("p_brand").alias("parent"),
        )
        .unionByName(
            p.select(
                F.col("p_brand").alias("symbol"), F.lit("ROOT").alias("parent")
            ).distinct()
        )
        .unionByName(
            _local_df(
                p.sparkSession, [("ROOT", None)], "symbol string, parent string"
            )
        )
        .distinct()
    )
    return (
        ancestor_paths(edges)
        .select("symbol", "ancestor", F.col("depth").cast("bigint").alias("depth"))
        .orderBy("symbol", "depth", "ancestor")
    )


_Q75_SQL = """
WITH RECURSIVE edges AS (
  SELECT CAST(p_partkey AS {str_t}) AS symbol, p_brand AS parent
  FROM {part}
  UNION
  SELECT DISTINCT p_brand AS symbol, 'ROOT' AS parent
  FROM {part}
  UNION
  SELECT 'ROOT' AS symbol, CAST(NULL AS {str_t}) AS parent
), up AS (
  SELECT symbol, parent AS ancestor, 1 AS depth
  FROM edges WHERE parent IS NOT NULL
  UNION ALL
  SELECT u.symbol, e.parent, u.depth + 1
  FROM up u JOIN edges e ON u.ancestor = e.symbol
  WHERE e.parent IS NOT NULL
)
SELECT symbol, CAST(count(*) AS BIGINT) AS n_ancestors,
       CAST(max(depth) AS BIGINT) AS root_depth
FROM up GROUP BY symbol ORDER BY symbol
"""


@query(
    "q75_recursive_closure",
    _Q75_SQL.format(str_t="VARCHAR", part="part"),
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4 ``WITH RECURSIVE`` —
    UnionLoop/UnionLoopRef in the physical plan): ancestor-closure
    aggregates over the part → brand → ROOT tree, the SAME traversal
    q31 performs with explicit iterative broadcast self-joins
    (operators/hierarchy.py).  Having both pins that the engine's
    new recursion planner and the hand-rolled loop agree — and gives
    SQL users the declarative form.  Spark executes one equi-join per
    recursion level against the (aggregated, dimension-sized) edge
    list; depth is bounded by the hierarchy (2 here), and the engine's
    ``spark.sql.cteRecursionLevelLimit`` guards runaway graphs.  Both
    engines run near-identical SQL — only the table reference and
    VARCHAR/STRING spelling differ."""
    return spark.sql(
        _Q75_SQL.format(str_t="STRING", part=f"parquet.`{sf}/part.parquet`")
    )


@query(
    "q27_json_extract",
    """
    SELECT event_id,
           -- json_valid guard: DuckDB raises on malformed JSON where
           -- Spark's get_json_object returns NULL
           CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                     THEN json_extract_string(props, '$.k') END
                AS BIGINT) AS k_val
    FROM events ORDER BY event_id
    """,
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured column handling: JSON path extraction from the
    events.props string column (S-class source-format coverage)."""
    return (
        _t(spark, sf, "events")
        .select(
            "event_id",
            F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k_val"),
        )
        .orderBy("event_id")
    )


@query(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           true AS within_bounds
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_distinct_q(spark: SparkSession, sf: str) -> DataFrame:
    """HyperLogLog-class approximate distinct, oracle-checked by bound.

    The sketch estimate itself is engine-specific, so the declared
    output carries the exact count plus a ``within_bounds`` flag:
    |approx - exact| <= 4x the configured relative standard deviation
    (rsd=0.05 → 20%, far beyond HLL's 3-sigma envelope, and Spark's
    HLL is deterministic for fixed data).  The exact-SQL oracle asserts
    the flag is true for every group — a real tolerance check instead
    of the round-1 rows-only waiver (VERDICT round 1 #4).
    """
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.05).alias("n_approx"),
            F.countDistinct("user_id").alias("n_users_exact"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_users_exact"))
                <= F.col("n_users_exact") * F.lit(0.20)
            ).alias("within_bounds"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Deduplication extensions (training-data pipeline ops)
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    """
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash
    FROM documents
    GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
    ORDER BY keep_id
    """,
)
def dedup_exact_q(spark: SparkSession, sf: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf, "documents")).orderBy("keep_id")


_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(t)-2, 0)),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n
  FROM sh WHERE len(shingles) > 0
), keep AS (
  -- doc-frequency cap (max_doc_freq=1000): boilerplate shingles that
  -- appear in more than 1000 docs are dropped BEFORE the self-join,
  -- mirroring the Spark operator's fan-out bound.
  SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000
), exf AS (
  SELECT ex.doc_id, ex.s, ex.n FROM ex JOIN keep USING (s)
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared,
         any_value(a.n) AS n1, any_value(b.n) AS n2
  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, shared, n1, n2 FROM pairs
WHERE shared * 5 >= 4 * (n1 + n2 - shared)
ORDER BY d1, d2
"""


@query("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_jaccard_q(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs with 3-gram shingle Jaccard ≥ 0.8 (integer-exact).

    ``max_doc_freq=1000`` is the scale lever (VERDICT round 1 #3): it
    bounds every join bucket's fan-out, so one boilerplate shingle can
    never drive a quadratic pair-emit at 100 TB.  The oracle applies the
    same doc-frequency filter.
    """
    pairs = DD.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=3, max_doc_freq=1000
    )
    return (
        pairs.filter(
            DD.jaccard_at_least(
                F.col("shared"), F.col("n1"), F.col("n2"), num=4, den=5
            )
        )
        .select(
            "d1",
            "d2",
            "shared",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
        )
        .orderBy("d1", "d2")
    )


def _minhash_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    from .functions.hashing import MINHASH_MOD, minhash_affine_params

    rows = num_hashes // bands
    params = minhash_affine_params(num_hashes)
    sig_items = ", ".join(
        f"min(({a} * h0 + {b}) % {MINHASH_MOD}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_items = ", ".join(
        "md5('{b},' || {vals})".format(
            b=b,
            vals=" || ',' || ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(t)-2, 0)),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
), h AS (
  SELECT doc_id, {portable_hash64_sql('s', 'mh')} % {MINHASH_MOD} AS h0 FROM ex
), sig_t AS (
  SELECT doc_id, {sig_items} FROM h GROUP BY doc_id
), banded AS (
  SELECT doc_id, unnest([{band_items}]) AS bk FROM sig_t
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
FROM banded a JOIN banded b ON a.bk = b.bk AND a.doc_id < b.doc_id
ORDER BY d1, d2
"""


@query("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_q(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) candidate pairs."""
    return DD.minhash_lsh_pairs(
        _t(spark, sf, "documents"), n=3, num_hashes=16, bands=4
    ).orderBy("d1", "d2")


def _components_oracle() -> str:
    # transitive closure of the minhash candidate graph; component =
    # min reachable node (matching hash-min label propagation)
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_oracle()}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS node, CAST(least(a, min(b)) AS BIGINT) AS component
FROM reach GROUP BY a ORDER BY node
"""


@query("dedup_components", _components_oracle())
def dedup_components_q(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components (hash-min
    label propagation, operators/components.py) over the MinHash-LSH
    candidate graph — the transitive-closure step that turns pair
    emitters into keep-one-per-cluster dedup.  Oracle: DuckDB
    recursive-CTE closure with min-reachable labels."""
    from .operators.components import connected_components

    pairs = DD.minhash_lsh_pairs(
        _t(spark, sf, "documents"), n=3, num_hashes=16, bands=4
    )
    return (
        connected_components(pairs)
        .select("node", F.col("component").cast("bigint").alias("component"))
        .orderBy("node")
    )


def _verified_pairs_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """LSH-candidate + exact-verify pair query (d1, d2, shared, n1, n2),
    Jaccard >= 4/5, NO final ORDER BY — embeddable as a CTE.  Shared by
    dedup_lsh_jaccard and docs_incremental_dedup so the two cannot
    drift."""
    # candidates come from the ONE minhash oracle builder (embedded as a
    # CTE, the _components_oracle pattern) — a second hand-expanded copy
    # of the signature/banding SQL would silently drift from it
    return f"""
WITH cand AS (
  {_minhash_oracle(num_hashes, bands)}
), toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(t)-2, 0)),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
  FROM toks
), exs AS (
  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n
  FROM sh WHERE len(shingles) > 0
)
SELECT c.d1, c.d2, count(*) AS shared,
       any_value(x.n) AS n1, any_value(y.n) AS n2
FROM cand c
JOIN exs x ON x.doc_id = c.d1
JOIN exs y ON y.doc_id = c.d2 AND y.s = x.s
GROUP BY c.d1, c.d2
HAVING count(*) * 5 >= 4 * (any_value(x.n) + any_value(y.n) - count(*))
"""


def _lsh_jaccard_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    return _verified_pairs_sql(num_hashes, bands) + "ORDER BY d1, d2\n"


def _incremental_dedup_oracle(
    corpus_pred_fmt: str = "{c} % 5 <> 0",
) -> str:
    """Batch-vs-corpus incremental dedup oracle.  ``corpus_pred_fmt``
    (formatted with ``c`` = the doc-id column) defines the EFFECTIVE
    standing corpus — the default is everything outside the arrival
    partition; docs_dedup_index_maintained narrows it to
    save ∪ appended − removed, which is exactly what a probe against
    the maintained index must behave as."""
    fp = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
    cp_doc = corpus_pred_fmt.format(c="doc_id")
    cp_d1 = corpus_pred_fmt.format(c="d1")
    cp_d2 = corpus_pred_fmt.format(c="d2")
    return f"""
WITH vp AS (
  {_verified_pairs_sql()}
), arrivals AS (
  SELECT doc_id, {fp} AS fp FROM documents WHERE doc_id % 5 = 0
), corpus_fp AS (
  SELECT DISTINCT {fp} AS fp FROM documents WHERE {cp_doc}
), near AS (
  SELECT CASE WHEN d1 % 5 = 0 THEN d1 ELSE d2 END AS doc_id,
         count(*) AS n_near
  FROM vp WHERE ((d1 % 5 = 0) AND ({cp_d2}))
            OR ((d2 % 5 = 0) AND ({cp_d1}))
  GROUP BY 1
)
SELECT a.doc_id,
       (c.fp IS NOT NULL) AS exact_dup,
       CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
       (c.fp IS NULL AND coalesce(n.n_near, 0) = 0) AS keep
FROM arrivals a
LEFT JOIN corpus_fp c USING (fp)
LEFT JOIN near n USING (doc_id)
ORDER BY doc_id
"""


@query("docs_incremental_dedup", _incremental_dedup_oracle())
def docs_incremental_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingestion dedup THROUGH the persisted corpus index —
    the shape a production corpus actually runs daily: dedup a NEW
    arrival batch (doc_id % 5 == 0 stands in for today's partition)
    against the EXISTING corpus without re-signing the corpus.  The
    standing corpus is signed ONCE into a parquet index
    (operators/dedup.py::save_dedup_index — fingerprint set, MinHash
    band keys, shingle hashes), and the arrival batch probes the
    LOADED index (incremental_dedup_indexed): exact layer is one
    equi-join against the fingerprint table, near layer is arrival
    band keys joined to the band index (probe volume = arrivals ×
    bands × occupancy, independent of corpus²) with exact Jaccard ≥
    0.8 verification on crossing candidates only.  This query runs
    save→load→probe end-to-end so the driver exercises the whole
    artifact lifecycle; a real pipeline amortizes the save across
    every ingest until the corpus changes.  Results are bit-identical
    to the one-shot crossing-pairs formulation (roundtrip test-pinned
    in tests/test_dedup_similarity.py).  Arrival-vs-arrival
    (intra-batch) duplicates are deliberately out of scope here — that
    is ``docs_dedup_clustered`` run on the batch alone."""
    d = _t(spark, sf, "documents")
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    # one index per (sf, geometry) per process (_cached_index): the
    # returned frame reads the index LAZILY so the dir must outlive
    # this call, and re-invocations (bench medians, sweeps) reuse the
    # already-built index instead of stacking copies in /tmp
    path = _cached_index(
        ("dedup", sf, 3),
        lambda p: DD.save_dedup_index(corpus, p, n=3),
    )
    index = DD.load_dedup_index(spark, path)
    return DD.incremental_dedup_indexed(
        arrivals, index, num=4, den=5
    ).orderBy("doc_id")


@query(
    "docs_dedup_index_maintained",
    _incremental_dedup_oracle(
        corpus_pred_fmt="({c} % 5 <> 0 AND {c} % 10 <> 1)"
    ),
)
def docs_dedup_index_maintained_q(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL maintenance lifecycle of the persisted dedup index,
    driver-visible (VERDICT r9 #4/#5): save the initial corpus
    (doc_id % 5 ∈ {1,2,3}), stage a later partition as a COMMITTED
    DELTA append (doc_id % 5 == 4, batch_key — the staged path the
    streaming sink uses), DELETE a slice via tombstones
    (doc_id % 10 == 1, remove_from_dedup_index), COMPACT (fold base +
    delta, physically drop the tombstoned rows, commit a new
    generation), then probe the arrival partition (doc_id % 5 == 0)
    through the compacted index.  The oracle is the incremental-dedup
    SQL with the effective corpus narrowed to save ∪ appended −
    removed — maintenance must answer exactly as a fresh index built
    on the surviving corpus, which is the whole contract: appends
    add, deletes subtract, compaction changes NOTHING.  At 100 TB
    every step is bounded: append is batch-sized, delete is one
    value-set write, compaction is the one corpus-sized fold and runs
    on the maintenance cadence, probes are arrivals × bands ×
    occupancy."""
    d = _t(spark, sf, "documents")
    arrivals = d.filter(F.col("doc_id") % 5 == 0)

    def build(p: str) -> None:
        DD.save_dedup_index(
            d.filter((F.col("doc_id") % 5).isin(1, 2, 3)), p, n=3
        )
        DD.append_to_dedup_index(
            d.filter(F.col("doc_id") % 5 == 4), p, batch_key="day1"
        )
        DD.remove_from_dedup_index(
            d.filter(F.col("doc_id") % 10 == 1).select("doc_id"), p
        )
        DD.compact_dedup_index(spark, p)

    path = _cached_index(("dedup_maint", sf, 3), build)
    index = DD.load_dedup_index(spark, path)
    return DD.incremental_dedup_indexed(
        arrivals, index, num=4, den=5
    ).orderBy("doc_id")


@query("dedup_lsh_jaccard", _lsh_jaccard_oracle())
def dedup_lsh_jaccard_q(spark: SparkSession, sf: str) -> DataFrame:
    """The scale path for near-dup: MinHash-LSH candidate pairs, exact
    shingle-Jaccard ≥ 0.8 verification on candidates only (sub-quadratic
    end-to-end; see operators.dedup.lsh_verified_jaccard_pairs)."""
    pairs = DD.lsh_verified_jaccard_pairs(_t(spark, sf, "documents"), n=3)
    return (
        pairs.filter(
            DD.jaccard_at_least(
                F.col("shared"), F.col("n1"), F.col("n2"), num=4, den=5
            )
        )
        .select(
            "d1",
            "d2",
            "shared",
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
        )
        .orderBy("d1", "d2")
    )


def _dedup_clustered_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_oracle()}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
)
SELECT d.doc_id, d.lang
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
WHERE c.node IS NULL OR c.component = d.doc_id
ORDER BY d.doc_id
"""


def _leakage_safe_split_oracle() -> str:
    from .operators.sampling import split_sql

    case = split_sql("rep", {"train": 80, "val": 10, "test": 10})
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_oracle()}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
), labeled AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, rep, {case} AS split
FROM labeled ORDER BY doc_id
"""


@query("docs_leakage_safe_split", _leakage_safe_split_oracle())
def docs_leakage_safe_split_q(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: hashing each DOCUMENT id
    (docs_train_split) lets two near-duplicates land in different
    splits — i.e. test-set contamination by construction.  Here the
    split hashes the duplicate-CLUSTER representative (LSH pairs →
    connected components → min member id; singletons represent
    themselves), so every member of a near-dup cluster lands in the
    SAME split.  Composition of existing scale paths: bounded-occupancy
    LSH candidates, O(rounds) hash-min components, map-only hash
    bucketing — no new shuffle class."""
    from .operators.components import connected_components
    from .operators.sampling import deterministic_split

    d = _t(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(d, n=3, num_hashes=16, bands=4)
    comp = connected_components(pairs)
    labeled = (
        d.join(comp, d.doc_id == comp.node, "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("rep")
        )
    )
    return (
        deterministic_split(labeled, "rep", {"train": 80, "val": 10, "test": 10})
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")
    )


@query("docs_dedup_clustered", _dedup_clustered_oracle())
def docs_dedup_clustered_q(spark: SparkSession, sf: str) -> DataFrame:
    """The complete cluster-dedup materialization: LSH candidate pairs →
    connected components → keep each cluster's min doc id plus all
    untouched singletons.  This is the query a training pipeline runs
    to write the cleaned corpus."""
    from .operators.components import connected_components

    d = _t(spark, sf, "documents")
    pairs = DD.minhash_lsh_pairs(d, n=3, num_hashes=16, bands=4)
    comp = connected_components(pairs)
    return (
        d.join(comp, d.doc_id == comp.node, "left")
        .filter(F.col("node").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def _corpus_build_oracle(contam_threshold: int = 5) -> str:
    from .operators.sampling import split_sql

    case = split_sql("doc_id", {"train": 80, "val": 10, "test": 10})
    return f"""
WITH RECURSIVE pairs AS (
  {_minhash_oracle()}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
), fp AS (
  SELECT doc_id, lang,
         len({_TOKS_SQL}) AS n_tokens,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
  FROM documents
  WHERE len({_TOKS_SQL}) BETWEEN 10 AND 10000
    AND len(list_filter({_TOKS_SQL},
          x -> list_contains(['the','a','and','of','to'], x))) > 0
), keepx AS (
  SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint
), surv AS (
  SELECT f.doc_id, f.lang, f.n_tokens
  FROM fp f JOIN keepx k ON f.fingerprint = k.fingerprint AND f.doc_id = k.keep_id
), sc AS (
  SELECT s.doc_id, s.lang, s.n_tokens, c.node, c.component
  FROM surv s LEFT JOIN comp c ON s.doc_id = c.node
), canon AS (
  SELECT component, min(doc_id) AS canon_id
  FROM sc WHERE component IS NOT NULL GROUP BY component
), surv2 AS (
  SELECT sc.doc_id, sc.lang, sc.n_tokens
  FROM sc LEFT JOIN canon ON sc.component = canon.component
  WHERE sc.node IS NULL OR sc.doc_id = canon.canon_id
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(t)-2, 0)),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
  FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
), bsh AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 50 = 0
), contam AS (
  SELECT c.doc_id FROM ex c JOIN bsh USING (s)
  WHERE c.doc_id % 50 <> 0
  GROUP BY c.doc_id HAVING count(*) >= {contam_threshold}
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens, {case} AS split
FROM surv2
WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
ORDER BY doc_id
"""


@query("docs_corpus_build", _corpus_build_oracle())
def docs_corpus_build_q(spark: SparkSession, sf: str) -> DataFrame:
    """The END-TO-END corpus materialization a training pipeline ships:
    quality gate → exact dedup (keep lowest id per fingerprint) →
    near-dup CLUSTER dedup (MinHash-LSH pairs → connected components →
    keep each cluster's lowest SURVIVING member) → benchmark
    decontamination (drop the held-out slice and anything sharing ≥5
    trigram shingles with it) → deterministic train/val/test split.
    One composition of the family's operators, one output table.

    100 TB shape: every stage is the already-audited plan of its
    standalone query (window dedup, banded LSH shuffle, iterative
    hash-min with checkpoints, broadcast benchmark shingles, map-only
    split); the composition adds joins on doc_id only.
    """
    from .operators.components import connected_components
    from .operators.sampling import deterministic_split

    d = _t(spark, sf, "documents")
    filtered = d.filter(TX.quality_ok(F.col("text"))).select(
        "doc_id",
        "lang",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    surv = (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    from .operators.iterutils import iter_checkpoint

    comp = connected_components(
        DD.minhash_lsh_pairs(d, n=3, num_hashes=16, bands=4)
    )
    # sc feeds the canon aggregation AND the surviving-member filter;
    # without a checkpoint the fingerprint window + components join
    # re-ran per consumer (.explain audit).  Narrow columns (no
    # text), so the materialization is cheap at any scale.
    sc = iter_checkpoint(
        surv.join(comp, surv.doc_id == comp.node, "left"), eager=False
    )
    canon = (
        sc.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("doc_id").alias("canon_id"))
    )
    surv2 = (
        sc.join(canon, "component", "left")
        .filter(F.col("node").isNull() | (F.col("doc_id") == F.col("canon_id")))
        .select("doc_id", "lang", "n_tokens")
    )
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    contam_ids = (
        DD.benchmark_contamination(corpus, bench, n=3)
        .filter(F.col("n_shared") >= 5)
        .select("doc_id")
    )
    clean = surv2.filter(F.col("doc_id") % 50 != 0).join(
        contam_ids, "doc_id", "left_anti"
    )
    return (
        deterministic_split(clean, "doc_id", {"train": 80, "val": 10, "test": 10})
        .select("doc_id", "lang", "n_tokens", "split")
        .orderBy("doc_id")
    )


def _modern_corpus_oracle(budget: int = 256) -> str:
    half = (QLR_LEVELS - 1) // 2
    return f"""
WITH t AS (
  SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents
), m AS (
  SELECT doc_id, lang,
         len(toks) AS n,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS tchars,
         len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(toks, x -> list_contains(['the','a','and','of','to'], x))) AS n_stop,
         len(list_distinct(toks)) AS n_types,
         coalesce(list_sum(list_transform(toks,
             t2 -> {portable_hash64_sql('t2', 'qlw')} % {QLR_LEVELS} - {half})), 0)
           AS score_sum
  FROM t
), gate AS (
  SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens FROM m
  WHERE doc_id % 50 <> 0
    AND n BETWEEN 30 AND 50000
    AND 3 * n <= tchars AND tchars <= 10 * n
    AND 5 * n_alpha >= 4 * n
    AND n_stop >= 2
    AND 10 * n_types >= 3 * n
    AND score_sum + {QLR_INTERCEPT} * n > 0
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(toks)-2, 0)),
           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
  FROM t
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
), b AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 50 = 0
), contam AS (
  SELECT DISTINCT c.doc_id FROM ex c JOIN b USING (s) WHERE c.doc_id % 50 <> 0
), clean AS (
  SELECT * FROM gate WHERE doc_id NOT IN (SELECT doc_id FROM contam)
)
SELECT doc_id, lang, n_tokens,
       CAST(floor(CAST(sum(n_tokens) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - n_tokens AS DOUBLE) / {budget}) AS BIGINT) AS bin_id
FROM clean ORDER BY doc_id
"""


@query("docs_modern_corpus", _modern_corpus_oracle())
def docs_modern_corpus_q(spark: SparkSession, sf: str) -> DataFrame:
    """The MODERN-stack corpus materialization — docs_corpus_build's
    2024-era sibling composed from the round-6/7 operators: Gopher
    heuristic rules ∧ hashed-feature quality classifier (the SHARED
    gopher_keep / quality_logreg_keep expressions the standalone
    queries pin) → Bloom-prefiltered benchmark decontamination (drop
    any doc sharing a trigram shingle with the held-out slice —
    operators/dedup.py::bloom_contamination, exact confirm after the
    bitmap gate) → 256-token sequence packing of the survivors
    (operators/packing.py::pack_sequences, the distributed
    running-total bin assignment).  One output table: the packed,
    filtered, decontaminated training corpus.

    100 TB shape: the gates are map-only codegen over ONE scan; the
    decontamination runs on the GATED subset (identical membership to
    gating after — doc-keyed anti-join — but ~40% less probe volume);
    packing adds streams×buckets-bounded shuffles.  Every stage is the
    already-audited standalone plan; composition adds one anti-join
    on doc_id."""
    from .operators.iterutils import iter_checkpoint

    d = _t(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    # the gated corpus feeds the decontamination probe AND the
    # anti-join left side — checkpoint it lazily so the
    # tokenize-heavy gate expressions run once (measured 6.8 → 5.5 s
    # at sf0.1; the .explain audit showed the gate chain duplicated
    # per consumer)
    gated = iter_checkpoint(
        with_gopher_keep(corpus, F.col("text"))
        .filter(F.col("__gkeep") & quality_logreg_keep(F.col("text")))
        .drop("__gkeep"),
        eager=False,
    )
    # contam_ids is contaminated-doc-sized (tiny) but its subtree
    # holds BOTH shingle Arrow passes; pack_sequences references
    # `clean` several times (two-phase cumulative-sum bin
    # assignment), which re-expanded the whole decontamination per
    # reference — checkpoint the id set so the anti-join re-runs,
    # the probe does not
    contam_ids = iter_checkpoint(
        DD.bloom_contamination(gated, bench, n=3).select("doc_id"),
        eager=False,
    )
    clean = gated.join(contam_ids, "doc_id", "left_anti")
    from .operators.packing import pack_sequences

    return pack_sequences(clean, budget=256, stream_col="lang").orderBy(
        "doc_id"
    )


def _simhash_oracle(bits: int = 16) -> str:
    bit_terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(t,
              tok -> CASE WHEN ({portable_hash64_sql('tok', 'sh')} >> {b}) % 2 = 1
                          THEN 1 ELSE -1 END)) > 0
             THEN {2 ** b} ELSE 0 END)"""
        for b in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
)
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash
FROM toks ORDER BY doc_id
"""


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash_q(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash fingerprints (portable-hash votes)."""
    return DD.simhash_table(_t(spark, sf, "documents"), bits=16).orderBy("doc_id")


def _simhash_pairs_oracle(bits: int = 16, max_hamming: int = 2) -> str:
    # The banded Spark operator is lossless here: with 4 bands and
    # max_hamming=2, any qualifying pair agrees exactly on >= 2 bands
    # (pigeonhole), so the oracle is simply all pairs within the
    # Hamming budget.
    body = _simhash_oracle(bits).replace("ORDER BY doc_id", "")
    return f"""
WITH s AS ({body})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY d1, d2
"""


@query("dedup_simhash_pairs", _simhash_pairs_oracle())
def dedup_simhash_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 2) via banded buckets — the
    constant-state near-dup family's pair-emit path (VERDICT round 1 #6:
    single fingerprint computation through ``_bucket_pairs``)."""
    return (
        DD.simhash_near_pairs(
            _t(spark, sf, "documents"), bits=16, max_hamming=2, band_bits=4
        )
        .select("d1", "d2", F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy("d1", "d2")
    )


_QUANT = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"
_EMB_COS_ORACLE = f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
)
SELECT a.vec_id AS v1, b.vec_id AS v2
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
      / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) >= 0.4
ORDER BY v1, v2
"""


@query("dedup_embedding_cosine", _EMB_COS_ORACLE)
def dedup_emb_q(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs at quantized cosine ≥ 0.4."""
    return DD.embedding_near_dup_pairs(
        _t(spark, sf, "embeddings"), threshold_num=0.4
    ).orderBy("v1", "v2")


# ---------------------------------------------------------------------------
# Similarity search extensions
# ---------------------------------------------------------------------------

_ANN_ORACLE = f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
         / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
  FROM n a JOIN n b ON a.vec_id < 8 AND a.vec_id != b.vec_id
)
SELECT q_id, neighbor_id, rn AS rank FROM (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= 5 ORDER BY q_id, rank
"""


@query("ann_cosine_topk", _ANN_ORACLE)
def ann_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force exact top-5 cosine neighbors for query vecs (id < 8)."""
    embs = _t(spark, sf, "embeddings")
    queries_df = embs.filter(F.col("vec_id") < 8)
    return (
        SIM.cosine_topk_bruteforce(embs, queries_df, k=5)
        .select("q_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
        .orderBy("q_id", "rank")
    )


_HARD_NEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, label, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neg_id, b.label AS neg_label,
         CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
         / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
  FROM n a JOIN n b
    ON a.vec_id < 32 AND a.vec_id != b.vec_id AND a.label != b.label
)
SELECT q_id, neg_id, CAST(neg_label AS BIGINT) AS neg_label, rn AS rank FROM (
  SELECT q_id, neg_id, neg_label,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS rn
  FROM scored
) t WHERE rn <= 3 ORDER BY q_id, rank
"""


@query("docs_hard_negatives", _HARD_NEG_ORACLE)
def docs_hard_negatives_q(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query vector (vec_id < 32), the top-3 MOST SIMILAR vectors
    with a DIFFERENT label — the near-miss negatives that carry the
    training signal (random negatives are trivially separable; the
    standard mining step for dense retrievers and embedding models).
    The label-mismatch mask applies inside the scoring kernel BEFORE
    the per-batch prune (``cosine_topk_bruteforce(exclude_match_col=
    'label')``), so same-label look-alikes never displace genuine
    negatives from the shortlist.

    Scale shape: the exact brute-force baseline — query set broadcast,
    corpus streamed through one Arrow/BLAS pass, per-batch top-k
    prune, tiny final window.  For corpus-scale mining swap the same
    mask into the bucketed paths (lsh/ivf probe sides), exactly as the
    exact/approximate pairing works for plain top-k."""
    embs = _t(spark, sf, "embeddings")
    queries_df = embs.filter(F.col("vec_id") < 32)
    out = SIM.cosine_topk_bruteforce(
        embs, queries_df, k=3, exclude_match_col="label"
    )
    lab = embs.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").cast("bigint").alias("neg_label"),
    )
    return (
        out.select(
            "q_id", F.col("neighbor_id").alias("neg_id"),
            F.col("rank").cast("bigint").alias("rank"),
        )
        .join(lab, "neg_id")
        .select("q_id", "neg_id", "neg_label", "rank")
        .orderBy("q_id", "rank")
    )


_TRIPLETS_ORACLE = f"""
WITH q AS (
  SELECT vec_id, label, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, label, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), scored AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         a.label = b.label AS same,
         CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
         / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
  FROM n a JOIN n b ON a.vec_id < 32 AND a.vec_id != b.vec_id
), best AS (
  SELECT anchor_id, cand_id, same,
         row_number() OVER (PARTITION BY anchor_id, same
                            ORDER BY cos DESC, cand_id) AS rn
  FROM scored
)
SELECT p.anchor_id, p.cand_id AS positive_id, g.cand_id AS negative_id
FROM (SELECT * FROM best WHERE same AND rn = 1) p
JOIN (SELECT * FROM best WHERE NOT same AND rn = 1) g USING (anchor_id)
ORDER BY anchor_id
"""


@query("docs_triplets", _TRIPLETS_ORACLE)
def docs_triplets_q(spark: SparkSession, sf: str) -> DataFrame:
    """Training-triplet assembly for contrastive objectives: for each
    anchor (vec_id < 32), the nearest SAME-label vector (positive) and
    the nearest DIFFERENT-label vector (the hard negative) — the
    (anchor, positive, negative) rows a triplet/InfoNCE loss consumes.
    Two kernel-masked exact scoring passes
    (``require_match_col`` / ``exclude_match_col``) joined on the
    anchor; anchors whose label has no second member drop (no
    positive exists), identically in both engines.  Scale: two
    query-bounded Arrow/BLAS passes + one anchor-keyed join of
    two ≤|queries|-row frames."""
    embs = _t(spark, sf, "embeddings")
    anchors = embs.filter(F.col("vec_id") < 32)
    pos = SIM.cosine_topk_bruteforce(
        embs, anchors, k=1, require_match_col="label"
    ).select(F.col("q_id").alias("anchor_id"), F.col("neighbor_id").alias("positive_id"))
    neg = SIM.cosine_topk_bruteforce(
        embs, anchors, k=1, exclude_match_col="label"
    ).select(F.col("q_id").alias("anchor_id"), F.col("neighbor_id").alias("negative_id"))
    return pos.join(neg, "anchor_id").orderBy("anchor_id")


def _lsh_bucket_terms(planes: int = 8, plane_offset: int = 0) -> str:
    # plane ids are GLOBAL (offset + p) so multi-table oracles draw the
    # same deterministic plane stream as similarity.plane_weight
    return " + ".join(
        f"""(CASE WHEN list_sum(list_transform(range(len(qv)),
               d -> qv[d+1] * ({portable_hash64_sql("CAST(d AS VARCHAR)", f"pl:{plane_offset + p}")} % 7 - 3))) > 0
             THEN {2 ** p} ELSE 0 END)"""
        for p in range(planes)
    )


def _lsh_bucket_oracle(planes: int = 8) -> str:
    return f"""
WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)
SELECT vec_id, CAST({_lsh_bucket_terms(planes)} AS BIGINT) AS bucket
FROM q ORDER BY vec_id
"""


@query("ann_lsh_buckets", _lsh_bucket_oracle())
def ann_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (the ANN scale path)."""
    return SIM.hyperplane_lsh_buckets(_t(spark, sf, "embeddings"), planes=8).orderBy(
        "vec_id"
    )


def _emb_lsh_oracle(planes: int = 8, threshold: float = 0.4) -> str:
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq,
         CAST({_lsh_bucket_terms(planes)} AS BIGINT) AS bucket
  FROM q
)
SELECT a.vec_id AS v1, b.vec_id AS v2
FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
      / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) >= {threshold}
ORDER BY v1, v2
"""


@query("dedup_embedding_lsh", _emb_lsh_oracle())
def dedup_emb_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed embedding near-dup at quantized cosine ≥ 0.4 — the
    declared scale path for embedding dedup (VERDICT round 2 #3): bucket
    assignment is map-only, candidates come from an equi-join on bucket,
    and nothing is collected to the driver (contrast
    ``dedup_embedding_cosine``, the broadcast brute-force baseline)."""
    return DD.embedding_near_dup_lsh(
        _t(spark, sf, "embeddings"), threshold_num=0.4, planes=8
    ).orderBy("v1", "v2")


def _lsh_topk_oracle(planes: int = 8, k: int = 3) -> str:
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq,
         CAST({_lsh_bucket_terms(planes)} AS BIGINT) AS bucket
  FROM q
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
         / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
)
SELECT q_id, neighbor_id, rn AS rank FROM (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= {k} ORDER BY q_id, rank
"""


@query("ann_lsh_topk", _lsh_topk_oracle())
def ann_lsh_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-3 neighbors restricted to same-LSH-bucket
    candidates — the full ANN scale path (bucket → bounded per-bucket
    scoring → rank)."""
    return (
        SIM.lsh_topk(_t(spark, sf, "embeddings"), k=3, planes=8)
        .select("q_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
        .orderBy("q_id", "rank")
    )


#: ann_lsh_topk_probed parameters, shared by the Spark query, the
#: DuckDB oracle, and the recall-pin test (tests/test_dedup_similarity)
ANN_PROBED_PLANES = 6
ANN_PROBED_TABLES = 8
ANN_PROBED_K = 3
ANN_PROBED_QMAX = 64


def _lsh_topk_probed_oracle(
    planes: int = ANN_PROBED_PLANES,
    tables: int = ANN_PROBED_TABLES,
    k: int = ANN_PROBED_K,
    qmax: int = ANN_PROBED_QMAX,
) -> str:
    # multi-table multi-probe LSH: candidates are the pairs within
    # bucket-Hamming distance 1 in ANY of the `tables` independent
    # plane families (table t draws global plane ids t*planes..)
    bks = ", ".join(
        f"CAST({_lsh_bucket_terms(planes, t * planes)} AS BIGINT)"
        for t in range(tables)
    )
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq,
         [{bks}] AS bks
  FROM q
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
         / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
  FROM n a JOIN n b
    ON a.vec_id < {qmax} AND a.vec_id != b.vec_id
   AND len(list_filter(range({tables}),
           t -> bit_count(xor(a.bks[t+1], b.bks[t+1])) <= 1)) > 0
)
SELECT q_id, neighbor_id, rn AS rank FROM (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= {k} ORDER BY q_id, rank
"""


@query("ann_lsh_topk_probed", _lsh_topk_probed_oracle())
def ann_lsh_topk_probed_q(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-table multi-probe ANN top-3 for the query workload
    (vec_id < 64) over the full corpus index: 8 independent 6-plane
    hash tables, every 1-bit-adjacent bucket probed.  One table at 12
    planes recalled ~2% of the exact top-3 on the 64-dim corpus
    (neighbors sit at ~70°, where a single plane family almost never
    agrees 12 times); 8×6-plane probed tables amplify per-table ~0.25
    collision probability to ~0.90 recall — pinned vs the exact
    baseline in tests/test_dedup_similarity.py.  Candidates are
    exactly the pairs within bucket-Hamming <= 1 in ANY table; at
    100 TB raise ``planes`` (occupancy) and keep ``tables`` (recall).
    """
    return (
        SIM.lsh_topk(
            _t(spark, sf, "embeddings"),
            k=ANN_PROBED_K,
            planes=ANN_PROBED_PLANES,
            probe_bits=ANN_PROBED_PLANES,
            tables=ANN_PROBED_TABLES,
            query_pred=F.col("vid") < ANN_PROBED_QMAX,
        )
        .select("q_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
        .orderBy("q_id", "rank")
    )


@query("ann_knn_join", _lsh_topk_probed_oracle(qmax=1 << 62))
def ann_knn_join_q(spark: SparkSession, sf: str) -> DataFrame:
    """Full k-NN JOIN: every corpus vector's approximate top-3
    neighbors (not just a query workload) — the k-NN-graph builder
    behind semantic dedup (SemDeDup-style cluster pruning) and graph
    ANN index construction.  Same 8×6-plane multi-probe machinery as
    ann_lsh_topk_probed with the probe side unrestricted: candidate
    volume is corpus × tables × (1+planes) × bucket-occupancy — the
    occupancy lever keeps it linear in corpus size, never corpus².
    """
    return (
        SIM.lsh_knn_join_blas(
            _t(spark, sf, "embeddings"),
            k=ANN_PROBED_K,
            planes=ANN_PROBED_PLANES,
            tables=ANN_PROBED_TABLES,
        )
        .select("q_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
        .orderBy("q_id", "rank")
    )


#: docs_semdedup: cosine threshold for a k-NN edge to count as a
#: semantic duplicate.  0.4 on the synthetic 64-dim corpus keeps ~100
#: of ~1500 top-3 edges at sf0.01 — real cluster structure without
#: connecting everything (the top-3 cosine median is ~0.33).
SEMDEDUP_TAU = 0.4


def _semdedup_oracle(
    planes: int = ANN_PROBED_PLANES,
    tables: int = ANN_PROBED_TABLES,
    k: int = ANN_PROBED_K,
    tau: float = SEMDEDUP_TAU,
) -> str:
    # the ann_knn_join candidate semantics (bucket-Hamming <= 1 in ANY
    # table, every vector a query) -> top-k by (cos desc, id) ->
    # cosine-threshold edge filter -> recursive-CTE closure (the
    # dedup_components oracle pattern) -> keep-lowest-id
    bks = ", ".join(
        f"CAST({_lsh_bucket_terms(planes, t * planes)} AS BIGINT)"
        for t in range(tables)
    )
    return f"""
WITH RECURSIVE q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq,
         [{bks}] AS bks
  FROM q
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
         / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE))) AS cos
  FROM n a JOIN n b
    ON a.vec_id != b.vec_id
   AND len(list_filter(range({tables}),
           t -> bit_count(xor(a.bks[t+1], b.bks[t+1])) <= 1)) > 0
), knn AS (
  SELECT q_id, neighbor_id, cos FROM (
    SELECT q_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
    FROM scored
  ) t WHERE rn <= {k}
), edges AS (
  SELECT DISTINCT least(q_id, neighbor_id) AS d1,
                  greatest(q_id, neighbor_id) AS d2
  FROM knn WHERE cos >= {tau}
), sym AS (
  SELECT d1 AS a, d2 AS b FROM edges
  UNION
  SELECT d2 AS a, d1 AS b FROM edges
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS node, least(a, min(b)) AS component
  FROM reach GROUP BY a
)
SELECT e.vec_id,
       CAST(coalesce(c.component, e.vec_id) AS BIGINT) AS rep,
       (coalesce(c.component, e.vec_id) = e.vec_id) AS keep
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
ORDER BY vec_id
"""


@query("docs_semdedup", _semdedup_oracle())
def docs_semdedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style embedding-space cluster dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): build the approximate k-NN graph, keep only edges
    whose EXACT (quantized) cosine clears ``SEMDEDUP_TAU``, take
    connected components, and keep each semantic cluster's lowest-id
    member (singletons keep themselves).  The embedding-space twin of
    the MinHash path (docs_dedup_clustered / docs_corpus_build) — the
    modern semantic dedup a training-data pipeline runs when lexical
    near-dup misses paraphrases.

    Composition of existing scale paths, no new shuffle class:
    * k-NN graph: ``lsh_knn_join_blas`` — bucketed BLAS, candidate
      volume corpus × tables × (1+planes) × occupancy, never corpus²;
    * edge verification: the corpus×k k-NN edge list joins back to the
      quantized vectors (edge-sized shuffles) and scores one
      whole-stage-codegen cosine per edge;
    * clustering: hash-min components, O(log n) rounds, checkpointed;
    * representative: one broadcast-sized left join of (node,
      component) onto the corpus.
    """
    embs = _t(spark, sf, "embeddings")
    return semdedup(
        embs,
        k=ANN_PROBED_K,
        planes=ANN_PROBED_PLANES,
        tables=ANN_PROBED_TABLES,
        tau=SEMDEDUP_TAU,
    )


def semdedup(
    embs: DataFrame,
    k: int = ANN_PROBED_K,
    planes: int = ANN_PROBED_PLANES,
    tables: int = ANN_PROBED_TABLES,
    tau: float = SEMDEDUP_TAU,
    probe_bits: int | None = None,
) -> DataFrame:
    """The SemDeDup composition as a parameterized operator: ``planes``
    (and optionally ``probe_bits``) are the occupancy lever — at a
    growing corpus, raise ``planes`` with log2(n) so bucket occupancy
    (and thus candidate volume per vector) holds constant, exactly as
    :func:`~.operators.similarity.lsh_knn_join_blas` prescribes.  The
    declared query pins the oracle-matched fixed parameters; the scale
    bench drives this with scheduled planes."""
    from .operators.components import connected_components

    VE = SIM.VE
    knn = SIM.lsh_knn_join_blas(
        embs, k=k, planes=planes, tables=tables, probe_bits=probe_bits
    )
    qn = SIM.quantized(embs)
    a = qn.select(
        F.col("vid").alias("q_id"),
        F.col("qv").alias("aqv"),
        F.col("nsq").alias("ansq"),
    )
    b = qn.select(
        F.col("vid").alias("neighbor_id"),
        F.col("qv").alias("bqv"),
        F.col("nsq").alias("bnsq"),
    )
    edges = (
        knn.join(a, "q_id")
        .join(b, "neighbor_id")
        .withColumn(
            "cos",
            VE.cosine_q(
                VE.dot_q(F.col("aqv"), F.col("bqv")),
                F.col("ansq"),
                F.col("bnsq"),
            ),
        )
        .filter(F.col("cos") >= tau)
        .select(
            F.least("q_id", "neighbor_id").alias("d1"),
            F.greatest("q_id", "neighbor_id").alias("d2"),
        )
        .distinct()
    )
    comp = connected_components(edges)
    rep = F.coalesce("component", F.col("vec_id"))
    return (
        embs.join(comp, embs.vec_id == comp.node, "left")
        .select(
            "vec_id",
            rep.cast("bigint").alias("rep"),
            (rep == F.col("vec_id")).alias("keep"),
        )
        .orderBy("vec_id")
    )


#: ann_ivf_topk parameters (shared by query, oracle, recall-pin test).
#: nprobe=8 of 32 cells probes ~25% of the corpus for recall ~0.78 on
#: the synthetic test embeddings — near-uniform vectors are the
#: adversarial case for IVF (no cluster structure for cells to
#: capture); on clustered real embeddings the same shape reaches the
#: usual >0.9 at far smaller probe fractions.
ANN_IVF_CENTROIDS = 32
ANN_IVF_NPROBE = 8
ANN_IVF_K = 3
ANN_IVF_QMAX = 64
ANN_IVF_LLOYD = 2

_IVF_COS = (
    "CAST(list_sum(list_transform(range(len({a}.qv)), i -> {a}.qv[i+1] * {b}.{bv}[i+1])) AS DOUBLE)"
    " / (sqrt(CAST({a}.nsq AS DOUBLE)) * sqrt(CAST({b}.{bn} AS DOUBLE)))"
)


def _ivf_lloyd_ctes(n_iters: int, cent_cos: str, train_tbl: str = "n") -> str:
    """Unrolled Lloyd CTE chain: c0 (lowest-id seeds) -> a0 -> c1 ->
    a1 -> c2 ...; returns the SQL fragment and leaves ``c{n_iters}``
    as the final centroid table.  Mirrors operators.similarity
    ``_lloyd_update`` exactly: per-dim rounded mean
    ``floor(sum/count + 0.5)`` in float64, empty cells keep the
    previous centroid, assignment tie-break (cos desc, cell asc).
    ``train_tbl`` names the vector CTE the Lloyd sums run over —
    the full corpus by default; a filtered subset for frozen-geometry
    index oracles (ann_ivfpq_appended trains on the initial corpus
    only)."""
    parts = []
    for i in range(n_iters):
        parts.append(f"""
, a{i} AS (
  SELECT vec_id, qv, nsq, cell FROM (
    SELECT a.vec_id, a.qv, a.nsq, c.cell, {cent_cos.replace('{C}', f'c{i}')} AS ccos
    FROM {train_tbl} a CROSS JOIN c{i} c
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1
), m{i} AS (
  SELECT cell, pos,
         CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS m
  FROM (
    SELECT cell, generate_subscripts(qv, 1) AS pos, unnest(qv) AS v FROM a{i}
  ) u GROUP BY cell, pos
), c{i + 1} AS (
  SELECT c.cell,
         coalesce(nc.cqv, c.cqv) AS cqv,
         coalesce(nc.cnsq, c.cnsq) AS cnsq
  FROM c{i} c LEFT JOIN (
    SELECT cell, cqv, list_sum(list_transform(cqv, x -> x * x)) AS cnsq
    FROM (SELECT cell, list(m ORDER BY pos) AS cqv FROM m{i} GROUP BY cell) s
  ) nc USING (cell)
)""")
    return "".join(parts)


def _ivf_topk_oracle(
    n_centroids: int = ANN_IVF_CENTROIDS,
    nprobe: int = ANN_IVF_NPROBE,
    k: int = ANN_IVF_K,
    qmax: int = ANN_IVF_QMAX,
    lloyd_iters: int = ANN_IVF_LLOYD,
) -> str:
    cent_cos_t = (
        "CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * c.cqv[i+1])) AS DOUBLE)"
        " / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(c.cnsq AS DOUBLE)))"
    )
    pair_cos = _IVF_COS.format(a="a", b="b", bv="qv", bn="nsq")
    lloyd = _ivf_lloyd_ctes(lloyd_iters, cent_cos_t)
    cf = f"c{lloyd_iters}"
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), c0 AS (
  SELECT vec_id AS cell, qv AS cqv, nsq AS cnsq FROM n WHERE vec_id < {n_centroids}
){lloyd}, assign AS (
  SELECT vec_id, qv, nsq, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY ccos DESC, cell) AS cell_rank
  FROM (
    SELECT a.vec_id, a.qv, a.nsq, c.cell, {cent_cos_t} AS ccos
    FROM n a CROSS JOIN {cf} c
  )
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, {pair_cos} AS cos
  FROM (SELECT * FROM assign WHERE cell_rank <= {nprobe} AND vec_id < {qmax}) a
  JOIN (SELECT * FROM assign WHERE cell_rank = 1) b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
)
SELECT q_id, neighbor_id, rn AS rank FROM (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= {k} ORDER BY q_id, rank
"""


@query("ann_ivf_topk", _ivf_topk_oracle())
def ann_ivf_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate top-3 for the query workload (vec_id < 64): the
    corpus is partitioned into 32 cells by nearest centroid — seeded
    from the 32 lowest-id vectors, then sharpened by TWO deterministic
    Lloyd (k-means) steps (integer rounded-mean centroids, fixed
    tie-breaks — the SQL oracle unrolls the identical iterations, so
    the exact cells reproduce cross-engine); each query probes its 8
    nearest cells (the near-uniform synthetic embeddings are IVF's
    adversarial case; clustered real data needs far fewer).  The
    inverted-file counterpart to the LSH scale path: one broadcast
    assignment pass per Lloyd round, one cell-keyed shuffle with
    bounded occupancy (~corpus/32), probe volume independent of
    corpus².  Lloyd raised measured recall ~0.78 → ~0.83; pinned
    ≥0.80 vs the exact baseline in tests/test_dedup_similarity.py."""
    return (
        SIM.ivf_topk(
            _t(spark, sf, "embeddings"),
            k=ANN_IVF_K,
            n_centroids=ANN_IVF_CENTROIDS,
            nprobe=ANN_IVF_NPROBE,
            query_pred=F.col("vid") < ANN_IVF_QMAX,
            lloyd_iters=ANN_IVF_LLOYD,
        )
        .select("q_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
        .orderBy("q_id", "rank")
    )


#: ann_filtered_topk parameters.  Same IVF geometry as ann_ivf_topk,
#: but candidates must MATCH THE QUERY'S LABEL (selectivity ~1/10 on
#: the 10-label embeddings table), and nprobe scales 8 → 20 to hold
#: the per-query candidate count — the selectivity-aware nprobe rule
#: of filtered ANN (measured here: recall 0.59 at nprobe=8, 0.87 at
#: 20 vs the exact filtered baseline; ≥0.80 is test-pinned).
ANN_FILT_NPROBE = 20


def _filtered_topk_oracle(
    n_centroids: int = ANN_IVF_CENTROIDS,
    nprobe: int = ANN_FILT_NPROBE,
    k: int = ANN_IVF_K,
    qmax: int = ANN_IVF_QMAX,
    lloyd_iters: int = ANN_IVF_LLOYD,
) -> str:
    """ann_ivf_topk's oracle with the label constraint threaded
    through: the label rides the vector CTEs and the scored join
    requires ``a.label = b.label`` — exactly where the Spark plan
    enforces it (inside the cell join, before any scoring)."""
    cent_cos_t = (
        "CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * c.cqv[i+1])) AS DOUBLE)"
        " / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(c.cnsq AS DOUBLE)))"
    )
    pair_cos = _IVF_COS.format(a="a", b="b", bv="qv", bn="nsq")
    lloyd = _ivf_lloyd_ctes(lloyd_iters, cent_cos_t)
    cf = f"c{lloyd_iters}"
    return f"""
WITH q AS (
  SELECT vec_id, label, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, label, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), c0 AS (
  SELECT vec_id AS cell, qv AS cqv, nsq AS cnsq FROM n WHERE vec_id < {n_centroids}
){lloyd}, assign AS (
  SELECT vec_id, label, qv, nsq, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY ccos DESC, cell) AS cell_rank
  FROM (
    SELECT a.vec_id, a.label, a.qv, a.nsq, c.cell, {cent_cos_t} AS ccos
    FROM n a CROSS JOIN {cf} c
  )
), scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id, {pair_cos} AS cos
  FROM (SELECT * FROM assign WHERE cell_rank <= {nprobe} AND vec_id < {qmax}) a
  JOIN (SELECT * FROM assign WHERE cell_rank = 1) b
    ON a.cell = b.cell AND a.vec_id != b.vec_id AND a.label = b.label
)
SELECT q_id, neighbor_id, rn AS rank FROM (
  SELECT q_id, neighbor_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rn
  FROM scored
) t WHERE rn <= {k} ORDER BY q_id, rank
"""


@query("ann_filtered_topk", _filtered_topk_oracle())
def ann_filtered_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """METADATA-FILTERED vector search — the constrained retrieval
    every production vector store serves (tenant, language, license,
    label): each query (vec_id < 64) retrieves its top-3 among
    corpus vectors carrying the SAME ``label``, via the audited IVF
    path with the constraint enforced INSIDE the cell join
    (``ivf_topk(match_cols=('label',))``) — non-matching vectors are
    discarded before any scoring, and the label rides the Arrow
    assignment pass with the vector instead of joining back by id.

    The scale lesson this query exists to pin: a filter of
    selectivity 1/s thins every probed cell by ~1/s, so recall falls
    off a cliff at the unfiltered nprobe (measured 0.59 at nprobe=8
    on the 10-label table) — nprobe scales 8 → 20 to restore the
    candidate count (recall 0.87; ≥0.80 test-pinned), the
    selectivity-aware rule filtered-ANN deployments apply before
    falling back to brute force over the filtered slice.  Candidate
    volume stays queries × nprobe × occupancy × selectivity — never
    corpus²."""
    return (
        SIM.ivf_topk(
            _t(spark, sf, "embeddings"),
            k=ANN_IVF_K,
            n_centroids=ANN_IVF_CENTROIDS,
            nprobe=ANN_FILT_NPROBE,
            query_pred=F.col("vid") < ANN_IVF_QMAX,
            lloyd_iters=ANN_IVF_LLOYD,
            match_cols=("label",),
        )
        .select(
            "q_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank")
        )
        .orderBy("q_id", "rank")
    )


#: docs_kmeans_prune parameters (shared by query, oracle, tests).
#: 16 clusters × 2 Lloyd rounds; prune the 1/4 most-prototypical of
#: every cluster (SSL-prototypes keeps the hard examples when data is
#: abundant).
KMP_CLUSTERS = 16
KMP_LLOYD = 2
KMP_NUM = 1
KMP_DEN = 4


def _kmeans_prune_oracle(
    n_clusters: int = KMP_CLUSTERS,
    lloyd_iters: int = KMP_LLOYD,
    prune_num: int = KMP_NUM,
    prune_den: int = KMP_DEN,
) -> str:
    cent_cos_t = (
        "CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * c.cqv[i+1])) AS DOUBLE)"
        " / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(c.cnsq AS DOUBLE)))"
    )
    lloyd = _ivf_lloyd_ctes(lloyd_iters, cent_cos_t)
    cf = f"c{lloyd_iters}"
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), c0 AS (
  SELECT vec_id AS cell, qv AS cqv, nsq AS cnsq FROM n WHERE vec_id < {n_clusters}
){lloyd}, assign AS (
  SELECT vec_id, cell, ccos FROM (
    SELECT a.vec_id, c.cell, {cent_cos_t} AS ccos
    FROM n a CROSS JOIN {cf} c
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1
)
SELECT vec_id, cell, proto_rank, n_cluster,
       proto_rank * {prune_den} > n_cluster * {prune_num} AS keep
FROM (
  SELECT vec_id, cell,
         CAST(row_number() OVER (PARTITION BY cell ORDER BY ccos DESC, vec_id)
              AS BIGINT) AS proto_rank,
         CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cluster
  FROM assign
) r ORDER BY vec_id
"""


@query("docs_kmeans_prune", _kmeans_prune_oracle())
def docs_kmeans_prune_q(spark: SparkSession, sf: str) -> DataFrame:
    """K-means prototype-distance pruning (SSL-prototypes, Sorscher et
    al. 2022): cluster the embedding space (16 centroids, 2
    deterministic Lloyd rounds — the identical integer rounded-mean
    iteration as ann_ivf_topk, which the oracle unrolls), rank every
    cluster's members by cosine to their own centroid, and drop the
    most-prototypical quarter of each cluster.  The data-pruning
    complement to SemDeDup: semdedup removes near-DUPLICATES inside
    clusters, this removes the REDUNDANT easy core around each
    prototype.  Exact-integer keep rule (rank·4 > size·1) and
    bit-equal float64 cosines keep every boundary row cross-engine
    stable.  Scale: training never shuffles the corpus (Arrow/BLAS map
    passes + dimension-sized reductions); ranking is ONE shuffle on
    cell with ~corpus/16 partition width — raise n_clusters with
    corpus size exactly like IVF occupancy."""
    return SIM.kmeans_prototype_prune(
        _t(spark, sf, "embeddings"),
        n_clusters=KMP_CLUSTERS,
        lloyd_iters=KMP_LLOYD,
        prune_num=KMP_NUM,
        prune_den=KMP_DEN,
    ).orderBy("vec_id")


#: ann_pq_topk parameters (shared by query, oracle, recall-pin test).
#: M=16 subspaces × 16 centroids = 64-bit codes (32× smaller than the
#: raw 64×32-bit vectors); the 32-candidate ADC shortlist feeds an
#: exact rerank — shortlist recall@3 ≈ 0.87 on the near-uniform test
#: corpus (PQ's adversarial case), where raw M=4 ADC alone is ~0.13.
ANN_PQ_M = 16
ANN_PQ_KSUB = 16
ANN_PQ_K = 3
ANN_PQ_SHORTLIST = 32
ANN_PQ_QMAX = 64
ANN_PQ_LLOYD = 1


def _pq_sdot(sub: int) -> str:
    """Subvector dot expression shared by every PQ CTE (aliases
    ``s`` = subvector row, ``c`` = codebook row)."""
    return (
        f"list_sum(list_transform(range({sub}),"
        " i -> s.x[i+1] * c.cv[i+1]))"
    )


def _pq_codebook_ctes(
    m: int, ksub: int, lloyd_iters: int, train_filter: str = ""
) -> tuple[str, int]:
    """PQ codebook CTE fragment shared by the standalone PQ oracle and
    the IVFPQ composition: subspace split (``sv``), seeded
    sub-codebooks (``pqc0``), exact-integer L2 Lloyd step(s), code
    assignment (``codes``) and reconstruction norms (``recon``).  All
    subspaces flow through ONE generic chain — the subspace id is a
    cross-joined column, not per-m SQL.  Mirrors
    operators.similarity.pq_train/pq_encode bit-for-bit: squared-L2
    assignment ``xn + cn − 2·dot`` with (d2 asc, cell asc) ties,
    rounded-mean updates, empty cells keeping the seed.  Names are
    ``pq``-prefixed so the fragment composes with the IVF chain's
    ``c{{i}}``/``a{{i}}`` CTEs.  Returns (fragment, subdim); assumes a
    CTE ``q(vec_id, qv)`` with 64-dim quantized vectors is already in
    scope.  ``train_filter`` restricts the Lloyd updates to a vector
    subset (a ``vec_id`` predicate); the ``codes`` assignment CTE
    always covers all of ``sv`` — frozen-geometry oracles train on a
    subset but encode everything.
    """
    sub = 64 // m
    sdot = _pq_sdot(sub)
    train_tbl = "svtrain" if train_filter else "sv"
    svtrain_cte = (
        f""", svtrain AS (
  SELECT * FROM sv WHERE {train_filter}
)"""
        if train_filter
        else ""
    )
    parts = []
    for it in range(lloyd_iters):
        parts.append(f"""
, pqa{it} AS (
  SELECT vec_id, m, x, cell FROM (
    SELECT s.vec_id, s.m, s.x, c.cell,
           s.xn + c.cn - 2 * {sdot} AS d2
    FROM {train_tbl} s JOIN pqc{it} c USING (m)
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) = 1
), pqmu{it} AS (
  SELECT m, cell, pos,
         CAST(floor(CAST(sum(v) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mu
  FROM (SELECT m, cell, generate_subscripts(x, 1) AS pos, unnest(x) AS v
        FROM pqa{it}) u
  GROUP BY m, cell, pos
), pqc{it + 1} AS (
  SELECT c.m, c.cell,
         coalesce(nc.cv, c.cv) AS cv,
         coalesce(nc.cn, c.cn) AS cn
  FROM pqc{it} c LEFT JOIN (
    SELECT m, cell, cv, list_sum(list_transform(cv, v -> v * v)) AS cn
    FROM (SELECT m, cell, list(mu ORDER BY pos) AS cv
          FROM pqmu{it} GROUP BY m, cell) s2
  ) nc USING (m, cell)
)""")
    lloyd = "".join(parts)
    cf = f"pqc{lloyd_iters}"
    fragment = f"""
, ms AS (
  SELECT unnest(range({m})) AS m
), sv AS (
  SELECT q.vec_id, ms.m,
         qv[ms.m * {sub} + 1 : ms.m * {sub} + {sub}] AS x,
         list_sum(list_transform(qv[ms.m * {sub} + 1 : ms.m * {sub} + {sub}],
                                 v -> v * v)) AS xn
  FROM q CROSS JOIN ms
){svtrain_cte}, pqc0 AS (
  SELECT m, vec_id AS cell, x AS cv, xn AS cn FROM sv WHERE vec_id < {ksub}
){lloyd}, codes AS (
  SELECT vec_id, m, cell, cn FROM (
    SELECT s.vec_id, s.m, c.cell, c.cn,
           s.xn + c.cn - 2 * {sdot} AS d2
    FROM sv s JOIN {cf} c USING (m)
  ) t QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) = 1
), recon AS (
  SELECT vec_id, sum(cn) AS rn FROM codes GROUP BY vec_id
)"""
    return fragment, sub


def _pq_topk_oracle(
    m: int = ANN_PQ_M,
    ksub: int = ANN_PQ_KSUB,
    k: int = ANN_PQ_K,
    shortlist: int = ANN_PQ_SHORTLIST,
    qmax: int = ANN_PQ_QMAX,
    lloyd_iters: int = ANN_PQ_LLOYD,
) -> str:
    """Unrolled PQ oracle: the shared codebook fragment
    (:func:`_pq_codebook_ctes`) followed by all-pairs ADC cosine
    scoring, shortlist, and exact rerank — the final double division
    identical to the numpy expression."""
    codebook, sub = _pq_codebook_ctes(m, ksub, lloyd_iters)
    sdot = _pq_sdot(sub)
    cf = f"pqc{lloyd_iters}"
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
){codebook}, qn AS (
  SELECT vec_id, list_sum(list_transform(qv, v -> v * v)) AS nsq
  FROM q WHERE vec_id < {qmax}
), ad AS (
  SELECT s.vec_id AS q_id, cd.vec_id AS n_id, sum({sdot}) AS adot
  FROM sv s
  JOIN codes cd ON cd.vec_id <> s.vec_id AND cd.m = s.m
  JOIN {cf} c ON c.m = cd.m AND c.cell = cd.cell
  WHERE s.vec_id < {qmax}
  GROUP BY q_id, n_id
), scored AS (
  SELECT ad.q_id, ad.n_id,
         CAST(ad.adot AS DOUBLE)
           / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(recon.rn AS DOUBLE)))
           AS cos
  FROM ad
  JOIN qn ON qn.vec_id = ad.q_id
  JOIN recon ON recon.vec_id = ad.n_id
  WHERE qn.nsq > 0 AND recon.rn > 0
)
, cand AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
             AS rn1
    FROM scored
  ) t WHERE rn1 <= {shortlist}
), nall AS (
  SELECT vec_id, qv,
         list_sum(list_transform(qv, v -> v * v)) AS nsq
  FROM q
), rer AS (
  SELECT cand.q_id, cand.n_id,
         CAST(list_sum(list_transform(range(len(a.qv)),
                                      i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
           / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
           AS xcos
  FROM cand
  JOIN nall a ON a.vec_id = cand.q_id
  JOIN nall b ON b.vec_id = cand.n_id
  WHERE a.nsq > 0 AND b.nsq > 0
)
SELECT q_id, CAST(n_id AS BIGINT) AS neighbor_id, CAST(rn2 AS BIGINT) AS rank
FROM (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY xcos DESC, n_id) AS rn2
  FROM rer
) t WHERE rn2 <= {k} ORDER BY q_id, rank
"""


@query("ann_pq_topk", _pq_topk_oracle())
def ann_pq_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION + asymmetric
    distance (Jégou et al. 2011) with an exact rerank — the
    memory-compression member of the ANN family: the corpus collapses
    to M×log2(ksub)-bit codes (64 bits/vector vs 64×32 raw), queries
    stay full-precision, ADC scoring is M integer table lookups per
    candidate, and the 32-candidate shortlist is rescored on the
    exact vectors (the production two-stage shape).  Composable with
    the IVF/LSH candidate-pruning members (IVF-PQ) at 100 TB; see
    operators/similarity.py::pq_topk / pq_topk_rerank for the
    physical shape (codebook training = Arrow/BLAS passes with
    codebook-sized reduces; scoring = one map pass carrying only
    per-batch shortlists to the shuffle; rerank = candidate-sized
    joins).
    """
    from .operators.similarity import pq_topk_rerank

    embs = _t(spark, sf, "embeddings")
    return (
        pq_topk_rerank(
            embs,
            k=ANN_PQ_K,
            shortlist=ANN_PQ_SHORTLIST,
            m_subspaces=ANN_PQ_M,
            ksub=ANN_PQ_KSUB,
            query_pred=F.col("vec_id") < ANN_PQ_QMAX,
            lloyd_iters=ANN_PQ_LLOYD,
        )
        .select(
            "q_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


#: ann_ivfpq_topk parameters (shared by query, oracle, recall-pin
#: test).  The COMPOSED two-lever ANN: IVF cells prune candidates,
#: PQ codes compress scoring; nprobe=10/shortlist=48 measures
#: recall@3 ≈ 0.85 on the near-uniform corpus.
ANN_IVFPQ_CENTROIDS = 32
ANN_IVFPQ_NPROBE = 10
ANN_IVFPQ_M = 16
ANN_IVFPQ_KSUB = 16
ANN_IVFPQ_SHORTLIST = 48
ANN_IVFPQ_K = 3
ANN_IVFPQ_QMAX = 64
ANN_IVFPQ_IVF_LLOYD = 2
ANN_IVFPQ_PQ_LLOYD = 1


def _ivfpq_topk_oracle(
    n_centroids: int = ANN_IVFPQ_CENTROIDS,
    nprobe: int = ANN_IVFPQ_NPROBE,
    m: int = ANN_IVFPQ_M,
    ksub: int = ANN_IVFPQ_KSUB,
    shortlist: int = ANN_IVFPQ_SHORTLIST,
    k: int = ANN_IVFPQ_K,
    qmax: int = ANN_IVFPQ_QMAX,
    ivf_lloyd: int = ANN_IVFPQ_IVF_LLOYD,
    pq_lloyd: int = ANN_IVFPQ_PQ_LLOYD,
    train_max: int | None = None,
    drop_pred: str | None = None,
    match_same_label: bool = False,
) -> str:
    """IVFADC oracle: the IVF Lloyd/assignment chain
    (:func:`_ivf_lloyd_ctes`, cosine cells) composed with the shared
    PQ codebook fragment (:func:`_pq_codebook_ctes`, L2 sub-codebooks)
    — candidates from probed cells, ADC scoring over candidates only,
    shortlist, exact rerank.  ``train_max`` restricts BOTH Lloyd
    chains to ``vec_id < train_max`` while assignment/encoding still
    covers the whole corpus — the frozen-geometry semantics of
    save(corpus_a) + append(batch_b) (ann_ivfpq_appended).
    ``drop_pred`` (a SQL predicate over ``vec_id``) removes matching
    vectors from the CANDIDATE side only — queries still query, the
    geometry is untouched — i.e. exactly what remove_from_ivfpq_index
    tombstones (ann_ivfpq_deleted) and what compaction physically
    drops (ann_ivfpq_compacted): one oracle for both physical states
    is itself the claim that probe-time anti-join and physical drop
    answer identically.  ``match_same_label`` constrains candidates
    to the query's label INSIDE cand0 — exactly where the Spark plan
    enforces its persisted-attribute equality (ann_ivfpq_filtered)."""
    drop = f" AND NOT ({drop_pred})" if drop_pred else ""
    match_join = (
        """
  JOIN embeddings la ON la.vec_id = a.vec_id
  JOIN embeddings lb ON lb.vec_id = b.vec_id AND la.label = lb.label"""
        if match_same_label
        else ""
    )
    cent_cos_t = (
        "CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * c.cqv[i+1])) AS DOUBLE)"
        " / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(c.cnsq AS DOUBLE)))"
    )
    if train_max is None:
        ivf = _ivf_lloyd_ctes(ivf_lloyd, cent_cos_t)
        codebook, sub = _pq_codebook_ctes(m, ksub, pq_lloyd)
        ntrain_cte = ""
    else:
        ivf = _ivf_lloyd_ctes(ivf_lloyd, cent_cos_t, train_tbl="ntrain")
        codebook, sub = _pq_codebook_ctes(
            m, ksub, pq_lloyd, train_filter=f"vec_id < {train_max}"
        )
        ntrain_cte = f""", ntrain AS (
  SELECT * FROM n WHERE vec_id < {train_max}
)"""
    ivf_cf = f"c{ivf_lloyd}"
    sdot = _pq_sdot(sub)
    pq_cf = f"pqc{pq_lloyd}"
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
){ntrain_cte}, c0 AS (
  SELECT vec_id AS cell, qv AS cqv, nsq AS cnsq FROM n WHERE vec_id < {n_centroids}
){ivf}, assign AS (
  SELECT vec_id, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY ccos DESC, cell) AS cell_rank
  FROM (
    SELECT a.vec_id, c.cell, {cent_cos_t} AS ccos
    FROM n a CROSS JOIN {ivf_cf} c
  )
){codebook}, qn AS (
  SELECT vec_id, nsq FROM n WHERE vec_id < {qmax}
), cand0 AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id
  FROM (SELECT vec_id, cell FROM assign
         WHERE cell_rank <= {nprobe} AND vec_id < {qmax}) a
  JOIN (SELECT vec_id, cell FROM assign WHERE cell_rank = 1{drop}) b
    ON a.cell = b.cell AND a.vec_id != b.vec_id{match_join}
), ad AS (
  SELECT c0.q_id, c0.n_id, sum({sdot}) AS adot
  FROM cand0 c0
  JOIN sv s ON s.vec_id = c0.q_id
  JOIN codes cd ON cd.vec_id = c0.n_id AND cd.m = s.m
  JOIN {pq_cf} c ON c.m = cd.m AND c.cell = cd.cell
  GROUP BY c0.q_id, c0.n_id
), scored AS (
  SELECT ad.q_id, ad.n_id,
         CAST(ad.adot AS DOUBLE)
           / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(recon.rn AS DOUBLE)))
           AS cos
  FROM ad
  JOIN qn ON qn.vec_id = ad.q_id
  JOIN recon ON recon.vec_id = ad.n_id
  WHERE qn.nsq > 0 AND recon.rn > 0
), cand AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
             AS rn1
    FROM scored
  ) t WHERE rn1 <= {shortlist}
), rer AS (
  SELECT cand.q_id, cand.n_id,
         CAST(list_sum(list_transform(range(len(a.qv)),
                                      i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
           / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
           AS xcos
  FROM cand
  JOIN n a ON a.vec_id = cand.q_id
  JOIN n b ON b.vec_id = cand.n_id
  WHERE a.nsq > 0 AND b.nsq > 0
)
SELECT q_id, CAST(n_id AS BIGINT) AS neighbor_id, CAST(rn2 AS BIGINT) AS rank
FROM (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY xcos DESC, n_id) AS rn2
  FROM rer
) t WHERE rn2 <= {k} ORDER BY q_id, rank
"""


@query("ann_ivfpq_topk", _ivfpq_topk_oracle())
def ann_ivfpq_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV) — the COMPOSED two-lever ANN
    the standalone operators' docstrings promise: IVF cells prune the
    candidate set (queries × nprobe × occupancy, never corpus²), PQ
    codes compress what gets scored (M integer LUT lookups per
    candidate), and the ADC shortlist is rescored exactly.  See
    operators/similarity.py::ivfpq_topk for the physical shape (ADC
    as zip_with/element_at/aggregate codegen expressions over a
    query-set-bounded LUT relation; one cell-keyed candidate
    shuffle).
    """
    from .operators.similarity import ivfpq_topk

    embs = _t(spark, sf, "embeddings")
    return (
        ivfpq_topk(
            embs,
            k=ANN_IVFPQ_K,
            n_centroids=ANN_IVFPQ_CENTROIDS,
            nprobe=ANN_IVFPQ_NPROBE,
            m_subspaces=ANN_IVFPQ_M,
            ksub=ANN_IVFPQ_KSUB,
            shortlist=ANN_IVFPQ_SHORTLIST,
            query_pred=F.col("vec_id") < ANN_IVFPQ_QMAX,
            ivf_lloyd_iters=ANN_IVFPQ_IVF_LLOYD,
            pq_lloyd_iters=ANN_IVFPQ_PQ_LLOYD,
        )
        .select(
            "q_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


@query("ann_ivfpq_indexed", _ivfpq_topk_oracle())
def ann_ivfpq_indexed_q(spark: SparkSession, sf: str) -> DataFrame:
    """The PERSISTED-INDEX probe path of IVFADC, driver-visible (the
    round-8 symmetric of docs_incremental_dedup's index rewiring):
    save_ivfpq_index writes the trained centroids / PQ codebook /
    codes as parquet, then ivfpq_topk(index_path=...) probes the
    LOADED index — no training, and only the query subset is ranked
    against the loaded centroids.  Results are bit-identical to the
    in-session train-and-probe (tests/test_dedup_similarity.py pins
    the roundtrip), so the ORACLE IS LITERALLY ann_ivfpq_topk's: same
    geometry, same unrolled SQL, same answer.  This query runs
    save→load→probe end-to-end so the driver exercises the artifact
    lifecycle; a serving pipeline amortizes the save across every
    query batch until the corpus drifts."""
    from .operators.similarity import ivfpq_topk, save_ivfpq_index

    embs = _t(spark, sf, "embeddings")
    # one index per (sf, geometry) per process (_cached_index): lazy
    # index reads forbid same-call removal, and re-invocations reuse
    # the built index instead of stacking copies in /tmp
    path = _cached_index(
        (
            "ivfpq", sf, ANN_IVFPQ_CENTROIDS, ANN_IVFPQ_M,
            ANN_IVFPQ_KSUB, ANN_IVFPQ_IVF_LLOYD, ANN_IVFPQ_PQ_LLOYD,
        ),
        lambda p: save_ivfpq_index(
            embs,
            p,
            n_centroids=ANN_IVFPQ_CENTROIDS,
            m_subspaces=ANN_IVFPQ_M,
            ksub=ANN_IVFPQ_KSUB,
            ivf_lloyd_iters=ANN_IVFPQ_IVF_LLOYD,
            pq_lloyd_iters=ANN_IVFPQ_PQ_LLOYD,
        ),
    )
    return (
        ivfpq_topk(
            embs,
            k=ANN_IVFPQ_K,
            nprobe=ANN_IVFPQ_NPROBE,
            shortlist=ANN_IVFPQ_SHORTLIST,
            query_pred=F.col("vec_id") < ANN_IVFPQ_QMAX,
            index_path=path,
        )
        .select(
            "q_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


#: ann_ivfpq_filtered: same-label filtered search against the
#: PERSISTED index — the label is stored IN codes.parquet
#: (save_ivfpq_index attr_cols) and enforced inside the candidate
#: join.  nprobe scales 10 → 20 for the 1/10-selectivity filter
#: (the ann_filtered_topk rule at the IVFADC tier): measured recall
#: 0.797 at nprobe=16 → 0.87 at 20 vs the exact filtered baseline.
ANN_IVFPQF_NPROBE = 20


@query(
    "ann_ivfpq_filtered",
    _ivfpq_topk_oracle(nprobe=ANN_IVFPQF_NPROBE, match_same_label=True),
)
def ann_ivfpq_filtered_q(spark: SparkSession, sf: str) -> DataFrame:
    """FILTERED search against the persisted IVFADC index — the
    production composition of the round's two lifecycle threads: the
    index is saved with the label as a PAYLOAD COLUMN riding
    codes.parquet (``save_ivfpq_index(attr_cols=('label',))`` — the
    attribute lives next to the posting, so the filtered probe never
    joins an external metadata table at candidate volume), and
    ``ivfpq_topk(index_path=..., match_cols=('label',))`` enforces
    the equality inside the candidate join — before ADC scoring,
    before the shortlist, before the exact rerank.  An index saved
    WITHOUT the attribute refuses the filtered probe loudly
    (test-pinned), and appended batches must carry the column or the
    append refuses (a silently-null attribute would make appended
    vectors unmatched forever).

    Same selectivity rule as ann_filtered_topk, one tier up: the
    1/10-selectivity label filter thins every probed cell, so nprobe
    scales 10 → 20 (recall 0.80 → 0.87 measured, ≥0.80 pinned).
    The oracle is the shared frozen-geometry IVFADC SQL with the
    label equality in cand0 — exactly where the Spark plan enforces
    it."""
    from .operators.similarity import ivfpq_topk, save_ivfpq_index

    embs = _t(spark, sf, "embeddings")
    path = _cached_index(
        (
            "ivfpq_attr", sf, ANN_IVFPQ_CENTROIDS, ANN_IVFPQ_M,
            ANN_IVFPQ_KSUB, ANN_IVFPQ_IVF_LLOYD, ANN_IVFPQ_PQ_LLOYD,
            "label",
        ),
        lambda p: save_ivfpq_index(
            embs,
            p,
            n_centroids=ANN_IVFPQ_CENTROIDS,
            m_subspaces=ANN_IVFPQ_M,
            ksub=ANN_IVFPQ_KSUB,
            ivf_lloyd_iters=ANN_IVFPQ_IVF_LLOYD,
            pq_lloyd_iters=ANN_IVFPQ_PQ_LLOYD,
            attr_cols=("label",),
        ),
    )
    return (
        ivfpq_topk(
            embs,
            k=ANN_IVFPQ_K,
            nprobe=ANN_IVFPQF_NPROBE,
            shortlist=ANN_IVFPQ_SHORTLIST,
            query_pred=F.col("vec_id") < ANN_IVFPQ_QMAX,
            index_path=path,
            match_cols=("label",),
        )
        .select(
            "q_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


#: ann_ivfpq_appended: the initial corpus (index training side) is
#: vec_id < SPLIT; the appended batch is the rest.  SPLIT ≥ the seed
#: counts (32 centroids / 16 codewords) and < the smallest corpus
#: (500 vectors at sf0.001), so both halves are non-empty at every SF.
ANN_IVFPQ_SPLIT = 256


@query(
    "ann_ivfpq_appended",
    _ivfpq_topk_oracle(train_max=ANN_IVFPQ_SPLIT),
)
def ann_ivfpq_appended_q(spark: SparkSession, sf: str) -> DataFrame:
    """The INCREMENTAL-UPSERT path of the persisted IVFADC index
    (VERDICT r8 #2 — the lifecycle completion the dedup index got in
    round 8): save_ivfpq_index trains on the initial corpus
    (vec_id < ANN_IVFPQ_SPLIT = 256) and writes centroids / codebook
    / codes; append_to_ivfpq_index then encodes the later arrivals
    under the FROZEN loaded geometry (cell assignment + PQ codes, no
    retraining) and appends to codes.parquet only; the probe runs
    over the combined index.  The oracle is the IVFADC SQL with BOTH
    Lloyd chains restricted to the initial corpus (train_max=256)
    while assignment/encoding covers everything — exactly the
    frozen-geometry semantics (append ==
    one-shot-encode-under-same-geometry is pinned by
    tests/test_dedup_similarity.py::
    test_ivfpq_index_append_equals_frozen_rebuild).  At 100 TB the
    append is one Arrow/BLAS pass over the NEW vectors only — the
    daily-ingest cost is batch-sized, never corpus-sized.
    """
    from .operators.similarity import (
        append_to_ivfpq_index,
        ivfpq_topk,
        save_ivfpq_index,
    )

    embs = _t(spark, sf, "embeddings")

    def build(p: str) -> None:
        save_ivfpq_index(
            embs.filter(F.col("vec_id") < ANN_IVFPQ_SPLIT),
            p,
            n_centroids=ANN_IVFPQ_CENTROIDS,
            m_subspaces=ANN_IVFPQ_M,
            ksub=ANN_IVFPQ_KSUB,
            ivf_lloyd_iters=ANN_IVFPQ_IVF_LLOYD,
            pq_lloyd_iters=ANN_IVFPQ_PQ_LLOYD,
        )
        append_to_ivfpq_index(
            embs.filter(F.col("vec_id") >= ANN_IVFPQ_SPLIT), p
        )

    path = _cached_index(
        (
            "ivfpq_app", sf, ANN_IVFPQ_SPLIT, ANN_IVFPQ_CENTROIDS,
            ANN_IVFPQ_M, ANN_IVFPQ_KSUB, ANN_IVFPQ_IVF_LLOYD,
            ANN_IVFPQ_PQ_LLOYD,
        ),
        build,
    )
    return (
        ivfpq_topk(
            embs,
            k=ANN_IVFPQ_K,
            nprobe=ANN_IVFPQ_NPROBE,
            shortlist=ANN_IVFPQ_SHORTLIST,
            query_pred=F.col("vec_id") < ANN_IVFPQ_QMAX,
            index_path=path,
        )
        .select(
            "q_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


#: ann_ivfpq_deleted / ann_ivfpq_compacted: the tombstoned slice.
#: vec_id % 10 == 7 crosses both the initial corpus (< SPLIT) and the
#: appended batch, and intersects the query range (< QMAX = 64) — so
#: the test is non-degenerate: deleted vectors vanish as NEIGHBORS
#: while still issuing queries.
ANN_IVFPQ_DROP_SQL = "vec_id % 10 = 7"


def _ivfpq_maintained_probe(spark: SparkSession, sf: str, path: str):
    from .operators.similarity import ivfpq_topk

    return (
        ivfpq_topk(
            _t(spark, sf, "embeddings"),
            k=ANN_IVFPQ_K,
            nprobe=ANN_IVFPQ_NPROBE,
            shortlist=ANN_IVFPQ_SHORTLIST,
            query_pred=F.col("vec_id") < ANN_IVFPQ_QMAX,
            index_path=path,
        )
        .select(
            "q_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
        )
        .orderBy("q_id", "rank")
    )


@query(
    "ann_ivfpq_deleted",
    _ivfpq_topk_oracle(
        train_max=ANN_IVFPQ_SPLIT, drop_pred=ANN_IVFPQ_DROP_SQL
    ),
)
def ann_ivfpq_deleted_q(spark: SparkSession, sf: str) -> DataFrame:
    """DELETION from the persisted IVFADC index without a rebuild
    (VERDICT r9 #5 — the takedown/re-filter path every production
    vector store needs): save on the initial corpus, append the rest
    under the frozen geometry, then remove_from_ivfpq_index tombstones
    vec_id % 10 == 7; the probe's store-aware reader anti-joins the
    tombstones out of the codes and exact-rerank scans, so deleted
    vectors vanish as neighbors while still issuing queries.  The
    oracle is the frozen-geometry IVFADC SQL with the same predicate
    excluding the CANDIDATE side only — i.e. exactly a rebuild
    without the deleted vectors.  Deletion cost at 100 TB: one
    value-set append, never a corpus scan; the probe pays one bounded
    anti-join until compaction folds the tombstones away
    (ann_ivfpq_compacted proves that fold answers identically)."""
    from .operators.similarity import (
        append_to_ivfpq_index,
        remove_from_ivfpq_index,
        save_ivfpq_index,
    )

    embs = _t(spark, sf, "embeddings")

    def build(p: str) -> None:
        save_ivfpq_index(
            embs.filter(F.col("vec_id") < ANN_IVFPQ_SPLIT),
            p,
            n_centroids=ANN_IVFPQ_CENTROIDS,
            m_subspaces=ANN_IVFPQ_M,
            ksub=ANN_IVFPQ_KSUB,
            ivf_lloyd_iters=ANN_IVFPQ_IVF_LLOYD,
            pq_lloyd_iters=ANN_IVFPQ_PQ_LLOYD,
        )
        append_to_ivfpq_index(
            embs.filter(F.col("vec_id") >= ANN_IVFPQ_SPLIT), p
        )
        remove_from_ivfpq_index(
            embs.filter(F.col("vec_id") % 10 == 7).select("vec_id"), p
        )

    path = _cached_index(
        (
            "ivfpq_del", sf, ANN_IVFPQ_SPLIT, ANN_IVFPQ_CENTROIDS,
            ANN_IVFPQ_M, ANN_IVFPQ_KSUB, ANN_IVFPQ_IVF_LLOYD,
            ANN_IVFPQ_PQ_LLOYD,
        ),
        build,
    )
    return _ivfpq_maintained_probe(spark, sf, path)


@query(
    "ann_ivfpq_compacted",
    _ivfpq_topk_oracle(
        train_max=ANN_IVFPQ_SPLIT, drop_pred=ANN_IVFPQ_DROP_SQL
    ),
)
def ann_ivfpq_compacted_q(spark: SparkSession, sf: str) -> DataFrame:
    """The FULL maintenance cycle of the persisted IVFADC index,
    driver-visible (VERDICT r9 #4): save → staged-delta append
    (batch_key, the committed-delta path the streaming sink uses) →
    tombstone delete → compact_ivfpq_index (fold base + delta,
    physically drop tombstoned rows, verify codes ⊆ vectors, commit a
    new GENERATION behind an atomic pointer swap) → probe.  The
    oracle is LITERALLY ann_ivfpq_deleted's — compaction must not
    change a single answer, so the same SQL grading two different
    physical states (tombstone anti-join there, physical drop here)
    IS the maintenance contract.  At 100 TB compaction is the one
    corpus-sized pass and runs on the maintenance cadence; every
    probe after it pays one file open per table and zero
    anti-joins."""
    from .operators.similarity import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        remove_from_ivfpq_index,
        save_ivfpq_index,
    )

    embs = _t(spark, sf, "embeddings")

    def build(p: str) -> None:
        save_ivfpq_index(
            embs.filter(F.col("vec_id") < ANN_IVFPQ_SPLIT),
            p,
            n_centroids=ANN_IVFPQ_CENTROIDS,
            m_subspaces=ANN_IVFPQ_M,
            ksub=ANN_IVFPQ_KSUB,
            ivf_lloyd_iters=ANN_IVFPQ_IVF_LLOYD,
            pq_lloyd_iters=ANN_IVFPQ_PQ_LLOYD,
        )
        append_to_ivfpq_index(
            embs.filter(F.col("vec_id") >= ANN_IVFPQ_SPLIT),
            p,
            batch_key="day1",
        )
        remove_from_ivfpq_index(
            embs.filter(F.col("vec_id") % 10 == 7).select("vec_id"), p
        )
        compact_ivfpq_index(spark, p)

    path = _cached_index(
        (
            "ivfpq_cmp", sf, ANN_IVFPQ_SPLIT, ANN_IVFPQ_CENTROIDS,
            ANN_IVFPQ_M, ANN_IVFPQ_KSUB, ANN_IVFPQ_IVF_LLOYD,
            ANN_IVFPQ_PQ_LLOYD,
        ),
        build,
    )
    return _ivfpq_maintained_probe(spark, sf, path)


# ---------------------------------------------------------------------------
# Text-analysis extensions
# ---------------------------------------------------------------------------


@query(
    "text_stats",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
             x -> list_contains(['the','a','and','of','to'], x))) AS BIGINT) AS n_stop,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha
    FROM documents ORDER BY doc_id
    """,
)
def text_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    """Token count / stopword count / alpha-char count per document."""
    d = _t(spark, sf, "documents")
    _, n_alpha, _ = TX.char_class_counts(F.col("text"))
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        TX.stopword_count(F.col("text")).cast("bigint").alias("n_stop"),
        n_alpha.cast("bigint").alias("n_alpha"),
    ).orderBy("doc_id")


@query(
    "text_quality_filter",
    """
    SELECT doc_id, lang FROM documents
    WHERE len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) BETWEEN 10 AND 10000
      AND len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
            x -> list_contains(['the','a','and','of','to'], x))) > 0
    ORDER BY doc_id
    """,
)
def text_quality_q(spark: SparkSession, sf: str) -> DataFrame:
    """Quality keep-filter: token band + stopword presence."""
    d = _t(spark, sf, "documents")
    return d.filter(TX.quality_ok(F.col("text"))).select("doc_id", "lang").orderBy(
        "doc_id"
    )


def gopher_metrics(text_col) -> dict:
    """The five per-document metrics the Gopher rules test.  Meant to
    be PROJECTED ONCE before the rules evaluate: inlining them into
    each rule column repeats the tokenize subtree per rule in the
    generated code (head-to-head at sf0.1, warmed: 0.375 s inline vs
    0.339 s projected — runtime subexpression elimination recovers
    most but not all of the duplication, and the projected form keeps
    the generated code linear in the rule count)."""
    toks = TX.tokens(text_col)
    return {
        "n": F.size(toks),
        "tchars": F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
        "n_alpha": F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))),
        "n_stop": TX.stopword_count(text_col),
        "n_types": F.size(F.array_distinct(toks)),
    }


def gopher_rules_from(n, tchars, n_alpha, n_stop, n_types) -> dict:
    """The Gopher rule columns over already-projected metric columns
    (exact INTEGER cross-multiplication thresholds; the rule set
    text_gopher_filters pins against its oracle) — ONE implementation
    shared with the docs_modern_corpus composite."""
    return {
        "r_word_count": n.between(30, 50000),
        "r_mean_word_len": (3 * n <= tchars) & (tchars <= 10 * n),
        "r_alpha_words": 5 * n_alpha >= 4 * n,
        "r_stopwords": n_stop >= 2,
        "r_type_token": 10 * n_types >= 3 * n,
    }


_GOPHER_METRIC_NAMES = ("n", "tchars", "n_alpha", "n_stop", "n_types")


def with_gopher_keep(df: DataFrame, text_col) -> DataFrame:
    """``df`` plus a boolean ``__gkeep`` column: metrics projected
    once, rules conjoined over the projected columns."""
    met = gopher_metrics(text_col)
    tmp = [f"__gm_{k}" for k in _GOPHER_METRIC_NAMES]
    out = df.select("*", *[met[k].alias(t) for k, t in zip(_GOPHER_METRIC_NAMES, tmp)])
    rules = gopher_rules_from(*[F.col(t) for t in tmp])
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return out.withColumn("__gkeep", keep).drop(*tmp)


def quality_logreg_score(text_col) -> tuple:
    """(score_sum, n_tokens) with hashed integer weights (the scoring
    docs_quality_logreg pins against its oracle) — consumed by the
    docs_modern_corpus composite."""
    from .functions.hashing import portable_hash64

    half = (QLR_LEVELS - 1) // 2
    toks = TX.tokens(text_col)
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: acc + (portable_hash64(t, seed="qlw") % QLR_LEVELS - half),
    )
    return score, F.size(toks)


def quality_logreg_keep(text_col):
    score, n = quality_logreg_score(text_col)
    return score + QLR_INTERCEPT * n > 0



@query(
    "text_gopher_filters",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n,
             coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS tchars,
             len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
             len(list_filter(toks, x -> list_contains(['the','a','and','of','to'], x))) AS n_stop,
             len(list_distinct(toks)) AS n_types
      FROM t
    )
    SELECT doc_id,
           n BETWEEN 30 AND 50000                  AS r_word_count,
           (3 * n <= tchars AND tchars <= 10 * n)  AS r_mean_word_len,
           5 * n_alpha >= 4 * n                    AS r_alpha_words,
           n_stop >= 2                             AS r_stopwords,
           10 * n_types >= 3 * n                   AS r_type_token,
           (n BETWEEN 30 AND 50000
             AND 3 * n <= tchars AND tchars <= 10 * n
             AND 5 * n_alpha >= 4 * n
             AND n_stop >= 2
             AND 10 * n_types >= 3 * n)            AS keep
    FROM m ORDER BY doc_id
    """,
)
def text_gopher_filters_q(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1),
    one boolean per rule plus the conjunctive keep flag: word-count
    band, mean word length in [3,10], ≥80% of words containing an
    alphabetic character, ≥2 stopwords, and type/token ratio ≥ 0.3 —
    every threshold as exact INTEGER cross-multiplication (no float
    ratios), so both engines agree on boundary documents.

    Scale shape: pure per-row Column expressions over one scan —
    map-only, whole-stage-codegen, zero shuffles before the contract
    sort; composable as a pushdown-friendly filter stage in front of
    any dedup pipeline (the keep flag is the conjunction, so a user
    filters on it without recomputing the parts).
    """
    d = _t(spark, sf, "documents")
    # metrics projected ONCE (see gopher_metrics docstring), then the
    # SHARED rule implementation evaluates over the projected columns
    met = gopher_metrics(F.col("text"))
    m = d.select("doc_id", *[c.alias(k) for k, c in met.items()])
    rules = gopher_rules_from(*[F.col(k) for k in _GOPHER_METRIC_NAMES])
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return m.select(
        "doc_id",
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    ).orderBy("doc_id")




@query(
    "docs_quality_logreg",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(coalesce(list_sum(list_transform(toks,
                    t -> {portable_hash64_sql('t', 'qlw')} % {QLR_LEVELS}
                         - {(QLR_LEVELS - 1) // 2})), 0) AS BIGINT) AS score_sum,
             CAST(len(toks) AS BIGINT) AS n_tokens
      FROM t
    )
    SELECT doc_id, score_sum, n_tokens,
           score_sum + {QLR_INTERCEPT} * n_tokens > 0 AS keep
    FROM s ORDER BY doc_id
    """,
)
def docs_quality_logreg_q(spark: SparkSession, sf: str) -> DataFrame:
    """Learned-quality-classifier scoring via the hashing trick
    (fastText-style linear model, Joulin et al. 2016): each token maps
    to an INTEGER weight through a portable hash (no vocabulary table
    to ship — the hash IS the feature lookup), the document score is
    the weight sum, and the keep decision is the integer
    cross-multiplied form of ``mean weight > -intercept``.  The
    weights here are hash-derived stand-ins with the exact plumbing a
    trained model uses: swap ``portable_hash64 % LEVELS`` for
    ``hash -> weight_array[hash % 2^k]`` (a literal array lookup) and
    nothing else changes.

    Scale shape: map-only — tokenize, one ``aggregate`` HOF per row
    (whole-stage codegen, no Python), zero shuffles before the
    contract sort.  At 100 TB this is the cheapest possible classifier
    application: no join against a weight table, no UDF, one scan.
    Exact-integer score, so both engines agree on every boundary doc.
    """
    from .functions.hashing import portable_hash64

    half = (QLR_LEVELS - 1) // 2
    d = _t(spark, sf, "documents")
    toks = TX.tokens(F.col("text"))
    s = d.select(
        "doc_id",
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + (portable_hash64(t, seed="qlw") % QLR_LEVELS - half),
        ).alias("score_sum"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    return s.select(
        "doc_id",
        "score_sum",
        "n_tokens",
        (F.col("score_sum") + QLR_INTERCEPT * F.col("n_tokens") > 0).alias(
            "keep"
        ),
    ).orderBy("doc_id")


@query(
    "text_langid",
    """
    SELECT doc_id, lang,
           CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) = 0 THEN 'unk'
                WHEN (len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), x -> x = 'the'))
                    + len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), x -> x = 'a'))) * 20
                     >= len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))
                THEN 'en' ELSE 'unk' END AS pred_lang
    FROM documents ORDER BY doc_id
    """,
)
def text_langid_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic language-ID heuristic vs. the labeled lang column."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", "lang", TX.langid_heuristic(F.col("text")).alias("pred_lang")
    ).orderBy("doc_id")


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint_q(spark: SparkSession, sf: str) -> DataFrame:
    """Normalized md5 document fingerprint."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


@query(
    "text_token_freq",
    """
    SELECT token, count(*) AS n
    FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token FROM documents) t
    GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
)
def text_token_freq_q(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token frequency top-20 (explode + count + deterministic top-k)."""
    d = _t(spark, sf, "documents")
    return (
        d.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@query(
    "text_rare_tokens",
    f"""
    WITH tk AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), rare AS (
      SELECT tok FROM tk GROUP BY tok HAVING count(*) <= 2
    ), r AS (
      SELECT doc_id, count(*) AS n_rare FROM tk JOIN rare USING (tok)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(coalesce(r.n_rare, 0) AS BIGINT) AS n_rare
    FROM documents d LEFT JOIN r USING (doc_id) ORDER BY doc_id
    """,
)
def text_rare_tokens_q(spark: SparkSession, sf: str) -> DataFrame:
    """Rare/OOV-token counts per document (CCNet-style quality signal:
    a high rare fraction flags garbled or boilerplate-heavy text) —
    exact integers, no float aggregates.

    Skew-safe plan: joining every exploded token against the full
    frequency table would funnel the stopword keys into single
    partitions; the semi-join against the RARE vocabulary has no such
    hot keys (every join key occurs <= 2 times by construction).  The
    rare set is NOT broadcast-forced: by type count hapax legomena are
    the largest slice of a Zipfian vocabulary (~half of all distinct
    tokens), so at 100 TB it is shuffle-join material — AQE picks the
    strategy from the actual size."""
    d = _t(spark, sf, "documents")
    tk = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    rare = (
        tk.groupBy("tok")
        .agg(F.count("*").alias("tf"))
        .filter(F.col("tf") <= 2)
        .select("tok")
    )
    n_rare = (
        tk.join(rare, "tok", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_rare"))
    )
    return (
        d.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))
        .join(n_rare, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("n_rare"), F.lit(0)).cast("bigint").alias("n_rare"),
        )
        .orderBy("doc_id")
    )


def _bpe_ctes(n_merges: int) -> str:
    """Unrolled BPE training CTE chain mirroring operators.bpe exactly:
    s0 = char-spaced word vocabulary; per round, b{i} = winning pair
    (count DESC, pair ASC) and s{i+1} = merge applied via the
    double-space-separated ``replace`` pass (= exact greedy BPE; see
    operators/bpe.py module docstring).  Leaves ``s{n_merges}``
    as the final vocabulary."""
    parts = [
        f"""
WITH s0 AS MATERIALIZED (
  SELECT word, count(*) AS freq,
         trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq
  FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents) t
  GROUP BY word
)"""
    ]
    for i in range(n_merges):
        parts.append(f"""
, b{i} AS MATERIALIZED (
  SELECT pair, cnt FROM (
    SELECT pair, sum(freq) AS cnt FROM (
      SELECT unnest(list_transform(range(len(toks) - 1),
                    j -> toks[j+1] || ' ' || toks[j+2])) AS pair, freq
      FROM (SELECT freq, string_split(seq, ' ') AS toks FROM s{i}) u
    ) p GROUP BY pair
  ) q ORDER BY cnt DESC, pair LIMIT 1
), s{i + 1} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN b.pair IS NULL THEN s.seq
              ELSE trim(regexp_replace(
                replace(' ' || replace(s.seq, ' ', '  ') || ' ',
                        ' ' || replace(b.pair, ' ', '  ') || ' ',
                        ' ' || replace(b.pair, ' ', '') || ' '),
                ' +', ' ', 'g'))
         END AS seq
  FROM s{i} s LEFT JOIN b{i} b ON true
)""")
    return "".join(parts)


def _bpe_train_oracle(n_merges: int = 10) -> str:
    rows = "\n  UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, "
        f"string_split(pair, ' ')[1] AS lhs, string_split(pair, ' ')[2] AS rhs, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return f"""{_bpe_ctes(n_merges)}
SELECT merge_rank, lhs, rhs, pair_count FROM (
  {rows}
) m ORDER BY merge_rank
"""


def _bpe_encode_oracle(n_merges: int = 10) -> str:
    return f"""{_bpe_ctes(n_merges)}
, enc AS (
  SELECT word, len(string_split(seq, ' ')) AS n_sym FROM s{n_merges}
), tk AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_sym) AS BIGINT) AS n_bpe
  FROM tk JOIN enc USING (word) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_words, 0) AS n_words,
       coalesce(a.n_bpe, 0) AS n_bpe
FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id
"""


@query("text_bpe_train", _bpe_train_oracle())
def text_bpe_train_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL distributed BPE training (operators/bpe.py — the learned
    upgrade of functions/text.py's ``bpe_ish`` heuristic): 10 rounds of
    freq-weighted adjacent-pair counting over the word vocabulary, each
    winner applied by greedy left-to-right merge.  The corpus collapses
    to (word, freq) in ONE shuffle; every training round then works on
    the dimension-sized vocabulary — the shape that holds when the
    corpus is 100 TB but the vocabulary is millions of rows.  Output is
    the learned merge table itself; the DuckDB oracle unrolls the
    identical 10 rounds as a CTE chain."""
    from .operators import bpe as BPE

    docs = _t(spark, sf, "documents")
    return BPE.merge_table(spark, docs).orderBy("merge_rank")


@query("text_bpe_encode", _bpe_encode_oracle())
def text_bpe_encode_q(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenize with the LEARNED merges: per document, whitespace-token
    and BPE-symbol counts under the 10-merge table of
    ``text_bpe_train``.  The final vocabulary is the join build side
    (AQE-chosen strategy — a heavy-tailed vocabulary is unbounded);
    zero-token documents survive with zero counts."""
    from .operators import bpe as BPE

    return BPE.encode_counts(_t(spark, sf, "documents")).orderBy("doc_id")


def _split_oracle() -> str:
    from .operators.sampling import split_sql

    case = split_sql("doc_id", {"train": 80, "val": 10, "test": 10})
    return f"""
    SELECT doc_id, {case} AS split
    FROM documents ORDER BY doc_id
    """


@query("docs_train_split", _split_oracle())
def docs_split_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split on the stable doc id
    (hash-bucketed — reproducible across runs and engines, unlike
    randomSplit)."""
    from .operators.sampling import deterministic_split

    d = _t(spark, sf, "documents").select("doc_id")
    return deterministic_split(
        d, "doc_id", {"train": 80, "val": 10, "test": 10}
    ).orderBy("doc_id")


@query(
    "docs_pipeline",
    """
    WITH fp AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
      FROM documents
      WHERE len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) BETWEEN 10 AND 10000
        AND len(list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''),
              x -> list_contains(['the','a','and','of','to'], x))) > 0
    ), keep AS (
      SELECT fingerprint, min(doc_id) AS keep_id FROM fp GROUP BY fingerprint
    )
    SELECT f.doc_id, f.lang, CAST(f.n_tokens AS BIGINT) AS n_tokens, f.fingerprint
    FROM fp f JOIN keep k ON f.fingerprint = k.fingerprint AND f.doc_id = k.keep_id
    ORDER BY doc_id
    """,
)
def docs_pipeline_q(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship training-data pipeline: quality filter → exact dedup
    (keep lowest id per fingerprint) → enriched survivors.  One lazy
    plan: scan → filter → window dedup → project."""
    d = _t(spark, sf, "documents")
    filtered = d.filter(TX.quality_ok(F.col("text"))).select(
        "doc_id",
        "lang",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        filtered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("doc_id", "lang", "n_tokens", "fingerprint")
        .orderBy("doc_id")
    )


@query(
    "text_token_bpe",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
)
def text_token_bpe_q(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-style pre-tokenizer token counts (regex word/punct runs)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        TX.bpe_ish_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@query(
    "text_pii_scrub",
    f"""
    SELECT doc_id, {TX.scrub_pii_sql('text')} AS clean_text
    FROM documents ORDER BY doc_id
    """,
)
def text_pii_scrub_q(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone shapes) — the release gate
    for web-scraped training text.  Pure regexp_replace chain (map-only,
    codegen'd); patterns restricted to the Java-regex ∩ RE2 subset so
    the oracle redacts identically."""
    return (
        _t(spark, sf, "documents")
        .select("doc_id", TX.scrub_pii(F.col("text")).alias("clean_text"))
        .orderBy("doc_id")
    )


@query(
    "text_url_domains",
    f"""
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_distinct(list_transform(
             regexp_extract_all(text, '{TX.URL_RE}'),
             u -> regexp_extract(u, '{TX.DOMAIN_RE}', 1)))), ','), '') AS domains_csv
    FROM documents ORDER BY doc_id
    """,
)
def text_url_domains_q(spark: SparkSession, sf: str) -> DataFrame:
    """Linked-domain extraction per document (sorted, comma-joined) —
    feeds domain blocklist filtering.  Map-only regexp work."""
    return (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.array_join(TX.url_domains(F.col("text")), ",").alias("domains_csv"),
        )
        .orderBy("doc_id")
    )


def _textrank_oracle(iters: int = 3) -> str:
    """Unrolled per-document integer PageRank (same pattern as the
    unrolled PQ codebook oracle): r0 = 1e6 micro-units, then
    r' = 150000 + (850 · Σ r_u // outdeg_u) // 1000 per iteration.
    DuckDB's SUM widens to exact HUGEINT internally; the final CAST
    emits BIGINT, satisfying the output type gate."""
    head = f"""
WITH tk AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
pairs AS (
  SELECT DISTINCT doc_id, t[i+1] AS u, t[i+2] AS v
  FROM tk, UNNEST(range(greatest(len(t)-1, 0))) AS r(i)
  WHERE t[i+1] <> t[i+2]
),
nodes AS (
  SELECT doc_id, u AS node FROM pairs UNION SELECT doc_id, v FROM pairs
),
od AS (SELECT doc_id, u, count(*) AS od FROM pairs GROUP BY doc_id, u),
r0 AS (SELECT doc_id, node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
c{k} AS (
  SELECT p.doc_id, p.v AS node, SUM(r.r // o.od) AS c
  FROM pairs p
  JOIN od o ON o.doc_id = p.doc_id AND o.u = p.u
  JOIN r{k - 1} r ON r.doc_id = p.doc_id AND r.node = p.u
  GROUP BY p.doc_id, p.v
),
r{k} AS (
  SELECT n.doc_id, n.node, 150000 + (850 * coalesce(c.c, 0)) // 1000 AS r
  FROM nodes n LEFT JOIN c{k} c ON c.doc_id = n.doc_id AND c.node = n.node
)""")
    tail = f"""
SELECT doc_id, node AS token, CAST(r AS BIGINT) AS score, rn AS kw_rank FROM (
  SELECT doc_id, node, r,
         row_number() OVER (PARTITION BY doc_id ORDER BY r DESC, node) AS rn
  FROM r{iters}
) t WHERE rn <= 3 ORDER BY doc_id, kw_rank
"""
    return head + "".join(steps) + tail


@query("text_textrank", _textrank_oracle())
def text_textrank_q(spark: SparkSession, sf: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): per-doc
    top-3 tokens by PageRank over the word-adjacency graph — the
    graph-based complement to text_keywords' TF-IDF salience.  Runs
    operators/graph.pagerank grouped by doc_id with EXACT integer
    micro-unit arithmetic (floor-div shares, milli-damping), so the
    Spark iteration and the oracle's unrolled CTE chain agree
    bit-for-bit — float PageRank would not be cross-engine stable.
    Scale shape: all iteration shuffles key on (doc_id, token);
    ranks never leave their document, so the work is one corpus-scan
    plus iterations × (join + agg) at corpus-token volume, and a
    bucketed layout on doc_id makes the loop exchange-free."""
    from .operators import graph as GR

    d = _t(spark, sf, "documents")
    toks = d.select("doc_id", TX.tokens(F.col("text")).alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS u, t[i+1] AS v))"
            )
        ).alias("p"),
    ).select("doc_id", "p.u", "p.v")
    ranks = GR.pagerank(pairs, iterations=3, group_cols=["doc_id"])
    w = Window.partitionBy("doc_id").orderBy(
        F.col("rank").desc(), F.col("node")
    )
    return (
        ranks.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= 3)
        .select(
            "doc_id",
            F.col("node").alias("token"),
            F.col("rank").alias("score"),
            F.col("kw_rank").cast("bigint").alias("kw_rank"),
        )
        .orderBy("doc_id", "kw_rank")
    )


@query(
    "text_repetition",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_transform(range(greatest(len(t)-2, 0)),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS all_sh
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    )
    SELECT doc_id,
           CAST(len(all_sh) AS BIGINT) AS n_ngrams,
           CAST(coalesce(list_max(list_transform(list_distinct(all_sh),
                  s -> len(list_filter(all_sh, x -> x = s)))), 0) AS BIGINT)
             AS max_ngram_freq,
           (coalesce(list_max(list_transform(list_distinct(all_sh),
               s -> len(list_filter(all_sh, x -> x = s)))), 0) * 5 >= len(all_sh)
            AND len(all_sh) > 0) AS is_repetitive
    FROM sh ORDER BY doc_id
    """,
)
def text_repetition_q(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram repetition stats: duplicates-kept trigram count and the
    top trigram's frequency; ``is_repetitive`` = top trigram covers
    >= 20% of all trigrams (integer-exact gate) — the generated-spam /
    boilerplate-loop signal."""
    n_ngrams, max_freq = TX.ngram_repetition_stats(F.col("text"), n=3)
    return (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            n_ngrams.cast("bigint").alias("n_ngrams"),
            max_freq.cast("bigint").alias("max_ngram_freq"),
        )
        .withColumn(
            "is_repetitive",
            (F.col("max_ngram_freq") * 5 >= F.col("n_ngrams"))
            & (F.col("n_ngrams") > 0),
        )
        .orderBy("doc_id")
    )


@query(
    "docs_pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, lang, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor(CAST(sum(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS DOUBLE) / 256) AS BIGINT) AS bin_id
    FROM t ORDER BY doc_id
    """,
)
def docs_pack_sequences_q(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: per-language 256-token context-window bins via
    a running token total (concat-then-chunk semantics; see
    operators/packing.py)."""
    from .operators.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf, "documents"), budget=256, stream_col="lang"
    ).orderBy("doc_id")


#: per-language keep percentages for the stratified-sample query.
_STRAT_RATES = {"en": 100, "de": 50, "es": 50, "fr": 25, "zh": 25}


def _strat_oracle() -> str:
    from .operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql("lang", _STRAT_RATES, "doc_id")
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {pred} ORDER BY doc_id
    """


@query("docs_stratified_sample", _strat_oracle())
def docs_stratified_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language downsampling (language rebalancing):
    hash-bucketed keep decision, stable across runs/partitionings —
    unlike sampleBy."""
    from .operators.sampling import stratified_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return stratified_sample(d, "lang", _STRAT_RATES, "doc_id").orderBy("doc_id")


@query(
    "docs_chunk",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(range(CAST(ceil(greatest(len(toks) - 16, 1) / 48.0)
                          AS BIGINT))) AS chunk_idx
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64))
                AS BIGINT) AS n_toks,
           md5(array_to_string(
             list_slice(toks, chunk_idx*48 + 1, chunk_idx*48 + 64), ' '))
             AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx
    """,
)
def docs_chunk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping document chunking: 64-token windows at stride 48
    (16-token overlap) — the context-window splitting step that feeds
    sequence packing.  1→N explode over a per-doc chunk count, each
    chunk a slice of the token array; map-only, no shuffle before the
    final sort.  Chunks are compared by token count + md5 of the
    space-joined window."""
    d = _t(spark, sf, "documents")
    t = d.select("doc_id", TX.tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n_chunks = F.ceil(
        F.greatest(F.size("toks") - 16, F.lit(1)) / F.lit(48.0)
    ).cast("int")
    c = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(c.toks, F.col("chunk_idx") * 48 + 1, F.lit(64))
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_toks"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


def _cdc_chunks_cte(divisor: int = 16) -> str:
    """The shared chunk-derivation CTE chain (through ``chunks``) used
    by both CDC queries' oracles."""
    close_pred = f"{portable_hash64_sql('t[i+1]', 'cdc')} % {divisor} = 0"
    return f"""toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), b AS (
  SELECT doc_id, t,
         list_filter(range(len(t)), i -> {close_pred}) AS closes
  FROM toks
), r AS (
  SELECT doc_id, t,
         list_concat(list_transform(closes, i -> i + 1),
           CASE WHEN len(t) > 0 AND (len(closes) = 0 OR closes[-1] != len(t) - 1)
                THEN [len(t)] ELSE [] END) AS ends
  FROM b
), s AS (
  SELECT doc_id, t, ends,
         list_prepend(0, ends[1:len(ends) - 1]) AS starts
  FROM r WHERE len(ends) > 0
), chunks AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id ORDER BY starts[i + 1]) - 1 AS chunk_idx,
         starts[i + 1] AS start_tok,
         ends[i + 1] - starts[i + 1] AS n_tokens,
         md5(array_to_string(t[starts[i + 1] + 1 : ends[i + 1]], ' ')) AS chunk_hash
  FROM s, UNNEST(range(len(ends))) AS u(i)
  WHERE ends[i + 1] > starts[i + 1]
)"""


def _cdc_chunk_oracle(divisor: int = 16) -> str:
    return f"""
WITH {_cdc_chunks_cte(divisor)}
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(n_tokens AS BIGINT) AS n_tokens, chunk_hash
FROM chunks ORDER BY doc_id, chunk_idx
"""


def _cdc_dedup_oracle(divisor: int = 16) -> str:
    return f"""
WITH {_cdc_chunks_cte(divisor)}, dup AS (
  SELECT chunk_hash FROM chunks
  GROUP BY chunk_hash HAVING count(DISTINCT doc_id) > 1
), shared AS (
  SELECT c.doc_id, count(*) AS n_shared
  FROM chunks c JOIN dup USING (chunk_hash) GROUP BY c.doc_id
)
SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(coalesce(max(s.n_shared), 0) AS BIGINT) AS n_shared
FROM chunks c LEFT JOIN shared s ON c.doc_id = s.doc_id
GROUP BY c.doc_id ORDER BY c.doc_id
"""


def _cdc_chunks_df(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, n_tokens, chunk_hash) — shared
    by the CDC chunking queries.  Map-only explode, no shuffle."""
    d = _t(spark, sf, "documents")
    t = d.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    c = t.select(
        "doc_id",
        "t",
        F.posexplode(TX.cdc_chunks(F.col("t"))).alias("chunk_idx", "c"),
    )
    chunk = F.slice(
        F.col("t"), F.col("c.start") + 1, F.col("c.end") - F.col("c.start")
    )
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("c.start").cast("bigint").alias("start_tok"),
        (F.col("c.end") - F.col("c.start")).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@query("docs_cdc_chunk", _cdc_chunk_oracle())
def docs_cdc_chunk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (functions/text.py::cdc_chunks): a
    token whose seeded hash is 0 mod 16 closes the chunk, so boundaries
    move WITH the content — insert a sentence and only the touched
    chunks change hash, which makes chunk-granular dedup robust to
    edits (the rsync/LBFS splitting idea on token streams; the
    fixed-window twin is ``docs_chunk``).  Map-only explode, no shuffle
    before the final sort; per-chunk md5 over the token slice."""
    return _cdc_chunks_df(spark, sf).orderBy("doc_id", "chunk_idx")


@query("docs_cdc_dedup", _cdc_dedup_oracle())
def docs_cdc_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Chunk-granular duplicate detection — the reason CDC chunking
    exists: per document, how many of its content-defined chunks also
    appear in ANOTHER document (boilerplate headers, quoted passages,
    shifted near-copies that whole-document fingerprints miss).
    The duplicated-hash set is usually the distribution's tail, but on
    boilerplate-heavy corpora it is unbounded — so the join strategy is
    left to AQE (which broadcasts only when the built side measures
    small at runtime) rather than force-broadcast; the only shuffles
    are the two hash/doc aggregations."""
    chunks = _cdc_chunks_df(spark, sf)
    dup = (
        chunks.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("chunk_hash")
    )
    shared = (
        chunks.join(dup, "chunk_hash", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        chunks.groupBy("doc_id")
        .agg(F.count("*").alias("n_chunks"))
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_chunks").cast("bigint").alias("n_chunks"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
        )
        .orderBy("doc_id")
    )


def _temperature_oracle() -> str:
    from .functions.hashing import portable_hash64_sql

    bucket = f"({portable_hash64_sql('CAST(doc_id AS VARCHAR)', 'strat')} % 100)"
    return f"""
    WITH counts AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), rates AS (
      SELECT lang,
             CAST(floor(100 * sqrt(CAST(n AS DOUBLE) / max(n) OVER ())) AS BIGINT)
               AS rate
      FROM counts
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r USING (lang)
    WHERE {bucket} < r.rate
    ORDER BY d.doc_id
    """


@query("docs_temperature_sample", _temperature_oracle())
def docs_temperature_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based language rebalancing (alpha=0.5): keep rate per
    language = floor(100*sqrt(n_lang/n_max)) — up-weights low-resource
    languages relative to proportional sampling, the standard
    multilingual-mix move.  Rates are DATA-DEPENDENT but engine-stable
    (IEEE sqrt is correctly rounded; division/multiply/floor are exact
    same-order double ops), and the keep decision reuses the
    deterministic hash bucket.  Plan: tiny counts agg + unpartitioned
    window over ~n_langs rows, broadcast-joined back to the corpus —
    no BroadcastNestedLoopJoin (a scalar max cross-join would be one).
    """
    from .functions.hashing import portable_hash64

    d = _t(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n"))
    rates = counts.select(
        "lang",
        F.floor(
            100
            * F.sqrt(
                F.col("n").cast("double")
                / F.max("n").over(Window.partitionBy())
            )
        )
        .cast("bigint")
        .alias("rate"),
    )
    bucket = portable_hash64(F.col("doc_id").cast("string"), seed="strat") % 100
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("rate"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "docs_contamination",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(t)-2, 0)),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
    ), b AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 50 = 0
    ), c AS (
      SELECT doc_id, s FROM ex WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM c JOIN b USING (s)
    GROUP BY c.doc_id ORDER BY doc_id
    """,
)
def docs_contamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id % 50 != 0) sharing
    trigram shingles with the held-out 'benchmark' slice (doc_id % 50
    == 0).  Benchmark shingles broadcast; corpus streams through one
    hash join (operators/dedup.py::benchmark_contamination)."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return DD.benchmark_contamination(corpus, bench, n=3).orderBy("doc_id")


@query(
    "docs_bloom_contamination",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(t)-2, 0)),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
    ), b AS (
      SELECT DISTINCT s FROM ex WHERE doc_id % 50 = 0
    ), c AS (
      SELECT doc_id, s FROM ex WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM c JOIN b USING (s)
    GROUP BY c.doc_id ORDER BY doc_id
    """,
)
def docs_bloom_contamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination through a Bloom-filter prefilter
    (operators/dedup.py::bloom_contamination): the benchmark slice's
    trigram shingles compress into a 2^16-bit bitmap (built with ONE
    bit_or groupBy, 1024 int64 words); corpus shingles probe it
    map-side with 4 getbit expressions — pure whole-stage codegen, no
    join — and only survivors reach the exact-confirm equi-join.
    Blooms admit false positives but never false negatives, so the
    oracle is the EXACT contamination SQL: the result is identical to
    docs_contamination by construction, which is the point — the
    bitmap is a performance lever, not an approximation of the answer.
    At 100 TB this is the shape that survives a benchmark suite too
    big to broadcast as a hash relation: ~1 bit ships per 10 benchmark
    shingles, and the confirm join's corpus side is pre-shrunk to the
    contaminated sliver plus fp residue."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return DD.bloom_contamination(corpus, bench, n=3).orderBy("doc_id")


@query(
    "text_rolling_hash",
    """
    SELECT doc_id,
           -- list_filter guards DuckDB's split('', '') quirk: it yields a
           -- single '' element under list_transform, and ord('') = -1
           list_reduce([CAST(0 AS BIGINT)] ||
                       list_transform(list_filter(split(text, ''), c -> c <> ''),
                                      c -> CAST(ord(c) AS BIGINT)),
                       (a, b) -> (a * 31 + b) % 2147483647) AS rhash
    FROM documents ORDER BY doc_id
    """,
)
def text_rolling_hash_q(spark: SparkSession, sf: str) -> DataFrame:
    """Rabin-Karp polynomial rolling-hash document fingerprints."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", TX.rolling_hash(F.col("text")).alias("rhash")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus assembly — shuffle/shard, domain mixing, retrieval scoring,
# substring-level duplication (round 5 additions)
# ---------------------------------------------------------------------------


@query(
    "docs_global_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id,
             {portable_hash64_sql("CAST(doc_id AS VARCHAR)", 'shuf')} AS hk
      FROM documents
    )
    SELECT doc_id,
           CAST(hk % 8 AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id)
                AS BIGINT) AS pos
    FROM h ORDER BY shard, pos
    """,
)
def docs_global_shuffle_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    write-side of every training run: a reproducible random order that
    is independent of input file layout (keyed on content id, not on
    read order), split into shards for parallel consumption.

    Scale shape: one hash projection + one shuffle on ``shard``; the
    per-shard ``row_number`` sort is bounded by shard size, and shard
    count is the lever (8 here for oracle compactness; thousands at
    100 TB so each shard is a few GB and the per-shard sort never
    exceeds a task).  No global sort, no driver state.
    """
    from .functions.hashing import portable_hash64

    d = _t(spark, sf, "documents")
    h = d.select(
        "doc_id",
        portable_hash64(F.col("doc_id").cast("string"), seed="shuf").alias("hk"),
    )
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        h.withColumn("shard", (F.col("hk") % 8).cast("bigint"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


@query(
    "docs_domain_mix",
    f"""
    WITH rates AS (
      SELECT source,
             CAST(10 + {portable_hash64_sql('source', 'mixw')} % 90 AS BIGINT)
               AS rate
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE {portable_hash64_sql("CAST(doc_id AS VARCHAR)", 'mix')} % 100 < r.rate
    ORDER BY d.doc_id
    """,
)
def docs_domain_mix_q(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture sampling: apply a per-source keep-rate table
    (the Pile/Dolma "mixture weights" step) with deterministic hash
    buckets, so the same doc set is kept on every run and on any
    cluster.  The rate table here is derived from the source name
    (10-99%) standing in for a user-supplied mixture config; the
    operator shape — tiny rate dim broadcast against the corpus, no
    RNG, no driver state — is the 100 TB path.
    """
    from .functions.hashing import portable_hash64

    d = _t(spark, sf, "documents")
    rates = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (10 + portable_hash64(F.col("source"), seed="mixw") % 90)
            .cast("bigint")
            .alias("rate"),
        )
    )
    bucket = portable_hash64(F.col("doc_id").cast("string"), seed="mix") % 100
    return (
        d.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("rate"))
        .select("doc_id", "source", "rate")
        .orderBy("doc_id")
    )


#: BM25 parameters — Lucene-style idf (always >= 0, safe when df ~ N)
_BM25_TERMS = ("hash", "join", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{term}')) AS tf{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    score_terms = " + ".join(
        f"""(ln(1 + (CAST(n_docs AS DOUBLE) - df{i} + 0.5) / (df{i} + 0.5))
             * (tf{i} * ({_BM25_K1} + 1))
             / (tf{i} + {_BM25_K1} * (1 - {_BM25_B}
                + {_BM25_B} * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))"""
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH tk AS (
      SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, {tf_cols}
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ), stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols} FROM tk
    ), scored AS (
      SELECT doc_id,
             CAST(round(({score_terms}) * 10000) AS BIGINT) AS score_e4
      FROM tk CROSS JOIN stats
    )
    SELECT doc_id, score_e4,
           CAST(row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS BIGINT)
             AS rank
    FROM scored WHERE score_e4 > 0
    ORDER BY rank LIMIT 20
    """


@query("text_bm25_topk", _bm25_oracle())
def text_bm25_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75, Lucene idf) for a fixed
    keyword query, top-20 docs — the quality/retrieval primitive behind
    targeted corpus curation (e.g. pulling domain-relevant documents).

    Hash-stability: the float score is quantized to an e4 integer
    (``round(score*1e4)``) with doc_id tie-breaks, and the three
    per-term scores are summed as explicit columns in fixed
    left-to-right order, so Spark and DuckDB evaluate bit-identical
    IEEE expressions — no partition-order float summation anywhere.

    Scale shape: one corpus pass computes per-doc tf/dl; a single
    global stats row (count/sum/df) is broadcast back; everything else
    is per-row expression work in codegen.  The final top-k is
    ``orderBy ... limit`` which Spark executes as TakeOrdered (per
    -partition heaps + driver merge of k rows), not a global sort.
    """
    from .operators.iterutils import fan_out

    # fan the narrow scan out before the per-term HOF filters (round
    # 13, guide §2.5): the tf columns evaluate one interpreted
    # higher-order filter per term per row, all fused into the
    # single-task scan stage on a one-row-group input — measured 2×
    # faster spread across the session's cores (A/B both cycles);
    # no-op on pre-split inputs at scale
    d = fan_out(_t(spark, sf, "documents"))
    toks = TX.tokens(F.col("text"))
    def _tf(term: str) -> Column:
        # closure, not a default-arg lambda: PySpark dispatches
        # higher-order lambdas on ARITY, so a 2-param lambda would be
        # (mis)read as the binary (value, index) form
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(term).alias(f"tf{i}") for i, term in enumerate(_BM25_TERMS)]
    tk = d.select(
        "doc_id", F.size(toks).cast("double").alias("dl"), *tf_cols
    )
    stats = tk.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    # single-row-broadcast attach via the shared non-foldable
    # constant-key helper (see _attach_scalar for why a bare cross
    # join is not an option: it plans as the banned BNLJ)
    scored = _attach_scalar(tk, stats, "doc_id")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(_BM25_TERMS)):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log(
            1
            + (F.col("n_docs").cast("double") - df + F.lit(0.5))
            / (df + F.lit(0.5))
        )
        s = (
            idf
            * (tf * F.lit(_BM25_K1 + 1))
            / (tf + F.lit(_BM25_K1) * (1 - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl") / avgdl))
        )
        score = s if score is None else score + s
    return (
        scored.select(
            "doc_id",
            F.round(score * 10000).cast("bigint").alias("score_e4"),
        )
        .filter(F.col("score_e4") > 0)
        .orderBy(F.col("score_e4").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("score_e4").desc(), "doc_id"))
            .cast("bigint"),
        )
        .orderBy("rank")
    )


#: winnowing params: token 4-grams, window of 5 consecutive hashes
_WIN_K = 4
_WIN_W = 5
_WIN_POSBITS = 1 << 24  # pos packed into the low 24 bits of the key
_WIN_HASHMOD = 1 << 36  # 36-bit gram hash in the high bits (36+24=60)


def _winnowing_cte() -> str:
    """Shared WITH-prefix ending in ``f`` = the selected (doc_id, sel)
    fingerprint set; both winnowing oracles compose final SELECTs on
    top of it (no string surgery on generated SQL)."""
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(1, _WIN_K + 1))
    h40 = f"({portable_hash64_sql('(' + gram + ')', 'win')} % {_WIN_HASHMOD})"
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), g AS (
      SELECT doc_id, i AS pos, len(t) - {_WIN_K - 1} AS m,
             {h40} * {_WIN_POSBITS} + i AS key
      FROM tk, unnest(range(greatest(len(t)-{_WIN_K - 1}, 0))) AS u(i)
    ), w AS (
      SELECT doc_id, pos, m,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS sel
      FROM g
    ), f AS (
      SELECT DISTINCT doc_id, sel FROM w WHERE pos <= m - {_WIN_W}
    )"""


def _winnowing_oracle() -> str:
    return f"""{_winnowing_cte()}
    SELECT doc_id,
           CAST(sel // {_WIN_POSBITS} AS BIGINT) AS fp_hash,
           CAST(sel % {_WIN_POSBITS} AS BIGINT) AS fp_pos
    FROM f ORDER BY doc_id, fp_pos, fp_hash
    """


@query("text_winnowing", _winnowing_oracle())
def text_winnowing_q(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token 4-gram, slide a
    window of 5 consecutive hashes, keep each window's minimum — the
    selected (hash, position) set is a local fingerprint guaranteeing
    any shared run of >= w+k-1 tokens between two docs shares a
    fingerprint.  The overlap primitive under plagiarism/clone
    detection, complementary to MinHash (which has no locality
    guarantee).

    Determinism: ties inside a window break on POSITION (leftmost min)
    by packing the 36-bit gram hash and the 24-bit position into one
    integer key and taking the integer min — no arg-min/first-row
    ambiguity in either engine; decomposition back uses exact integer
    div/mod (a float divide would lose bits past 2^53).  The 24-bit
    position field bounds documents at 2^24 (~16.7M) grams — beyond
    the 10k-token quality cap by three orders of magnitude; a runtime
    ``assert_true`` guard FAILS LOUDLY on any document at or past the
    bound (a silent wrap would corrupt the leftmost-min tie-break) —
    chunk oversized docs upstream first.

    Scale shape: positional grams via the Arrow span pass; the
    windowed min is a per-doc bounded sliding window (state = w rows)
    after one shuffle on doc_id; fingerprint density is ~2/(w+1) of
    positions, so output volume is a fixed fraction of corpus size.
    """
    from .functions.hashing import portable_hash64

    d = _t(spark, sf, "documents")
    g = (
        DD.span_table(d, n=_WIN_K)
        .select(
            "doc_id",
            F.col("n_spans").alias("m"),
            F.posexplode("grams").alias("pos", "gram"),
        )
        .select(
            "doc_id",
            "pos",
            "m",
            (
                (portable_hash64(F.col("gram"), seed="win") % F.lit(_WIN_HASHMOD))
                * _WIN_POSBITS
                + F.col("pos")
            ).alias("key"),
        )
        # loud guard on the 24-bit position envelope: assert_true
        # returns NULL while the bound holds (the filter keeps every
        # row) and raises mid-job on the first oversized document
        .filter(
            F.assert_true(
                F.col("m") < F.lit(_WIN_POSBITS),
                F.lit(
                    "winnowing: document exceeds 2^24 grams — positions "
                    "would wrap and corrupt the leftmost-min tie-break; "
                    "chunk upstream first"
                ),
            ).isNull()
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WIN_W - 1)
    return (
        g.withColumn("sel", F.min("key").over(w))
        .filter(F.col("pos") <= F.col("m") - _WIN_W)
        .select("doc_id", "sel")
        .distinct()
        .select(
            "doc_id",
            F.expr(f"sel div {_WIN_POSBITS}").cast("bigint").alias("fp_hash"),
            (F.col("sel") % _WIN_POSBITS).cast("bigint").alias("fp_pos"),
        )
        .orderBy("doc_id", "fp_pos", "fp_hash")
    )


#: shared by the Spark twin and the oracle — keep in lockstep
_WINNOW_MIN_SHARED = 2


def _winnow_pairs_oracle(min_shared: int = _WINNOW_MIN_SHARED) -> str:
    return f"""{_winnowing_cte()}, fp AS (
      SELECT DISTINCT doc_id, sel // {_WIN_POSBITS} AS fp_hash FROM f
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY d1, d2 HAVING count(*) >= {min_shared}
    ORDER BY d1, d2
    """


@query("docs_winnow_pairs", _winnow_pairs_oracle())
def docs_winnow_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    """Plagiarism/clone pair detection over winnowing fingerprints:
    docs sharing >= 2 distinct fingerprint hashes — the MOSS match
    step, with the locality guarantee text_winnowing documents (any
    shared run of >= w+k-1 tokens forces a shared fingerprint, so
    long verbatim overlaps CANNOT be missed, unlike MinHash).

    Scale shape: fingerprint density is ~2/(w+1) of positions, so the
    pair join input is a fixed fraction of corpus size; the self-join
    key is the 36-bit fingerprint hash (high cardinality — bucket
    occupancy is the handful of docs sharing that exact window
    minimum), and pair emission is in-bucket only.  Boilerplate-heavy
    hash buckets are the same skew case as every dedup family: AQE
    skew-join; a doc-frequency cap on fp_hash is the next lever if a
    corpus ships identical headers everywhere.
    """
    from .operators.iterutils import iter_checkpoint

    # the fingerprint chain (Arrow tokenize pass + per-doc window
    # sort) feeds BOTH self-join sides — checkpoint it lazily so it
    # runs once, not twice (measured 2.67 → 1.87 s at sf0.1; the
    # .explain audit showed the full chain duplicated per side)
    fps = iter_checkpoint(
        text_winnowing_q(spark, sf).select("doc_id", "fp_hash").distinct(),
        eager=False,
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp_hash") == F.col("b.fp_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
        .orderBy("d1", "d2")
    )


def _lm_ppl_oracle() -> str:
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), uni AS (
      SELECT tok, count(*) AS c1
      FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY tok
    ), v AS (
      SELECT count(*) AS vocab FROM uni
    ), bg AS (
      SELECT doc_id, t[i+1] AS w1, t[i+1] || ' ' || t[i+2] AS bigram
      FROM tk, unnest(range(greatest(len(t)-1, 0))) AS u(i)
    ), c2 AS (
      SELECT bigram, count(*) AS cnt FROM bg GROUP BY bigram
    ), lp AS (
      SELECT c2.bigram,
             CAST(round(ln((c2.cnt + 1) / CAST(uni.c1 + v.vocab AS DOUBLE))
                        * 10000) AS BIGINT) AS logp_e4
      FROM c2 JOIN uni ON uni.tok = string_split(c2.bigram, ' ')[1]
              CROSS JOIN v
    ), scored AS (
      SELECT bg.doc_id, count(*) AS n_bigrams,
             -sum(lp.logp_e4) AS nll_e4
      FROM bg JOIN lp USING (bigram) GROUP BY bg.doc_id
    )
    SELECT tk.doc_id,
           CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(s.nll_e4, 0) AS BIGINT) AS nll_e4
    FROM tk LEFT JOIN scored s USING (doc_id) ORDER BY doc_id
    """


@query("text_lm_perplexity", _lm_ppl_oracle())
def text_lm_perplexity_q(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained bigram-LM scoring per document (the CCNet-style
    LM quality signal): train add-one-smoothed bigram probabilities
    P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V) on the corpus itself, then score
    each doc's total negative log-likelihood.  High NLL per bigram
    flags garbled or out-of-distribution text.

    Hash-stability: each bigram TYPE's log-prob is quantized to an e4
    integer once (``round(ln(p)*1e4)``), so the per-doc score is an
    exact integer sum — no partition-order float summation.

    Scale shape: bigrams via the n=2 Arrow span pass; one groupBy for
    bigram counts, one for unigram (history) counts; the vocab size is
    a control-plane scalar from the unigram aggregate; the score-back
    join on bigram is AQE-chosen (LM tables are Zipfian and unbounded
    — never broadcast-forced), and hot bigrams fall to AQE skew
    splitting.
    """
    d = _t(spark, sf, "documents")
    bg = DD.span_table(d, n=2).select(
        "doc_id", F.explode("grams").alias("bigram")
    )
    from .operators.iterutils import checkpoint_with_probe

    # the unigram table is referenced twice (the vocab scalar and the
    # log-prob join) — without materialization the final action would
    # re-run the whole tokenize+explode+groupBy pass (round 13, guide
    # §1.2).  One fused action returns the vocab count AND persists
    # the table; it is vocab-bounded (distinct tokens), so holding it
    # is safe at any corpus scale — unlike the bigram table below,
    # which stays unmaterialized per the round-10 big-string rule.
    uni, vocab = checkpoint_with_probe(
        d.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c1")),
        lambda u: u.count(),
    )
    c2 = bg.groupBy("bigram").agg(F.count("*").alias("cnt"))
    lp = (
        c2.withColumn("w1", F.split(F.col("bigram"), " ")[0])
        .join(uni, F.col("w1") == F.col("tok"))
        .select(
            "bigram",
            F.round(
                F.log(
                    (F.col("cnt") + 1)
                    / (F.col("c1") + F.lit(vocab)).cast("double")
                )
                * 10000
            )
            .cast("bigint")
            .alias("logp_e4"),
        )
    )
    scored = (
        bg.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (-F.sum("logp_e4")).alias("nll_e4"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce(F.col("nll_e4"), F.lit(0)).cast("bigint").alias("nll_e4"),
        )
        .orderBy("doc_id")
    )


def _ccnet_buckets_oracle() -> str:
    return f"""
    WITH ppl AS (
      {_lm_ppl_oracle()}
    )
    SELECT d.doc_id, d.lang,
           CAST(ntile(3) OVER (
             PARTITION BY d.lang
             ORDER BY CAST(p.nll_e4 AS DOUBLE) / p.n_bigrams, d.doc_id
           ) AS BIGINT) AS bucket_id,
           CASE ntile(3) OVER (
             PARTITION BY d.lang
             ORDER BY CAST(p.nll_e4 AS DOUBLE) / p.n_bigrams, d.doc_id
           ) WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM documents d JOIN ppl p USING (doc_id)
    WHERE p.n_bigrams > 0
    ORDER BY d.doc_id
    """


@query("docs_ccnet_buckets", _ccnet_buckets_oracle())
def docs_ccnet_buckets_q(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020): per language,
    split the corpus into head / middle / tail terciles by LM
    perplexity (here the corpus-trained bigram NLL per bigram from
    text_lm_perplexity — the SAME scored frame, composed), lowest
    perplexity first.  The canonical web-curation stage: train on
    head, sample middle, drop or down-weight tail.  Ordering is the
    single correctly-rounded float64 division nll_e4/n_bigrams (both
    engines bit-equal) with doc_id tie-break, and ntile follows the
    SQL-standard ceil-first-groups split in both engines, so bucket
    boundaries agree exactly.  Documents with no bigrams (< 2 tokens)
    are dropped, as CCNet drops unscorable docs.

    Scale shape: the LM scoring's plan is text_lm_perplexity's
    (audited); bucketing adds ONE per-language window — the same
    shuffle-on-lang the packing stage already uses.  At 100 TB with
    few huge languages, replace exact ntile with approx percentile
    thresholds (approx_quantiles_bounded's sketch) joined back
    map-side — the declared query keeps the exact form the oracle can
    mirror."""
    ppl = SPARK_QUERIES["text_lm_perplexity"](spark, sf)
    d = _t(spark, sf, "documents").select("doc_id", "lang")
    j = d.join(ppl, "doc_id").filter(F.col("n_bigrams") > 0)
    w = Window.partitionBy("lang").orderBy(
        F.col("nll_e4").cast("double") / F.col("n_bigrams"), "doc_id"
    )
    b = F.ntile(3).over(w)
    return (
        j.select(
            "doc_id",
            "lang",
            b.cast("bigint").alias("bucket_id"),
            F.when(b == 1, "head")
            .when(b == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def _scrub_spans_oracle(n: int = 8) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(1, n + 1))
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), g AS (
      SELECT doc_id, i AS pos, {gram} AS gram
      FROM tk, unnest(range(greatest(len(t)-{n - 1}, 0))) AS u(i)
    ), dup AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      GROUP BY gram HAVING count(*) >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, pos + d AS cpos
      FROM (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
           unnest(range({n})) AS v(d)
    ), tp AS (
      SELECT doc_id, i AS tpos, t[i+1] AS tok
      FROM tk, unnest(range(len(t))) AS u(i)
    ), kept AS (
      SELECT tp.doc_id,
             array_to_string(list(tp.tok ORDER BY tp.tpos), ' ') AS clean_text,
             count(*) AS n_kept
      FROM tp ANTI JOIN cov ON tp.doc_id = cov.doc_id AND tp.tpos = cov.cpos
      GROUP BY tp.doc_id
    )
    SELECT tk.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           CAST(len(t) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
    FROM tk LEFT JOIN kept k USING (doc_id) ORDER BY doc_id
    """


@query("docs_scrub_dup_spans", _scrub_spans_oracle())
def docs_scrub_dup_spans_q(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level dedup MATERIALIZATION (the fix step after
    docs_dup_spans' detection): drop every token covered by an 8-gram
    that also occurs in another document, and rebuild the cleaned
    token stream — Lee et al.'s ExactSubstr removal, word-granular.

    Output is the cleaned text (tokens joined by single spaces —
    whitespace-normalized by construction), plus the removed-token
    count.

    Scale shape: the span/dup machinery is shared with docs_dup_spans
    (Arrow span pass, 64-bit gram hashes, AQE-chosen vocabulary
    join).  Because this path is DESTRUCTIVE (a false positive deletes
    clean tokens), hash matches are confirmed on the exact gram
    string before scrubbing: the heavy aggregation still shuffles only
    narrow (doc, hash) pairs, but the resulting duplicate-hash set —
    small by construction — is re-grouped on the gram strings of its
    candidate rows, so a 64-bit birthday collision (expected at the
    100 TB gram count) can no longer scrub a non-duplicated span.
    Covered positions explode at most n per duplicated span and
    dedupe on (doc, pos); the rebuild groups each doc's own surviving
    tokens — per-group state bounded by doc length, with the order
    restored by an in-group array_sort, not a global sort.
    """
    from .operators.iterutils import iter_checkpoint

    d = _t(spark, sf, "documents")
    # the exploded gram table feeds TWO consumers (the hash-level dup
    # vote and the candidate rows) — checkpoint it lazily so the Arrow
    # span pass runs once (measured 3.7 → 2.9 s at sf0.1).  At 100 TB
    # this trades scratch-disk materialization of the gram table for
    # the second tokenize+slide pass; both are one corpus-scale IO,
    # the checkpoint saves the double CPU.
    g = iter_checkpoint(
        DD.span_table(d, n=8)
        .select("doc_id", F.posexplode("grams").alias("pos", "gram"))
        .select("doc_id", "pos", "gram", F.xxhash64("gram").alias("h")),
        eager=False,
    )
    dup_h = (
        g.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    # candidate rows (small: true dups + rare collisions) keep their
    # gram strings; exact confirmation re-counts docs per STRING
    cand = g.join(dup_h, "h", "left_semi")
    dup_exact = (
        cand.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("gram")
    )
    cov = (
        cand.join(dup_exact, "gram", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("cpos"),
        )
        .distinct()
    )
    tp = d.select(
        "doc_id", F.posexplode(TX.tokens(F.col("text"))).alias("tpos", "tok")
    )
    kept = (
        tp.join(
            cov,
            (tp["doc_id"] == cov["doc_id"]) & (tp["tpos"] == cov["cpos"]),
            "left_anti",
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("tpos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
    )
    return (
        d.select(
            "doc_id", F.size(TX.tokens(F.col("text"))).alias("n_toks")
        )
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            (F.col("n_toks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
        .orderBy("doc_id")
    )


#: DSIR hashed-feature space size — FIXED constant, so the bucket
#: histogram is a bounded dimension (≤ _DSIR_B rows) no matter how
#: large the corpus grows.
_DSIR_B = 1024
_DSIR_TARGET_SRC = "src0"


def _dsir_oracle() -> str:
    h = portable_hash64_sql("tok", "dsir")
    return f"""
    WITH tk AS (
      SELECT doc_id, source, unnest({_TOKS_SQL}) AS tok FROM documents
    ), bt AS (
      SELECT doc_id, source, {h} % {_DSIR_B} AS b FROM tk
    ), hist_r AS (
      SELECT b, count(*) AS c_r FROM bt
      WHERE source <> '{_DSIR_TARGET_SRC}' GROUP BY b
    ), hist_t AS (
      SELECT b, count(*) AS c_t FROM bt
      WHERE source = '{_DSIR_TARGET_SRC}' GROUP BY b
    ), tot AS (
      SELECT (SELECT count(*) FROM bt WHERE source <> '{_DSIR_TARGET_SRC}') AS t_r,
             (SELECT count(*) FROM bt WHERE source = '{_DSIR_TARGET_SRC}') AS t_t
    ), lr AS (
      SELECT hist_r.b,
             CAST(round((ln((coalesce(hist_t.c_t, 0) + 1)
                           / CAST(tot.t_t + {_DSIR_B} AS DOUBLE))
                       - ln((hist_r.c_r + 1)
                           / CAST(tot.t_r + {_DSIR_B} AS DOUBLE)))
                       * 10000) AS BIGINT) AS lr_e4
      FROM hist_r LEFT JOIN hist_t ON hist_r.b = hist_t.b CROSS JOIN tot
    ), score AS (
      SELECT bt.doc_id, count(*) AS n_tokens, sum(lr.lr_e4) AS weight_e4
      FROM bt JOIN lr ON bt.b = lr.b
      WHERE bt.source <> '{_DSIR_TARGET_SRC}'
      GROUP BY bt.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(s.weight_e4, 0) AS BIGINT) AS weight_e4
    FROM documents d LEFT JOIN score s ON d.doc_id = s.doc_id
    WHERE d.source <> '{_DSIR_TARGET_SRC}'
    ORDER BY d.doc_id
    """


@query("docs_dsir_weights", _dsir_oracle())
def docs_dsir_weights_q(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio of a hashed bag-of-unigrams
    model fit on a target slice (source = src0, the stand-in for the
    curated target corpus) vs the raw rest — the standard
    pretraining-mixture reweighting signal; downstream, sampling
    ∝ exp(weight) is docs_temperature_sample's job.

    Determinism: per-BUCKET log ratios are e4-quantized to integers
    (the text_lm_perplexity posture), so the per-doc sum is exact
    integer arithmetic in both engines; the feature hash is the
    md5-portable hash shared with every sketching operator.

    Scale shape: TWO corpus tokenization passes total — one builds
    BOTH histograms as a single conditional aggregation on the FIXED
    _DSIR_B=1024-bucket domain (map-side partials collapse the
    explosion), one scores (map-side join against the broadcast
    ratio table + a doc_id-keyed aggregation); a long-lived pipeline
    would persist the exploded frame and pay one.  The log-ratio
    table is a bounded dim — broadcast-forced legitimately (≤ 1024
    rows regardless of corpus size, see the plan-guard allowlist).
    Nothing anywhere is proportional to corpus² and the only
    unbounded shuffles are the doc_id aggregation and the contract
    sort.
    """
    from .functions.hashing import portable_hash64
    from .operators.iterutils import fan_out, iter_checkpoint

    # fan the narrow scan out before tokenize+hash (round 13, guide
    # §2.5): both corpus passes (histogram build and scoring) re-run
    # the tokenize + md5-per-token feature hash fused into the
    # single-task scan stage — profiled 2.2 s of executor time all in
    # 1-task stages; no-op on pre-split inputs at scale
    d = fan_out(_t(spark, sf, "documents"))
    bt = d.select(
        "doc_id",
        "source",
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "source",
        (portable_hash64(F.col("tok"), "dsir") % _DSIR_B).alias("b"),
    )
    is_tgt = F.col("source") == _DSIR_TARGET_SRC
    raw = bt.filter(~is_tgt)
    # both histograms from ONE pass: conditional counts per bucket.
    # EAGERLY checkpointed (round 14, guide §1.2): the ≤1024-row
    # histogram feeds the ratio table AND the totals scalar AND the
    # totals' cross-join — unmaterialized, each reference re-ran the
    # whole tokenize+hash pass (profiled: FOUR ~6 executor-second
    # 32-task expansions racing for the same cores, wall 1.7 s).  One
    # bounded checkpoint makes the corpus cost the documented two
    # passes (histogram + scoring).
    hist = iter_checkpoint(
        bt.groupBy("b").agg(
            F.sum(F.when(~is_tgt, 1).otherwise(0)).alias("c_r"),
            F.sum(F.when(is_tgt, 1).otherwise(0)).alias("c_t"),
        )
    )
    # coalesce the totals: an empty side must give 0 (the oracle's
    # count(*)), not sum-over-empty NULL, or every log ratio nulls out
    tots = hist.agg(
        F.coalesce(F.sum("c_r"), F.lit(0)).alias("t_r"),
        F.coalesce(F.sum("c_t"), F.lit(0)).alias("t_t"),
    )
    lr = _attach_scalar(
        hist.filter(F.col("c_r") > 0), tots, "b"
    ).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("c_t") + 1)
                    / (F.col("t_t") + _DSIR_B).cast("double")
                )
                - F.log(
                    (F.col("c_r") + 1) / (F.col("t_r") + _DSIR_B).cast("double")
                )
            )
            * 10000
        )
        .cast("bigint")
        .alias("lr_e4"),
    )
    score = (
        raw.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lr_e4").alias("weight_e4"),
        )
    )
    return (
        d.filter(F.col("source") != _DSIR_TARGET_SRC)
        .select("doc_id")
        .join(score, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(F.col("weight_e4"), F.lit(0))
            .cast("bigint")
            .alias("weight_e4"),
        )
        .orderBy("doc_id")
    )


def _corpus_drift_oracle() -> str:
    h = portable_hash64_sql("tok", "dsir")
    return f"""
    WITH tk AS (
      SELECT source, doc_id % 2 = 0 AS in_a, unnest({_TOKS_SQL}) AS tok
      FROM documents
    ), bt AS (
      SELECT source, in_a, {h} % {_DSIR_B} AS b FROM tk
    ), hist AS (
      SELECT source, b,
             sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS c_a,
             sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS c_b
      FROM bt GROUP BY source, b
    ), tot AS (
      SELECT source, sum(c_a) AS t_a, sum(c_b) AS t_b FROM hist GROUP BY source
    ), pq AS (
      SELECT hist.source, c_a, c_b,
             (c_a + 1) / CAST(t_a + {_DSIR_B} AS DOUBLE) AS p,
             (c_b + 1) / CAST(t_b + {_DSIR_B} AS DOUBLE) AS q
      FROM hist JOIN tot USING (source)
    ), mm AS (
      SELECT source, c_a, c_b, p, q, (p + q) / 2.0 AS m FROM pq
    )
    SELECT source,
           CAST(sum(c_a) AS BIGINT) AS n_tok_a,
           CAST(sum(c_b) AS BIGINT) AS n_tok_b,
           CAST(sum(CAST(round((0.5 * (p * ln(p / m) + q * ln(q / m)))
                               * 1000000000.0) AS BIGINT)) AS BIGINT) AS js_e9
    FROM mm GROUP BY source ORDER BY source
    """


@query("docs_corpus_drift", _corpus_drift_oracle())
def docs_corpus_drift_q(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus drift monitoring between ingest snapshots (VERDICT r7
    #7): per-source Jensen-Shannon divergence between the hashed-
    unigram distributions of two corpus snapshots (doc_id parity
    stands in for yesterday's vs today's partition), over the FIXED
    ``_DSIR_B``=1024-bucket feature space the DSIR machinery already
    uses — the standing signal a pipeline alerts on when a feed's
    content shifts between ingests.

    Determinism (the ``docs_dsir_weights`` posture): both snapshot
    histograms come from ONE conditional aggregation; per-bucket JS
    contributions — ``0.5·(p·ln(p/m) + q·ln(q/m))`` with +1-smoothed
    p, q over observed buckets and m = (p+q)/2 — are e9-quantized to
    integers with the identical IEEE op order in both engines, so the
    per-source sum is exact integer arithmetic (per-bucket JS terms
    are provably ≥ 0 by the log-sum inequality, so there is no
    negative-rounding edge).

    Scale shape: one tokenize map pass, then every aggregation is on
    the bounded (source × 1024) domain — map-side partials collapse
    the token explosion; the totals join is sources-sized.  Nothing
    is proportional to corpus size after the first shuffle."""
    from .functions.hashing import portable_hash64

    d = _t(spark, sf, "documents")
    bt = d.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("in_a"),
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    ).select(
        "source",
        "in_a",
        (portable_hash64(F.col("tok"), "dsir") % _DSIR_B).alias("b"),
    )
    # bounded (source × 1024) histogram, EAGERLY checkpointed (round
    # 14): it feeds both the totals agg and the p/q join — without
    # materialization each reference re-ran the tokenize pass, so the
    # "one tokenize map pass" this docstring promises was actually two
    from .operators.iterutils import iter_checkpoint

    hist = iter_checkpoint(
        bt.groupBy("source", "b").agg(
            F.sum(F.when(F.col("in_a"), 1).otherwise(0)).alias("c_a"),
            F.sum(F.when(F.col("in_a"), 0).otherwise(1)).alias("c_b"),
        )
    )
    tot = hist.groupBy("source").agg(
        F.sum("c_a").alias("t_a"), F.sum("c_b").alias("t_b")
    )
    pq = hist.join(tot, "source").select(
        "source",
        "c_a",
        "c_b",
        ((F.col("c_a") + 1) / (F.col("t_a") + F.lit(_DSIR_B)).cast("double")).alias("p"),
        ((F.col("c_b") + 1) / (F.col("t_b") + F.lit(_DSIR_B)).cast("double")).alias("q"),
    )
    mm = pq.withColumn("m", (F.col("p") + F.col("q")) / F.lit(2.0))
    term = (
        F.round(
            (
                F.lit(0.5)
                * (
                    F.col("p") * F.log(F.col("p") / F.col("m"))
                    + F.col("q") * F.log(F.col("q") / F.col("m"))
                )
            )
            * F.lit(1000000000.0)
        )
        .cast("bigint")
        .alias("te9")
    )
    return (
        mm.select("source", "c_a", "c_b", term)
        .groupBy("source")
        .agg(
            F.sum("c_a").cast("bigint").alias("n_tok_a"),
            F.sum("c_b").cast("bigint").alias("n_tok_b"),
            F.sum("te9").cast("bigint").alias("js_e9"),
        )
        .orderBy("source")
    )


def _keywords_oracle(topk: int = 3) -> str:
    return f"""
    WITH tk AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok
    ), idf AS (
      SELECT tok,
             CAST(round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE)
                           / count(*)) * 10000) AS BIGINT) AS idf_e4
      FROM (SELECT DISTINCT doc_id, tok FROM tk) GROUP BY tok
    ), w AS (
      SELECT doc_id, tok, tf * idf_e4 AS weight,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf * idf_e4 DESC, tok) AS rk
      FROM tf JOIN idf USING (tok)
    )
    SELECT doc_id, tok AS keyword, CAST(weight AS BIGINT) AS weight,
           CAST(rk AS BIGINT) AS rank
    FROM w WHERE rk <= {topk} ORDER BY doc_id, rank
    """


@query("text_keywords", _keywords_oracle())
def text_keywords_q(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (top-3 terms): the
    doc-level term-salience twin of text_bm25_topk's corpus-level
    retrieval — the primitive behind topic tagging and per-doc
    metadata enrichment in curation pipelines.

    Hash-stability: idf is quantized to an e4 integer per TOKEN
    (``round(ln(N/df)*1e4)``) before the tf multiply, so every weight
    is exact integer arithmetic and the per-doc ranking has no float
    comparisons at all; ties break on the token string.

    Scale shape: one explode + one (doc,tok) count, a distinct
    projection for df, and an AQE-chosen tok join (the vocabulary is
    Zipfian and unbounded — same no-force-broadcast posture as
    text_rare_tokens); the per-doc top-3 is a partitioned window over
    the doc's own distinct tokens, bounded by doc length.
    """
    d = _t(spark, sf, "documents")
    tk = d.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
    tf = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # corpus cardinality: a metadata-only parquet count (row-group
    # stats, no data read) — control-plane scalar, not a hot-path
    # collect
    n_docs = d.count()
    idf = (
        tk.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(
            F.round(
                F.log(F.lit(float(n_docs)) / F.count("*")) * 10000
            )
            .cast("bigint")
            .alias("idf_e4")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), "tok"
    )
    return (
        tf.join(idf, "tok")
        .withColumn("weight", (F.col("tf") * F.col("idf_e4")).cast("bigint"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("tok").alias("keyword"), "weight", "rank")
        .orderBy("doc_id", "rank")
    )


def _dup_spans_oracle(n: int = 8) -> str:
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(1, n + 1))
    return f"""
    WITH tk AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(len(t)-{n - 1}, 0)),
               i -> {gram})) AS gram
      FROM tk
    ), dup AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM g)
      GROUP BY gram HAVING count(*) >= 2
    ), c AS (
      SELECT doc_id, count(*) AS n_dup FROM g JOIN dup USING (gram)
      GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(greatest(len(t)-{n - 1}, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_spans
    FROM tk LEFT JOIN c USING (doc_id) ORDER BY doc_id
    """


@query("docs_dup_spans", _dup_spans_oracle())
def docs_dup_spans_q(spark: SparkSession, sf: str) -> DataFrame:
    """Substring-level duplication profile (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    how many of its 8-gram spans also occur in some OTHER document —
    the signal behind span-level dedup, as opposed to the whole-doc
    near-dup families.

    Scale shape: positional 8-grams via an Arrow-batched map pass
    (duplicates KEPT — each occurrence is a span), hashed to 64 bits
    before any shuffle; the duplicated-gram vocabulary comes from a
    distinct (doc, hash) projection so a gram repeated within one doc
    doesn't count as cross-doc; the count-back join is a semi-join
    against that vocabulary and is NOT broadcast-forced
    (duplicated-span tails are unbounded on boilerplate-heavy corpora
    — same rationale as text_rare_tokens; AQE picks the strategy and
    handles hot grams with skew-join splitting).
    """
    d = _t(spark, sf, "documents")
    # Arrow span pass (not the zip_with HOF chain: interpreted lambdas
    # with the tokenization subtree duplicated per shift measured 12 s
    # at sf0.1 — see operators/dedup.py::span_table), then join on a
    # 64-bit gram hash so the shuffles move 8 bytes per span, not the
    # 8-token string (same posture as ngram_jaccard_pairs).  xxhash64
    # collisions across ~10^6 grams are ~1e-7 noise, but at the
    # 100 TB design point (~10^12 grams) birthday collisions become
    # EXPECTED — tolerable here because this query only PROFILES
    # duplication (a collision inflates one doc's count by one); the
    # DESTRUCTIVE twin docs_scrub_dup_spans confirms every hash match
    # on the exact gram string before removing anything
    from .operators.iterutils import iter_checkpoint

    # g feeds the duplicated-gram vote AND the count-back join —
    # checkpoint the NARROW (doc_id, h) table (16 bytes/row, gram
    # strings already dropped) so the Arrow span pass runs once
    # (measured 2.3 → 1.4 s at sf0.1)
    g = iter_checkpoint(
        DD.span_table(d, n=8)
        .select("doc_id", F.explode("grams").alias("gram"))
        .select("doc_id", F.xxhash64("gram").alias("h")),
        eager=False,
    )
    dup = (
        g.distinct()
        .groupBy("h")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    ndup = (
        g.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        d.select(
            "doc_id",
            F.greatest(F.size(TX.tokens(F.col("text"))) - 7, F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
        )
        .join(ndup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Event analytics — funnel and cohort-retention query classes
# ---------------------------------------------------------------------------


@query(
    "q55_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id
    )
    SELECT u.user_id,
           v.user_id IS NOT NULL AS did_view,
           c.user_id IS NOT NULL AS did_click_after,
           p.user_id IS NOT NULL AS did_purchase_after
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    ORDER BY user_id
    """,
)
def q55_funnel_q(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential funnel analysis (view → click → purchase, each stage
    strictly AFTER the previous): the classic event-analytics query
    class.  Exact-arithmetic by construction — stage boundaries are
    min() over microsecond-exact timestamps and the outputs are
    booleans, so there is no float anywhere.

    Scale shape: one filtered groupBy per stage (each smaller than the
    last — funnels shrink), joined back on user_id; all shuffles share
    the user_id key so AQE coalesces them, and no window over the raw
    event stream is needed.
    """
    e = _t(spark, sf, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return (
        e.select("user_id")
        .distinct()
        .join(v.select("user_id", F.lit(True).alias("did_view")), "user_id", "left")
        .join(
            c.select("user_id", F.lit(True).alias("did_click_after")),
            "user_id",
            "left",
        )
        .join(
            p.select("user_id", F.lit(True).alias("did_purchase_after")),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.coalesce("did_view", F.lit(False)).alias("did_view"),
            F.coalesce("did_click_after", F.lit(False)).alias("did_click_after"),
            F.coalesce("did_purchase_after", F.lit(False)).alias(
                "did_purchase_after"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "q56_cohort_retention",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    )
    SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
           CAST(act.d - f.d0 AS BIGINT) AS day_offset,
           CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_users
    FROM act JOIN f USING (user_id)
    GROUP BY f.d0, day_offset ORDER BY cohort_day, day_offset
    """,
)
def q56_cohort_q(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted by
    how many days later they were active again — the standard
    retention-triangle query.  Dates and counts only: exact.

    Scale shape: first-activity day is one groupBy; the activity set
    is a distinct projection; both shuffle on user_id (shared key),
    and the final rollup groups on the tiny (cohort, offset) key
    space.
    """
    e = _t(spark, sf, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    act = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        act.join(f, "user_id")
        .groupBy(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "d0").cast("bigint").alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "q57_scd2_merge",
    """
    WITH cur AS (
      SELECT c_custkey AS key, c_mktsegment AS segment,
             '2020-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             true AS is_current
      FROM customer
    ), inc AS (
      SELECT c_custkey AS key, c_mktsegment || '-R2' AS segment,
             '2024-06-01' AS eff
      FROM customer WHERE c_custkey % 3 = 0
    )
    SELECT key, segment, valid_from,
           coalesce(valid_to, '') AS valid_to_s, is_current
    FROM (
      SELECT cur.* FROM cur ANTI JOIN inc USING (key)
      UNION ALL
      SELECT cur.key, cur.segment, cur.valid_from, inc.eff AS valid_to,
             false AS is_current
      FROM cur JOIN inc USING (key)
      UNION ALL
      SELECT key, segment, eff AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
             true AS is_current
      FROM inc
    ) t ORDER BY key, valid_from, is_current
    """,
)
def q57_scd2_merge_q(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension MERGE (close-old / open-new with history) via
    ``operators/scd.py::scd2_merge`` — Delta/Iceberg MERGE INTO
    semantics composed from anti-join + union on plain parquet.  The
    scenario: the customer dimension at version 1, with every third
    key re-segmented in an incoming batch effective 2024-06-01.

    Scale shape: the incoming batch is dimension-sized by definition
    of SCD, so every join in the merge broadcasts it; the current
    table never full-shuffles.
    """
    c = _t(spark, sf, "customer")
    current = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("2020-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    incoming = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("key"),
        F.concat(F.col("c_mktsegment"), F.lit("-R2")).alias("segment"),
        F.lit("2024-06-01").alias("eff"),
    )
    from .operators.scd import scd2_merge

    return (
        scd2_merge(current, incoming, key="key", effective_col="eff")
        .select(
            "key",
            "segment",
            "valid_from",
            F.coalesce(F.col("valid_to"), F.lit("")).alias("valid_to_s"),
            "is_current",
        )
        .orderBy("key", "valid_from", "is_current")
    )


#: exact-integer revenue: cents × remaining-percent = 1e-4-dollar units
_REV_E4_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
    " * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))"
)


def _rev_e4_col():
    """Spark twin of _REV_E4_SQL — keep the two in lockstep."""
    return (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    ) * (100 - (F.col("l_discount").cast("decimal(18,2)") * 100).cast("bigint"))


def _attach_scalar(big: DataFrame, one_row: DataFrame, key_src: str) -> DataFrame:
    """Attach a single-row aggregate frame to every row of ``big`` —
    the Spark shape for an UNCORRELATED SCALAR SUBQUERY in a
    predicate.

    A bare cross join (or a lit=lit key, which Catalyst folds to
    true) plans as BroadcastNestedLoopJoin, which the plan guard
    bans; a key derived from a data column survives optimization and
    plans as a BroadcastHashJoin on a single-valued key — same cost
    (one broadcast of one row), codegen-friendly plan.  ``key_src``
    names a numeric column on EACH side to derive the constant key
    from (same trick as text_bm25_topk's stats attach).
    """
    k = lambda c: F.coalesce((F.col(c) % 1).cast("int"), F.lit(0))  # noqa: E731
    return (
        big.withColumn("_j", k(key_src))
        .join(
            F.broadcast(one_row.withColumn("_j", k(one_row.columns[0]))),
            "_j",
        )
        .drop("_j")
    )


@query(
    "q58_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
    ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10
    """,
)
def q58_shipping_priority_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): 3-table join with selective
    filters on both fact sides, grouped revenue, top-10 — the classic
    join-ordering / broadcast-selection stress.  Revenue is exact
    integer 1e-4-dollar units (cents × remaining-percent), so the sum
    commutes across partitions with no float drift.

    Scale shape: customer grows with the corpus (SF×150k even after
    the segment filter keeps ~1/5 of it), so it is NOT broadcast-
    forced — AQE broadcasts it when the measured size is small and
    shuffles at 100 TB; the orders⋈lineitem join shuffles on orderkey
    with both date filters pushed to the parquet scans; the top-10 is
    TakeOrdered, not a global sort.
    """
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    rev = _rev_e4_col()
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue_e4").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q59_local_supplier_volume",
    f"""
    SELECT n.n_name,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name ORDER BY revenue_e4 DESC, n_name
    """,
)
def q59_local_supplier_volume_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): six-table join with a
    region filter that prunes through nation → supplier, plus the
    customer-nation = supplier-nation locality predicate — the classic
    multi-join planning stress.  Exact-integer revenue as in q58.

    Scale shape: region and nation are bounded dims (5/25 rows) and
    broadcast; customer (SF×150k) and supplier (SF×10k) grow with the
    corpus, so neither is broadcast-forced — AQE picks broadcast vs
    shuffle from runtime-measured sizes (at bench scale it still
    broadcasts both; at 100 TB it shuffles instead of OOMing).  The
    only guaranteed big shuffle is orders⋈lineitem on orderkey with
    the date filter pushed down.
    """
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    rev = _rev_e4_col()
    sn = s.join(
        F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
        s["s_nationkey"] == n["n_nationkey"],
    )
    # restrict customer to ASIA nations EARLY: the locality predicate
    # (c_nationkey = s_nationkey ∈ ASIA) discards the other regions'
    # customers anyway, so the downstream join moves ~1/5 of the
    # dimension instead of all of it (broadcast or shuffled, AQE's call)
    c = c.join(
        F.broadcast(
            n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]).select(
                F.col("n_nationkey").alias("ck_nation")
            )
        ),
        c["c_nationkey"] == F.col("ck_nation"),
        "left_semi",
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            sn,
            (li["l_suppkey"] == sn["s_suppkey"])
            & (c["c_nationkey"] == sn["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .orderBy(F.col("revenue_e4").desc(), "n_name")
    )


@query(
    "q61_returned_items",
    f"""
    SELECT c.c_custkey,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, n.n_name
    ORDER BY revenue_e4 DESC, c_custkey LIMIT 20
    """,
)
def q61_returned_items_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): which customers
    returned the most revenue in a half-year window — 4-table join
    with a selective fact filter (returnflag) and a date-bounded
    orders scan, top-20.  Exact-integer revenue as in q58/q59.

    Scale shape: nation broadcasts; customer is NOT broadcast-forced —
    it grows with the corpus, so AQE picks the strategy from actual
    size (same posture as every unbounded join side here); the one
    big shuffle is orders⋈lineitem on orderkey with the returnflag
    filter pushed to the lineitem scan; TakeOrdered top-20.
    """
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = _rev_e4_col()
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "n_name")
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .select("c_custkey", "revenue_e4", "n_name")
        .orderBy(F.col("revenue_e4").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q62_nation_trade_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q62_nation_trade_volume_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    specific nations by year, in both directions — the two-sided
    dimension-predicate join (the filter is on a DISJUNCTION across
    two different dimension paths, so neither can be pushed as a
    simple single-table predicate).

    Scale shape: both nation dims broadcast onto supplier/customer;
    the restricted supplier/customer sides still grow with the corpus
    (~2/25 of each dimension), so they are NOT broadcast-forced — AQE
    picks the strategy from actual size.  The one big shuffle is
    orders⋈lineitem on orderkey; the disjunction applies after both
    nation names are attached — exactly how Catalyst leaves it, since
    each disjunct constrains a different join branch.
    """
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    two = n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    sn = s.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))),
        s["s_nationkey"] == F.col("snk"),
    )
    cn = c.join(
        F.broadcast(two.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))),
        c["c_nationkey"] == F.col("cnk"),
    )
    rev = _rev_e4_col()
    # sn/cn are nation-RESTRICTED but still grow with the corpus
    # (~2/25 of each dimension) — not broadcast-forced; AQE decides
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(sn, li["l_suppkey"] == sn["s_suppkey"])
        .join(cn, o["o_custkey"] == cn["c_custkey"])
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(rev).cast("bigint").alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q63_promo_share",
    f"""
    SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS ship_month,
           CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_E4_SQL}
                         ELSE 0 END) AS BIGINT) AS promo_rev_e4,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4,
           CAST(CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN {_REV_E4_SQL}
                         ELSE 0 END) AS HUGEINT) * 10000
                // sum({_REV_E4_SQL}) AS BIGINT) AS promo_pct_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ship_month ORDER BY ship_month
    """,
)
def q63_promo_share_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): monthly share of revenue
    from PROMO-type parts — the ratio-of-aggregates class.  The
    percentage is computed as INTEGER division on the exact e4-integer
    revenues (``promo*10000 div total``), so the ratio is exact in
    both engines — no float division anywhere.  The ``*10000``
    product is widened to decimal(38,0)/HUGEINT before dividing: the
    monthly e4-revenue sums reach 1e13-1e16 at large scale factors,
    so the bigint product would silently wrap past 2^63.

    Scale shape: part grows with the corpus (SF×200k) so it is NOT
    broadcast-forced — AQE broadcasts when the measured size allows
    and shuffles on partkey otherwise; one shuffle groups by month
    (bounded key space); the ship-date range pushes to the lineitem
    scan.
    """
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    rev = _rev_e4_col()
    promo_rev = F.sum(
        F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    ).cast("bigint")
    total_rev = F.sum(rev).cast("bigint")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.date_format(
                F.date_trunc("month", F.col("l_shipdate")), "yyyy-MM"
            ).alias("ship_month")
        )
        .agg(
            promo_rev.alias("promo_rev_e4"),
            total_rev.alias("total_rev_e4"),
        )
        .select(
            "ship_month",
            "promo_rev_e4",
            "total_rev_e4",
            F.expr(
                "CAST(promo_rev_e4 AS DECIMAL(38,0)) * 10000"
                " div total_rev_e4"
            )
            .cast("bigint")
            .alias("promo_pct_e4"),
        )
        .orderBy("ship_month")
    )


@query(
    "q64_large_volume",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS qty_cents
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) > 15000
    )
    SELECT c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS total_cents,
           b.qty_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN big b ON o.o_orderkey = b.l_orderkey
    ORDER BY total_cents DESC, o_orderkey LIMIT 20
    """,
)
def q64_large_volume_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose summed
    line quantity exceeds a threshold — the aggregate-as-filter class,
    where a HAVING subquery's result joins back to the fact it was
    derived from.  Quantity as exact cents.

    Scale shape: the aggregate runs FIRST (one shuffle on orderkey,
    map-side partials), and its post-HAVING survivor set is small by
    construction — AQE sizes the join against orders from the actual
    survivor count; customer broadcasts; top-20 is TakeOrdered.
    """
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    qty = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).cast("bigint").alias("qty_cents"))
        .filter(F.col("qty_cents") > 15000)
    )
    # customer is NOT broadcast-forced (unbounded side — AQE decides)
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("total_cents"),
            "qty_cents",
        )
        .orderBy(F.col("total_cents").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q65_custdist",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) t GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q65_custdist_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): DOUBLE aggregation —
    orders per customer (zero-order customers kept by the left join,
    where ``count(o_orderkey)`` counts only matched rows), then the
    distribution of those counts.  The histogram-of-groups pattern.

    Scale shape: one custkey-keyed shuffle for the outer join + first
    aggregate; the second aggregate groups on the tiny count domain
    (map-side partials collapse it).  Customer is the probe side, not
    broadcast-forced (unbounded) — AQE decides.
    """
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q66_avg_quantity_outliers",
    """
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_small_lines,
           CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS small_rev_cents
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type = 'PROMO'
      AND CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * 5 *
          (SELECT count(*) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey)
        < (SELECT sum(CAST(CAST(l2.l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT))
             FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    GROUP BY p.p_brand ORDER BY p_brand
    """,
)
def q66_avg_quantity_outliers_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lines whose
    quantity is below 20% of the per-part average — the CORRELATED
    SCALAR-AGGREGATE SUBQUERY class (the oracle keeps the correlated
    form so DuckDB exercises its decorrelation rewrite).  The
    comparison is exact-integer cross-multiplication:
    ``qty < 0.2 * avg = 0.2 * sum/n  ⇔  5 * qty_cents * n < sum_cents``
    (n > 0 by construction), so no float division and both engines
    agree at ulp boundaries.

    Scale shape (the Catalyst decorrelation, written explicitly):
    the per-part (sum, count) aggregate runs FIRST — one partkey
    shuffle with map-side partials collapsing lineitem to ~|part|
    rows — then joins back to lineitem on the SAME partkey (AQE
    reuses/aligns the partitioning), then part (AQE decides broadcast;
    part is unbounded, not forced), then the brand groupBy over a
    bounded key domain.  No per-row subquery execution anywhere.
    """
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    qty_cents = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum(qty_cents).cast("bigint").alias("sum_qty_cents"),
        F.count("*").alias("n_lines_part"),
    )
    ext_cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    return (
        li.join(per_part, li["l_partkey"] == F.col("pp_partkey"))
        .filter(
            qty_cents * 5 * F.col("n_lines_part") < F.col("sum_qty_cents")
        )
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_small_lines"),
            F.sum(ext_cents).cast("bigint").alias("small_rev_cents"),
        )
        .orderBy("p_brand")
    )


@query(
    "q67_waiting_suppliers",
    """
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
    GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q67_waiting_suppliers_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    MULTI-CORRELATED-SUBQUERY class — EXISTS and NOT EXISTS against
    the same fact, correlated on the same key with a non-equi
    component.  "Late" here is ``l_returnflag = 'R'`` (this schema
    carries no commit/receipt dates): suppliers whose returned line
    sits on a finished multi-supplier order where NO other supplier's
    line was returned.

    Scale shape: both subqueries become orderkey-equi semi/anti joins
    (the ``suppkey <>`` term rides along as a join-condition filter,
    so the plan stays a shuffled hash/sort-merge join on orderkey —
    never a nested loop); the three lineitem branches co-partition on
    orderkey so AQE aligns the exchanges.  Orders' status filter
    pushes to its scan; supplier (unbounded) joins under AQE's choice;
    the top-20 is TakeOrdered.
    """
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).alias("c")
    cand = cand.join(
        l3,
        (F.col("c.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("c.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        cand.join(o, cand["l_orderkey"] == o["o_orderkey"])
        .join(s, cand["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


_BAL_CENTS_SQL = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"


@query(
    "q68_sales_opportunity",
    f"""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum({_BAL_CENTS_SQL}) AS BIGINT) AS totacctbal_cents
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE {_BAL_CENTS_SQL} *
          (SELECT count(*) FROM customer c2
            WHERE CAST(CAST(c2.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 0)
        > (SELECT sum(CAST(CAST(c2.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
             FROM customer c2
            WHERE CAST(CAST(c2.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n.n_name ORDER BY n_name
    """,
)
def q68_sales_opportunity_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive account balance and NO RECENT orders (none
    since 2000 — the spec's "no orders for 7 years"), grouped by
    nation — the UNCORRELATED SCALAR SUBQUERY IN A PREDICATE class
    combined with NOT EXISTS.  The avg comparison is exact-integer
    cross-multiplication (``bal_cents × n_pos > sum_pos_cents``), so
    both engines agree at ulp boundaries.

    Scale shape: the global (sum, count) collapses customer to ONE
    row (map-side partials), attached back via the constant-key
    BroadcastHashJoin of :func:`_attach_scalar` (a bare cross join
    would plan as the banned BroadcastNestedLoopJoin); the NOT EXISTS
    is a custkey-equi left-anti join against orders (shuffled, AQE
    may broadcast the filtered probe side at runtime); nation is a
    bounded dim, broadcast-forced.
    """
    bal = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    c = _t(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", bal.alias("bal_cents")
    )
    n = _t(spark, sf, "nation")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    st = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_pos"), F.count("*").alias("n_pos")
    )
    return (
        _attach_scalar(c, st, "c_custkey")
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos"))
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum("bal_cents").cast("bigint").alias("totacctbal_cents"),
        )
        .orderBy("n_name")
    )


@query(
    "q69_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev_e4
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev_e4 = (SELECT max(total_rev_e4) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q69_top_supplier_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): suppliers whose quarterly
    revenue equals the maximum over all suppliers — the
    AGGREGATE-OVER-AGGREGATE scalar subquery class (max of a grouped
    view used as an equality filter on that same view).  Ties all
    surface, as in the spec.

    Scale shape: per-supplier revenue is one suppkey shuffle with the
    ship-date quarter pushed to the lineitem scan; the max collapses
    that view to ONE row (no all-rows-to-one-partition window),
    attached back via the constant-key BroadcastHashJoin; supplier
    joins under AQE's choice.
    """
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_rev_e4_col()).cast("bigint").alias("total_rev_e4")
    )
    mx = rev.agg(F.max("total_rev_e4").alias("max_rev"))
    return (
        _attach_scalar(rev, mx, "l_suppkey")
        .filter(F.col("total_rev_e4") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


@query(
    "q70_nation_value_share",
    """
    SELECT n.n_name,
           CAST(sum(CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS value_cents
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    HAVING sum(CAST(CAST(s.s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) * 25
         > (SELECT sum(CAST(CAST(s2.s_acctbal AS DECIMAL(18,2)) * 100
                            AS BIGINT))
              FROM supplier s2)
    ORDER BY value_cents DESC, n_name
    """,
)
def q70_nation_value_share_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): nations holding more than a
    1/25 share of total supplier account value — the SCALAR SUBQUERY
    IN HAVING class.  The share threshold is exact-integer
    cross-multiplication (``nation_sum × 25 > grand_total``).

    Scale shape: supplier aggregates once per nation (bounded key
    domain, map-side partials); the grand total is a second one-row
    aggregate over the same scan attached via the constant-key
    BroadcastHashJoin; nation broadcast-forced (bounded dim).
    """
    bal = (F.col("s_acctbal").cast("decimal(18,2)") * 100).cast("bigint")
    s = _t(spark, sf, "supplier").select(
        "s_nationkey", bal.alias("bal_cents")
    )
    n = _t(spark, sf, "nation")
    per_nation = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.sum("bal_cents").cast("bigint").alias("value_cents"))
    )
    tot = s.agg(F.sum("bal_cents").alias("grand_total"))
    return (
        _attach_scalar(per_nation, tot, "value_cents")
        .filter(F.col("value_cents") * 25 > F.col("grand_total"))
        .select("n_name", "value_cents")
        .orderBy(F.col("value_cents").desc(), "n_name")
    )


@query(
    "q71_disjunctive_revenue",
    f"""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 35)
       OR (p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    GROUP BY p.p_brand ORDER BY p_brand
    """,
)
def q71_disjunctive_revenue_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): an OR of conjunctions
    that each mix PART-side and LINEITEM-side predicates — the
    disjunctive cross-table predicate class.  No single branch can be
    fully pushed to either scan; the optimizer pushes the derivable
    per-side residuals (brand/type IN-set to part, the quantity hull
    to lineitem) and evaluates the full disjunction post-join.

    Scale shape: one partkey-equi join (AQE chooses the strategy —
    part is corpus-growing, never broadcast-forced); the disjunction
    is pure codegen expression work; the brand groupBy is a bounded
    key domain.
    """
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (q >= 1)
            & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(10, 30)
            & (q >= 10)
            & (q <= 35)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(20, 50)
            & (q >= 20)
            & (q <= 50)
        )
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(_rev_e4_col()).cast("bigint").alias("revenue_e4"),
        )
        .orderBy("p_brand")
    )


@query(
    "q72_market_share",
    f"""
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr,
           CAST(sum(CASE WHEN r.r_name = 'ASIA' THEN {_REV_E4_SQL}
                         ELSE 0 END) AS BIGINT) AS asia_rev_e4,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS total_rev_e4,
           CAST(CAST(sum(CASE WHEN r.r_name = 'ASIA' THEN {_REV_E4_SQL}
                              ELSE 0 END) AS HUGEINT) * 10000
                // sum({_REV_E4_SQL}) AS BIGINT) AS asia_share_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY yr ORDER BY yr
    """,
)
def q72_market_share_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (market share): the GROUPED ratio-of-aggregates
    class — per order year, the revenue share supplied from one
    region, as conditional-sum / sum within each group (q63 computes
    the same shape with a fixed numerator predicate; here the
    numerator condition comes from a JOINED dimension chain).  The
    ×10000 product is decimal-widened exactly as in q63 so the share
    can't wrap past 2^63 at large scale factors.

    Scale shape: nation and region are bounded dims (broadcast-
    forced); supplier is corpus-growing so its join is AQE's choice;
    the one guaranteed big shuffle is lineitem⋈orders on orderkey;
    the year groupBy is a bounded key domain with map-side partials.
    """
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    rev = _rev_e4_col()
    sn = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(sn, li["l_suppkey"] == sn["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            F.sum(F.when(F.col("r_name") == "ASIA", rev).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("asia_rev_e4"),
            F.sum(rev).cast("bigint").alias("total_rev_e4"),
        )
        .select(
            "yr",
            "asia_rev_e4",
            "total_rev_e4",
            F.expr(
                "CAST(asia_rev_e4 AS DECIMAL(38,0)) * 10000"
                " div total_rev_e4"
            )
            .cast("bigint")
            .alias("asia_share_e4"),
        )
        .orderBy("yr")
    )


@query(
    "q73_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#21'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 49)
      AND l.l_suppkey NOT IN (
            SELECT l2.l_suppkey FROM lineitem l2
            WHERE l2.l_returnflag = 'R'
              AND l2.l_quantity > 49
              AND l2.l_shipdate >= TIMESTAMP '1997-11-01'
              AND l2.l_shipdate < TIMESTAMP '1997-12-01')
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    """,
)
def q73_supplier_part_counts_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): grouped
    COUNT(DISTINCT) combined with NOT IN — the one subquery-planning
    class no prior query exercises together (q26 is a global distinct;
    q67's anti join has no distinct aggregate).  "Blacklisted"
    suppliers (Q16's complaints filter) are those with a full-quantity
    return in November 1997; the oracle keeps the NOT IN form so
    DuckDB plans the null-aware rewrite, while the Spark side writes
    the rewrite explicitly as a left-anti join (the subquery's key is
    non-null by construction, so anti join IS the NOT-IN semantics).

    Scale shape: the blacklist aggregates lineitem down to a
    distinct-supplier set BEFORE the anti join (quantity/date filters
    pushed to the scan), the anti join runs on suppkey (AQE may
    broadcast the small blacklist side at runtime — not forced), the
    part join carries the brand/size pushdown, and count(distinct
    suppkey) per (brand, type) is Spark's two-phase distinct
    aggregate: partial dedup of (group, suppkey) map-side, so the
    shuffle carries distinct combinations, not raw lineitem."""
    li = _t(spark, sf, "lineitem")
    blacklist = (
        li.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_quantity") > 49)
            & (F.col("l_shipdate") >= F.lit("1997-11-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-12-01").cast("timestamp"))
        )
        .select("l_suppkey")
    )
    p = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#21")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 49)
    )
    return (
        li.join(blacklist, "l_suppkey", "left_anti")
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


_QTY_CENTS_SQL = "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"


@query(
    "q74_dominant_suppliers",
    f"""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum({_QTY_CENTS_SQL}) AS BIGINT) AS qty_ps
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT ps.l_suppkey FROM ps
        WHERE ps.l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND ps.qty_ps * 2 > (
                SELECT CAST(sum({_QTY_CENTS_SQL}) AS BIGINT)
                FROM lineitem l2
                WHERE l2.l_partkey = ps.l_partkey
                  AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l2.l_shipdate < TIMESTAMP '1998-01-01'))
      AND s.s_nationkey IN (
            SELECT n_nationkey FROM nation
            WHERE n_name IN ('NATION_3','NATION_7','NATION_11',
                             'NATION_15','NATION_19'))
    ORDER BY s_suppkey
    """,
)
def q74_dominant_suppliers_q(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): CHAINED IN
    subqueries gated by a CORRELATED AGGREGATE threshold — suppliers
    (in a nation set) who shipped >50% of some 'small%' part's 1997
    volume.  The original gates partsupp availability against a
    correlated lineitem sum; this schema has no partsupp, so the pair
    aggregate itself (per partkey+suppkey) plays the inner relation
    and the 50%-of-part-total threshold is the correlated gate.  The
    oracle keeps the nested-IN + correlated-subquery form; the Spark
    side writes the standard decorrelation: AGGREGATE FIRST, then two
    stacked left-semi joins.

    Scale shape: lineitem collapses to (partkey, suppkey) pair sums in
    one shuffle (ship-year pushed to the scan), the per-part total
    reuses the SAME partkey partitioning (AQE aligns the exchanges),
    the threshold is an integer cross-multiplication on the joined
    row, the part-name semi join carries the LIKE pushdown, and the
    supplier semi join runs on the dominant-pair set (dimension-sized,
    AQE's broadcast choice).  Nation is a bounded dim, broadcast-
    forced.  No per-row subquery execution anywhere."""
    qty_cents = (F.col("l_quantity").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty_cents).cast("bigint").alias("qty_ps")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        F.sum(qty_cents).cast("bigint").alias("qty_part")
    )
    small_parts = _t(spark, sf, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    dominant = (
        ps.join(per_part, ps["l_partkey"] == F.col("pp_partkey"))
        .filter(F.col("qty_ps") * 2 > F.col("qty_part"))
        .join(small_parts, ps["l_partkey"] == F.col("p_partkey"), "left_semi")
    )
    nat = _t(spark, sf, "nation").filter(
        F.col("n_name").isin(
            "NATION_3", "NATION_7", "NATION_11", "NATION_15", "NATION_19"
        )
    )
    s = _t(spark, sf, "supplier")
    return (
        s.join(
            F.broadcast(nat),
            s["s_nationkey"] == nat["n_nationkey"],
            "left_semi",
        )
        .join(dominant, s["s_suppkey"] == dominant["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q60_expectations",
    """
    WITH m AS (
      SELECT count(*) AS n_rows,
             count(*) - count(DISTINCT o_orderkey) AS dup_keys,
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
             sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS neg_price,
             sum(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                        OR o_orderdate >= TIMESTAMP '2010-01-01'
                      THEN 1 ELSE 0 END) AS bad_date,
             sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                      THEN 1 ELSE 0 END) AS bad_status,
             sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS big_price,
             sum(CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                      THEN 1 ELSE 0 END) AS legacy_date
      FROM orders
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations FROM (
      SELECT 'orderkey_unique' AS rule, dup_keys AS n_violations FROM m
      UNION ALL SELECT 'custkey_not_null', null_cust FROM m
      UNION ALL SELECT 'totalprice_non_negative', neg_price FROM m
      UNION ALL SELECT 'orderdate_in_range', bad_date FROM m
      UNION ALL SELECT 'status_in_domain', bad_status FROM m
      UNION ALL SELECT 'totalprice_within_band', big_price FROM m
      UNION ALL SELECT 'no_legacy_pre_1996', legacy_date FROM m
    ) t ORDER BY rule
    """,
)
def q60_expectations_q(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ-style data-quality expectations: declarative constraints
    (key uniqueness, completeness, range, domain) verified in ONE
    aggregation pass over the table, emitting per-rule violation
    counts — the admission gate every 100 TB ingest runs before
    publishing a partition.  Two rules (price band, legacy dates) fire
    on the synthetic data so the oracle discriminates; the rest pin
    zero.

    Scale shape: a single scan computes every rule's violation count
    as conditional aggregates (uniqueness via count - count distinct,
    one exchange); the rule pivot touches 7 rows.  Adding rules adds
    expressions, not passes.
    """
    o = _t(spark, sf, "orders")
    m = o.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("orderkey_unique"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "custkey_not_null"
        ),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias(
            "totalprice_non_negative"
        ),
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
                | (F.col("o_orderdate") >= F.lit("2010-01-01").cast("timestamp")),
                1,
            ).otherwise(0)
        ).alias("orderdate_in_range"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("status_in_domain"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias(
            "totalprice_within_band"
        ),
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"), 1
            ).otherwise(0)
        ).alias("no_legacy_pre_1996"),
    )
    rules = [
        "custkey_not_null",
        "no_legacy_pre_1996",
        "orderdate_in_range",
        "orderkey_unique",
        "status_in_domain",
        "totalprice_non_negative",
        "totalprice_within_band",
    ]
    stack = ", ".join(f"'{r}', {r}" for r in rules)
    return (
        m.select(
            F.expr(f"stack({len(rules)}, {stack}) as (rule, n_violations)")
        )
        .select("rule", F.col("n_violations").cast("bigint").alias("n_violations"))
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing + streaming (weaker checks where noted)
# ---------------------------------------------------------------------------


@query(
    "multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
           CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 64 + 1 AS BIGINT) AS fake_width,
           CAST((('0x' || substr(md5(text), 1, 15))::BIGINT >> 6) % 64 + 1 AS BIGINT) AS fake_height
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_q(spark: SparkSession, sf: str) -> DataFrame:
    """Binary-column plumbing: payload attach → Arrow-batched metadata
    extraction via mapInPandas (decode step stubbed deterministically)."""
    d = _t(spark, sf, "documents")
    return MM.extract_meta(MM.attach_fake_payload(d)).orderBy("doc_id")


@query(
    "multimodal_resize",
    """
    WITH t AS (
      SELECT doc_id, text,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
      FROM documents
    ), d AS (
      SELECT doc_id, text, h % 64 + 1 AS w0, (h >> 6) % 64 + 1 AS h0 FROM t
    )
    SELECT doc_id,
           GREATEST(1, CAST(trunc(w0 * LEAST(1.0, 32.0 / GREATEST(w0, h0)))
                       AS BIGINT)) AS out_width,
           GREATEST(1, CAST(trunc(h0 * LEAST(1.0, 32.0 / GREATEST(w0, h0)))
                       AS BIGINT)) AS out_height,
           md5(text) AS thumb_hex
    FROM d ORDER BY doc_id
    """,
)
def multimodal_resize_q(spark: SparkSession, sf: str) -> DataFrame:
    """Resize stage through the Arrow mapInPandas path; the stubbed
    resampler's aspect-preserving dimension math and md5 stand-in
    thumbnail are reproduced exactly in SQL (identical IEEE double op
    order), with the thumbnail compared as lowercase hex."""
    d = _t(spark, sf, "documents")
    out = MM.resize_images(MM.attach_fake_payload(d), max_side=32)
    return out.select(
        "doc_id",
        "out_width",
        "out_height",
        F.lower(F.hex(F.col("thumb"))).alias("thumb_hex"),
    ).orderBy("doc_id")


@query(
    "multimodal_frames",
    """
    WITH t AS (
      SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS blen
      FROM documents
    ), f AS (
      SELECT doc_id, text,
             unnest(range(least(4, greatest(1, blen // 64)))) AS frame_idx
      FROM t
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           md5(substr(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
    FROM f ORDER BY doc_id, frame_idx
    """,
)
def multimodal_frames_q(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-sampling stage (1→N exploding mapInPandas): frames hashed
    for comparison.  Oracle slices by CHARACTER position — equivalent
    to the engine's byte slicing because the documents fixture is pure
    ASCII (asserted: octet_length == length for every row)."""
    d = _t(spark, sf, "documents")
    out = MM.sample_frames(MM.attach_fake_payload(d), every_n_bytes=64, max_frames=4)
    return out.select(
        "doc_id",
        "frame_idx",
        F.md5(F.col("frame_payload")).alias("frame_md5"),
    ).orderBy("doc_id", "frame_idx")


def _phash_cte() -> str:
    """Shared WITH-prefix ending in ``p`` = the (doc_id, phash)
    perceptual-fingerprint table; the multimodal dedup oracles compose
    final SELECTs on top of it (the winnowing shared-CTE pattern)."""
    ph = portable_hash64_sql("c", "ph")
    bit_terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(cs,
              c -> CASE WHEN ({ph} >> {b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0
             THEN {2 ** b} ELSE 0 END)"""
        for b in range(16)
    )
    c = MM.PHASH_CHUNK
    return f"""ch AS (
  SELECT doc_id,
         list_transform(range(CAST(ceil(len(text) / {c}.0) AS BIGINT)),
                        i -> substr(text, CAST(i * {c} + 1 AS BIGINT), {c})) AS cs
  FROM documents
), p AS (
  SELECT doc_id, CAST({bit_terms} AS BIGINT) AS phash FROM ch
)"""


def _multimodal_dedup_oracle() -> str:
    return f"""
WITH {_phash_cte()}, pr AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM p a JOIN p b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 2
), n AS (
  SELECT doc_id, count(*) AS n_near FROM (
    SELECT d1 AS doc_id FROM pr UNION ALL SELECT d2 AS doc_id FROM pr
  ) GROUP BY 1
)
SELECT p.doc_id, p.phash, CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near
FROM p LEFT JOIN n USING (doc_id) ORDER BY doc_id
"""


@query("multimodal_dedup", _multimodal_dedup_oracle())
def multimodal_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal NEAR-DUP — the missing third leg of the multimodal
    family (VERDICT r7 #3): perceptual fingerprints over binary
    payloads (operators/multimodal.py::dhash_table — real Pillow dHash
    when a payload decodes, deterministic 16-chunk SimHash fallback the
    oracle reproduces from the payload text), then banded-Hamming
    candidate pairs through the SAME machinery as text SimHash
    (operators/dedup.py::banded_hamming_pairs, 4×4-bit bands, lossless
    for Hamming ≤ 2 by pigeonhole).  Returns every doc's fingerprint
    plus how many near-duplicate payloads it has.

    Scale shape: fingerprinting is a map-only Arrow pass (16 bytes of
    fingerprint per row); the only shuffles are the band-key self-join
    (equi-join, bounded occupancy per 'band:value' key) and the count
    agg.  The oracle's all-pairs O(n²) join is exactly what this plan
    avoids."""
    d = _t(spark, sf, "documents")
    from .operators.iterutils import iter_checkpoint

    # use_decoder=False: the oracle models the md5-vote fallback, and
    # a decoder-equipped worker could true-dHash a text payload that
    # happens to carry a PPM/PBM magic ('P1'..'P3'), silently
    # diverging — the declared query forces the oracle-reproducible
    # path in every environment (operators keep real-when-possible)
    # eager=False is MEASURED, not an oversight (round 13): the lazy
    # checkpoints let the fingerprint pass expand once per concurrent
    # consumer stage (3× executor seconds in the profile), but those
    # stages only soak otherwise-idle cores — wall is flat — while
    # eager materialization adds blocking job round-trips (A/B
    # steady-state 1.37-1.45 s lazy vs 1.57-1.94 s eager, hash-equal).
    ph = iter_checkpoint(
        MM.dhash_table(MM.attach_fake_payload(d), use_decoder=False),
        eager=False,
    )
    # checkpoint: the d1/d2 union below consumes `pairs` twice — the
    # PLANS.md audit showed the banded self-join executing once per
    # union branch; materializing the (candidate-sized) pair set runs
    # it once
    pairs = iter_checkpoint(
        DD.banded_hamming_pairs(
            ph, "phash", MM.PHASH_BITS, max_hamming=2, band_bits=4
        ),
        eager=False,
    )
    near = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionAll(pairs.select(F.col("d2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near"))
    )
    return (
        ph.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "phash",
            F.coalesce(F.col("n_near"), F.lit(0)).cast("bigint").alias("n_near"),
        )
        .orderBy("doc_id")
    )


#: unrolled hash-min rounds in the multimodal clustered oracle.  Each
#: round is neighbor-min THEN pointer-jump (adopt your label's label);
#: measured coverage is ~2 hops/round (the jump target's own window is
#: centered at the min-id node, not guaranteed to extend toward it, so
#: the provable-O(log) large-star/small-star accelerations don't apply
#: to this naive jump).  Swept graphs: component diameter 9 at sf0.1
#: (one 4999-node Hamming component), 19 at sf0.01 (sparser graph,
#: longer chains) — 10 rounds converge everywhere (measured), 14 adds
#: margin at ~0.2 s/round.  A convergence SENTINEL poisons the output
#: if a further neighbor-min round would still change any label, so a
#: too-small unroll fails the sweep loudly instead of silently
#: mislabeling.
_MM_CLUSTER_ROUNDS = 14


def _multimodal_clustered_oracle(rounds: int = _MM_CLUSTER_ROUNDS) -> str:
    """Fixed-round unrolled min-label closure (VERDICT r8 #8: the
    WITH RECURSIVE transitive-closure formulation materialized ~25M
    reach pairs on sf0.1's single giant component and cost ~114 s per
    sweep; this chain is rounds × candidate-pair-sized joins — same
    answer, hash-equal, seconds not minutes)."""
    parts = []
    for i in range(rounds):
        parts.append(f"""
, t{i} AS MATERIALIZED (
  SELECT n.node, least(n.lbl, coalesce(min(nb.lbl), n.lbl)) AS lbl
  FROM l{i} n
  LEFT JOIN sym e ON n.node = e.a
  LEFT JOIN l{i} nb ON e.b = nb.node
  GROUP BY n.node, n.lbl
), l{i + 1} AS MATERIALIZED (
  SELECT t.node, least(t.lbl, j.lbl) AS lbl
  FROM t{i} t JOIN t{i} j ON t.lbl = j.node
)""")
    chain = "".join(parts)
    lf = f"l{rounds}"
    return f"""
WITH {_phash_cte()}, pr AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM p a JOIN p b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 2
), sym AS MATERIALIZED (
  SELECT d1 AS a, d2 AS b FROM pr
  UNION
  SELECT d2 AS a, d1 AS b FROM pr
), l0 AS MATERIALIZED (
  SELECT doc_id AS node, doc_id AS lbl FROM p
){chain}, chk AS (
  SELECT n.node, least(n.lbl, coalesce(min(nb.lbl), n.lbl)) AS lbl
  FROM {lf} n
  LEFT JOIN sym e ON n.node = e.a
  LEFT JOIN {lf} nb ON e.b = nb.node
  GROUP BY n.node, n.lbl
)
SELECT node AS doc_id,
       CAST(lbl AS BIGINT) AS cluster,
       (lbl = node) AS keep
FROM {lf}
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), false
WHERE EXISTS (SELECT 1 FROM {lf} a JOIN chk b
              ON a.node = b.node AND a.lbl <> b.lbl)
ORDER BY doc_id
"""


@query("multimodal_dedup_clustered", _multimodal_clustered_oracle())
def multimodal_dedup_clustered_q(spark: SparkSession, sf: str) -> DataFrame:
    """The multimodal cluster-dedup materialization, bringing the
    modality to parity with text (``docs_dedup_clustered``):
    perceptual-hash near-dup pairs → connected components → every
    payload labeled with its cluster representative and a keep flag
    (cluster = lowest doc id reachable through Hamming-≤2 edges;
    transitive, so a chain of re-encodes collapses to one keeper even
    when its endpoints differ by more than the pairwise budget).

    Scale shape: the pair join is the audited banded-Hamming plan;
    components is the checkpointed O(log n)-round hash-min loop shared
    with text dedup; the final labeling is one left join.  Oracle:
    recursive-CTE closure over the all-pairs Hamming graph."""
    from .operators.components import connected_components
    from .operators.iterutils import iter_checkpoint

    d = _t(spark, sf, "documents")
    ph = iter_checkpoint(
        MM.dhash_table(MM.attach_fake_payload(d), use_decoder=False),
        eager=False,
    )
    pairs = DD.banded_hamming_pairs(
        ph, "phash", MM.PHASH_BITS, max_hamming=2, band_bits=4
    ).select("d1", "d2")
    comp = connected_components(pairs)
    return (
        ph.join(comp, ph.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id"))
            .cast("bigint")
            .alias("cluster"),
            (F.col("node").isNull() | (F.col("component") == F.col("doc_id"))).alias(
                "keep"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "stream_user_counts_stateful",
    """
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def stream_stateful_q(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed-state streaming counts (applyInPandasWithState); the final
    state per user must equal the batch groupBy count, which IS the
    oracle."""
    from .streaming.stateful import user_counts_stateful

    return user_counts_stateful(spark, sf)


@query(
    "stream_hourly_counts",
    # the streaming result's oracle IS the batch twin's (q15): the
    # availableNow-driven window agg must produce exactly the batch
    # answer on static input (VERDICT round 1 #4 — no rows-only waiver)
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           count(*) AS n
    FROM events GROUP BY 1 ORDER BY hour_start
    """,
)
def stream_q(spark: SparkSession, sf: str) -> DataFrame:
    """Structured Streaming tumbling-window counts (availableNow batch
    drive); oracle-checked against the batch twin's exact SQL."""
    from .streaming.ingest import hourly_counts_stream

    return hourly_counts_stream(spark, sf)


@query(
    "stream_windowed_topk",
    """
    WITH hc AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT hour_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY hour_start ORDER BY n DESC, event_type) AS rk
      FROM hc
    ) t WHERE rk <= 3 ORDER BY hour_start, rank
    """,
)
def stream_windowed_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming top-k per window via the `stream aggregate →
    foreachBatch staging table → batch rank` architecture — the
    pattern for window functions Structured Streaming can't run
    incrementally.  The foreachBatch sink idempotently overwrites the
    staging table with the full aggregate state; oracle is the batch
    twin's exact SQL (same bar as every stream query here)."""
    from .streaming.ingest import windowed_topk_stream

    return windowed_topk_stream(spark, sf)


@query(
    "stream_stream_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
)
def stream_stream_join_q(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream time-interval join (attribution: clicks in the 10
    minutes before each same-user purchase), watermark-bounded state on
    both sides — checked against the batch interval join's SQL."""
    from .streaming.ingest import attribution_join_stream

    return attribution_join_stream(spark, sf)


@query(
    "stream_outer_join",
    """
    SELECT p.event_id AS purchase_id,
           coalesce(c.event_id, -1) AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
    ORDER BY purchase_id, click_id
    """,
)
def stream_outer_join_q(spark: SparkSession, sf: str) -> DataFrame:
    """The TENTH streaming class: watermarked LEFT OUTER stream-stream
    join — null-match rows emit on state EVICTION when the watermark
    passes a purchase's join window, driven across two micro-batches
    by a far-future heartbeat sentinel (the production pattern that
    bounds outer-join latency on quiet streams).  Checked against the
    batch left interval join; unmatched clicks surface as -1."""
    from .streaming.ingest import attribution_left_join_stream

    return attribution_left_join_stream(spark, sf)


@query(
    "stream_static_join",
    """
    SELECT c.c_mktsegment, count(*) AS n
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment ORDER BY c_mktsegment
    """,
)
def stream_static_join_q(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static join class: streaming events broadcast-join the
    static customer dimension, aggregated per segment — checked against
    the batch join's SQL."""
    from .streaming.ingest import static_join_counts_stream

    return static_join_counts_stream(spark, sf)


@query(
    "stream_dedup_counts",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming exact dedup: source unioned with itself, keyed-state
    dropDuplicates, then grouped counts — matches the single-copy batch
    counts iff the dedup state worked (chained stateful ops)."""
    from .streaming.ingest import dedup_counts_stream

    return dedup_counts_stream(spark, sf)


@query(
    "stream_approx_distinct",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           true AS within_bounds
    FROM events GROUP BY 1 ORDER BY hour_start
    """,
)
def stream_approx_distinct_q(spark: SparkSession, sf: str) -> DataFrame:
    """The EIGHTH streaming class: a mergeable sketch inside streaming
    state — per-hour distinct users estimated by a DataSketches HLL
    sketch (``hll_sketch_agg``/``hll_sketch_estimate`` — deliberately
    NOT ``approx_count_distinct``'s HLL++, which biases a few % low at
    small cardinalities; see ``approx_distinct_stream``) in the
    windowed streaming aggregation, then checked against the batch
    exact count with the
    tolerance-flag oracle pattern (``approx_hll_mergeable``'s bar:
    the oracle asserts the flag, the flag asserts the estimate sits
    within 5× rsd of exact).  Why it matters at scale: exact
    distinct-per-window state grows with key cardinality (unbounded on
    a 100 TB event stream), the sketch is fixed-size per window and
    merges across micro-batches by construction.

    Scale shape: streaming side is one watermarked window aggregation
    (state = one sketch per open window); batch side is one exact
    distinct aggregate; the comparison join carries one row per hour
    (window-count bounded), AQE-sized.
    """
    from .streaming.ingest import approx_distinct_stream

    est = approx_distinct_stream(spark, sf)
    exact = (
        _t(spark, sf, "events")
        .groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_start")
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        exact.join(est, "hour_start")
        .select(
            "hour_start",
            "n_exact",
            (
                F.abs(F.col("n_est") - F.col("n_exact"))
                <= F.col("n_exact") * F.lit(0.10)
            ).alias("within_bounds"),
        )
        .orderBy("hour_start")
    )


def _bloom_gate_oracle(m_bits: int, k: int) -> str:
    probes = "\n      ".join(
        f"AND {portable_hash64_sql('s', f'bf{i}')} % {m_bits} IN (SELECT pos FROM bpos)"
        for i in range(k)
    )
    union = "\n      UNION ALL ".join(
        f"SELECT {portable_hash64_sql('s', f'bf{i}')} % {m_bits} AS pos "
        "FROM ex WHERE doc_id % 50 = 0"
        for i in range(k)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(t)-2, 0)),
               i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
      FROM (SELECT doc_id, {_TOKS_SQL} AS t FROM documents)
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh WHERE len(shingles) > 0
    ), bpos AS (
      SELECT DISTINCT pos FROM (
      {union}
      )
    ), cand AS (
      SELECT doc_id FROM ex
      WHERE doc_id % 50 <> 0
      {probes}
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_candidates
    FROM cand GROUP BY doc_id ORDER BY doc_id
    """


@query("stream_bloom_gate", _bloom_gate_oracle(DD.BLOOM_M_BITS, DD.BLOOM_K))
def stream_bloom_gate_q(spark: SparkSession, sf: str) -> DataFrame:
    """The NINTH streaming class: a STATELESS map-only stream transform
    — the Bloom decontamination prefilter running inline on a document
    stream (streaming/ingest.py::bloom_gate_stream).  No watermark, no
    state store, append mode: per-batch cost is pure expression work
    and state size is zero at any stream length, which is the whole
    point of gating in-stream and exact-confirming downstream in batch
    (docs_bloom_contamination).  The bitmap hashes shingle STRINGS
    with the portable md5 hash, so the oracle recomputes every set bit
    and the candidate counts match EXACTLY — false positives included
    (a Bloom filter is deterministic: "approximate" is its precision,
    not its reproducibility)."""
    from .streaming.ingest import bloom_gate_stream

    return bloom_gate_stream(spark, sf)


@query(
    "stream_sessionize",
    # q22's batch shape with the SAME strict-> gap predicate:
    # session_window's gap boundary is inclusive (an event exactly
    # `gap` after the last one extends the session — verified against
    # a fixture with an exact 1800 s gap), matching the lag
    # formulation's `> gap` starts-new rule.
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
)
def stream_sessionize_q(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows through the STREAMING engine (session_window
    state merging, availableNow-driven), renumbered per user to match
    the batch sessionization oracle."""
    from .streaming.ingest import session_counts_stream

    return session_counts_stream(spark, sf)


#: multimodal_video_dedup geometry: keyframe stand-ins are 64-byte
#: payload slices (≤4 per video — multimodal.sample_frames), each
#: fingerprinted with the 16-bit fallback perceptual hash; videos are
#: near-dups when their frame-hash SETS overlap with Jaccard ≥ 1/2.
_VIDEO_FRAME_BYTES = 64
_VIDEO_MAX_FRAMES = 4
_VIDEO_JACCARD_NUM = 1
_VIDEO_JACCARD_DEN = 2


def _video_dedup_oracle() -> str:
    """Frame-level twin of the _phash_cte construction: positional
    64-char frames (the byte slices sample_frames takes — document
    text is ASCII in every graded input, so char and byte offsets
    agree), per-frame 16-char-chunk SimHash votes with the portable
    md5 hash, DISTINCT per-video hash sets, winnow-shaped equi-join,
    set-overlap Jaccard."""
    ph = portable_hash64_sql("c", "ph")
    bit_terms = " + ".join(
        f"""(CASE WHEN list_sum(list_transform(cs,
              c -> CASE WHEN ({ph} >> {b}) % 2 = 1 THEN 1 ELSE -1 END)) > 0
             THEN {2 ** b} ELSE 0 END)"""
        for b in range(MM.PHASH_BITS)
    )
    fb, mf, c = _VIDEO_FRAME_BYTES, _VIDEO_MAX_FRAMES, MM.PHASH_CHUNK
    num, den = _VIDEO_JACCARD_NUM, _VIDEO_JACCARD_DEN
    return f"""
WITH fr AS (
  SELECT doc_id,
         substr(text, CAST(i * {fb} + 1 AS BIGINT), {fb}) AS frame
  FROM documents,
       unnest(range(least({mf}, greatest(1, len(text) // {fb})))) AS u(i)
), fch AS (
  SELECT doc_id,
         list_transform(range(CAST(ceil(len(frame) / {c}.0) AS BIGINT)),
                        i -> substr(frame, CAST(i * {c} + 1 AS BIGINT), {c})) AS cs
  FROM fr
), fp AS (
  SELECT DISTINCT doc_id, CAST({bit_terms} AS BIGINT) AS phash FROM fch
), sizes AS (
  SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id
), pr AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
  FROM fp a JOIN fp b ON a.phash = b.phash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT pr.d1, pr.d2, CAST(shared AS BIGINT) AS shared,
       CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2
FROM pr JOIN sizes s1 ON s1.doc_id = pr.d1
        JOIN sizes s2 ON s2.doc_id = pr.d2
WHERE shared * {den} >= {num} * (s1.n + s2.n - shared)
ORDER BY d1, d2
"""


@query("multimodal_video_dedup", _video_dedup_oracle())
def multimodal_video_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """VIDEO-level near-dup (VERDICT r8 #7 — the one multimodal
    composition still unbuilt): per-video keyframe sampling
    (multimodal.sample_frames — the 1→N exploding mapInPandas shape a
    real ffmpeg keyframe extractor has), per-frame perceptual hash
    (the SAME dhash_table kernel the image path uses, fallback mode
    so the oracle reproduces every fingerprint), per-video DISTINCT
    frame-hash sets, and set-overlap Jaccard ≥ 1/2 through the
    winnow-shaped equi-join (docs_winnow_pairs' plan over frame
    hashes): candidates only ever meet inside a shared-hash bucket —
    never videos² — and pair emission is in-bucket.

    Scale shape: sampling and hashing are chained map-only Arrow
    passes (no shuffle until the pair join); the join key is the
    frame hash, whose bucket occupancy is held constant by widening
    PHASH_BITS with corpus growth (the dhash_table scale lever); the
    Jaccard filter is arithmetic on counts, no re-scan.  A real
    deployment swaps sample_frames' byte slicing for decoded
    keyframes and keeps every downstream stage unchanged.
    """
    from .operators.iterutils import iter_checkpoint

    d = _t(spark, sf, "documents")
    frames = MM.sample_frames(
        MM.attach_fake_payload(d),
        every_n_bytes=_VIDEO_FRAME_BYTES,
        max_frames=_VIDEO_MAX_FRAMES,
    )
    # the hash-set table feeds FOUR plan references (both self-join
    # sides, both size lookups) — checkpoint it lazily so the scan +
    # two Arrow passes + distinct run ONCE, not four times (the
    # .explain audit caught the 4× recompute)
    sets = iter_checkpoint(
        MM.dhash_table(
            frames.select("doc_id", F.col("frame_payload").alias("payload")),
            use_decoder=False,
        ).distinct(),
        eager=False,
    )
    sizes = sets.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sets.alias("a"), sets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.phash") == F.col("b.phash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .filter(
            DD.jaccard_at_least(
                F.col("shared"),
                F.col("n1"),
                F.col("n2"),
                num=_VIDEO_JACCARD_NUM,
                den=_VIDEO_JACCARD_DEN,
            )
        )
        .select(
            "d1",
            "d2",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
        )
        .orderBy("d1", "d2")
    )


#: multimodal_audio_dedup: audio tracks are near-dups when their
#: sub-fingerprint SETS overlap with Jaccard ≥ 1/2 — the video
#: composition's gate applied to the chromaprint-shaped temporal-delta
#: fingerprints (multimodal.audio_subfingerprints).
_AUDIO_JACCARD_NUM = 1
_AUDIO_JACCARD_DEN = 2


def _audio_dedup_oracle() -> str:
    """SQL twin of multimodal.audio_subfingerprints + the set-overlap
    tail: positional frames (document text is ASCII in every graded
    input, so the utf-8 'PCM' stand-in and char offsets agree),
    per-band portable-md5 energy surrogates, bit = band ROSE vs the
    previous frame, DISTINCT per-track sub-fingerprint sets,
    shared-subfp equi-join, Jaccard ≥ 1/2."""
    fc, bands, mf = MM.AUDIO_FRAME_CHARS, MM.AUDIO_BANDS, MM.AUDIO_MAX_FRAMES
    bw = fc // bands
    cur = portable_hash64_sql(
        f"substr(s, CAST(j * {fc} + b * {bw} + 1 AS BIGINT), {bw})", "au"
    )
    prev = portable_hash64_sql(
        f"substr(s, CAST((j - 1) * {fc} + b * {bw} + 1 AS BIGINT), {bw})",
        "au",
    )
    num, den = _AUDIO_JACCARD_NUM, _AUDIO_JACCARD_DEN
    return f"""
WITH fr AS (
  SELECT doc_id, text AS s,
         unnest(range(1, least({mf}, len(text) // {fc}))) AS j
  FROM documents
), fp AS (
  SELECT DISTINCT doc_id,
         CAST(list_sum(list_transform(range({bands}),
              b -> CASE WHEN {cur} > {prev}
                        THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT)
                   END)) AS BIGINT) AS subfp
  FROM fr
), sizes AS (
  SELECT doc_id, count(*) AS n FROM fp GROUP BY doc_id
), pr AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
  FROM fp a JOIN fp b ON a.subfp = b.subfp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT pr.d1, pr.d2, CAST(shared AS BIGINT) AS shared,
       CAST(s1.n AS BIGINT) AS n1, CAST(s2.n AS BIGINT) AS n2
FROM pr JOIN sizes s1 ON s1.doc_id = pr.d1
        JOIN sizes s2 ON s2.doc_id = pr.d2
WHERE shared * {den} >= {num} * (s1.n + s2.n - shared)
ORDER BY d1, d2
"""


@query("multimodal_audio_dedup", _audio_dedup_oracle())
def multimodal_audio_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """AUDIO-level near-dup — the third modality's composition,
    completing the image (multimodal_dedup) / video
    (multimodal_video_dedup) / audio triple: chromaprint-shaped
    sub-fingerprints (multimodal.audio_subfingerprints — per-frame
    per-band temporal-delta bits over the decoded sample stream; the
    decode is the stub point, the fingerprint structure is the real
    one), per-track DISTINCT sub-fingerprint sets, and set-overlap
    Jaccard ≥ 1/2 through the same winnow-shaped equi-join the video
    path uses: candidates only ever meet inside a shared-subfp
    bucket — never tracks² — and pair emission is in-bucket.

    Scale shape: fingerprinting is ONE map-only pass of pure
    whole-stage-codegen expressions (an explode over frame indices +
    2×bands column-sliced hashes; zero Python below the decode stub);
    the join key is the sub-fingerprint, whose bucket occupancy is
    held constant by widening AUDIO_BANDS with corpus growth (the
    PHASH_BITS lever); the Jaccard gate is count arithmetic.  A real
    deployment swaps the decode stub for PCM + FFT band energies and
    keeps every downstream stage unchanged."""
    from .operators.iterutils import iter_checkpoint

    d = _t(spark, sf, "documents")
    # the sub-fingerprint set table feeds FOUR plan references (both
    # self-join sides, both size lookups) — lazily checkpoint it
    # (narrow: two longs per row) so the fingerprint pass runs ONCE,
    # the video query's audited pattern
    sets = iter_checkpoint(
        MM.audio_subfingerprints(MM.attach_fake_payload(d))
        .select("doc_id", "subfp")
        .distinct(),
        eager=False,
    )
    sizes = sets.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sets.alias("a"), sets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.subfp") == F.col("b.subfp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(F.count("*").alias("shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .filter(
            DD.jaccard_at_least(
                F.col("shared"),
                F.col("n1"),
                F.col("n2"),
                num=_AUDIO_JACCARD_NUM,
                den=_AUDIO_JACCARD_DEN,
            )
        )
        .select(
            "d1",
            "d2",
            F.col("shared").cast("bigint").alias("shared"),
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
        )
        .orderBy("d1", "d2")
    )


#: stream_ann_probe geometry: the standing corpus (index training
#: side) is vec_id < SPLIT1; batch 1 is [SPLIT1, SPLIT2); batch 2 is
#: the rest.  SPLIT1 matches ANN_IVFPQ_SPLIT's rationale (≥ the seed
#: counts, < the smallest corpus); SPLIT2 keeps both batches non-empty
#: at every SF (500 vectors at sf0.001/0.01, 2000 at sf0.1).
_SANN_SPLIT1 = 256
_SANN_SPLIT2 = 384


def _stream_ann_probe_oracle(
    split1: int = _SANN_SPLIT1,
    split2: int = _SANN_SPLIT2,
    n_centroids: int = 32,
    nprobe: int = 10,
    m: int = 16,
    ksub: int = 16,
    shortlist: int = 48,
    k: int = 3,
    ivf_lloyd: int = 2,
    pq_lloyd: int = 1,
) -> str:
    """Two-stage batch twin of the streaming ANN serve-and-grow loop:
    ONE frozen geometry (both Lloyd chains restricted to the standing
    corpus, vec_id < split1 — the train_max machinery), ONE
    assignment/encoding over every vector, and per stage a probe
    chain whose CANDIDATES are the index membership at that batch's
    arrival time (stage 1: the corpus; stage 2: corpus ∪ batch 1) and
    whose QUERIES are the batch — exactly what probe-then-append
    produced on the Spark side."""
    cent_cos_t = (
        "CAST(list_sum(list_transform(range(len(a.qv)), i -> a.qv[i+1] * c.cqv[i+1])) AS DOUBLE)"
        " / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(c.cnsq AS DOUBLE)))"
    )
    ivf = _ivf_lloyd_ctes(ivf_lloyd, cent_cos_t, train_tbl="ntrain")
    codebook, sub = _pq_codebook_ctes(
        m, ksub, pq_lloyd, train_filter=f"vec_id < {split1}"
    )
    ivf_cf = f"c{ivf_lloyd}"
    sdot = _pq_sdot(sub)
    pq_cf = f"pqc{pq_lloyd}"

    def chain(s: str, qfilter: str, mfilter: str) -> str:
        return f""", qn{s} AS (
  SELECT vec_id, nsq FROM n WHERE {qfilter}
), cand0{s} AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id
  FROM (SELECT vec_id, cell FROM assign
         WHERE cell_rank <= {nprobe} AND {qfilter}) a
  JOIN (SELECT vec_id, cell FROM assign
         WHERE cell_rank = 1 AND {mfilter}) b
    ON a.cell = b.cell AND a.vec_id != b.vec_id
), ad{s} AS (
  SELECT c0.q_id, c0.n_id, sum({sdot}) AS adot
  FROM cand0{s} c0
  JOIN sv s ON s.vec_id = c0.q_id
  JOIN codes cd ON cd.vec_id = c0.n_id AND cd.m = s.m
  JOIN {pq_cf} c ON c.m = cd.m AND c.cell = cd.cell
  GROUP BY c0.q_id, c0.n_id
), scored{s} AS (
  SELECT ad.q_id, ad.n_id,
         CAST(ad.adot AS DOUBLE)
           / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(recon.rn AS DOUBLE)))
           AS cos
  FROM ad{s} ad
  JOIN qn{s} qn ON qn.vec_id = ad.q_id
  JOIN recon ON recon.vec_id = ad.n_id
  WHERE qn.nsq > 0 AND recon.rn > 0
), cand{s} AS (
  SELECT q_id, n_id FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
             AS rn1
    FROM scored{s}
  ) t WHERE rn1 <= {shortlist}
), rer{s} AS (
  SELECT cand.q_id, cand.n_id,
         CAST(list_sum(list_transform(range(len(a.qv)),
                                      i -> a.qv[i+1] * b.qv[i+1])) AS DOUBLE)
           / (sqrt(CAST(a.nsq AS DOUBLE)) * sqrt(CAST(b.nsq AS DOUBLE)))
           AS xcos
  FROM cand{s} cand
  JOIN n a ON a.vec_id = cand.q_id
  JOIN n b ON b.vec_id = cand.n_id
  WHERE a.nsq > 0 AND b.nsq > 0
), out{s} AS (
  SELECT q_id, CAST(n_id AS BIGINT) AS neighbor_id,
         CAST(rn2 AS BIGINT) AS rank
  FROM (
    SELECT q_id, n_id,
           row_number() OVER (PARTITION BY q_id ORDER BY xcos DESC, n_id)
             AS rn2
    FROM rer{s}
  ) t WHERE rn2 <= {k}
)"""

    s1 = chain(
        "1",
        f"vec_id >= {split1} AND vec_id < {split2}",
        f"vec_id < {split1}",
    )
    s2 = chain("2", f"vec_id >= {split2}", f"vec_id < {split2}")
    return f"""
WITH q AS (
  SELECT vec_id, {_QUANT} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv,
         list_sum(list_transform(range(len(qv)), i -> qv[i+1] * qv[i+1])) AS nsq
  FROM q
), ntrain AS (
  SELECT * FROM n WHERE vec_id < {split1}
), c0 AS (
  SELECT vec_id AS cell, qv AS cqv, nsq AS cnsq FROM n WHERE vec_id < {n_centroids}
){ivf}, assign AS (
  SELECT vec_id, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY ccos DESC, cell) AS cell_rank
  FROM (
    SELECT a.vec_id, c.cell, {cent_cos_t} AS ccos
    FROM n a CROSS JOIN {ivf_cf} c
  )
){codebook}{s1}{s2}
SELECT * FROM out1
UNION ALL
SELECT * FROM out2
ORDER BY q_id, rank
"""


@query("stream_ann_probe", _stream_ann_probe_oracle())
def stream_ann_probe_q(spark: SparkSession, sf: str) -> DataFrame:
    """Online ANN serving with continuous index growth — the TWELFTH
    streaming class, the ANN symmetric of stream_incremental_dedup:
    the standing corpus (vec_id < 256) is trained and saved once as
    an IVFADC index; vector batches stream in two deterministic
    micro-batches; each batch retrieves its top-3 neighbors from the
    index AS IT EXISTS AT ARRIVAL (frozen-geometry probe, no
    training) and is then appended via append_to_ivfpq_index — so a
    batch-2 query can retrieve a batch-1 vector, and a batch never
    retrieves itself.  See streaming/ingest.py::ann_probe_stream for
    the drive/idempotence shape; the oracle is ONE frozen-geometry
    IVFADC SQL with per-stage candidate-membership filters (stage 1
    probes the corpus, stage 2 probes corpus ∪ batch 1)."""
    from .streaming.ingest import ann_probe_stream

    return ann_probe_stream(
        spark, sf, split1=_SANN_SPLIT1, split2=_SANN_SPLIT2
    )


def _stream_incremental_dedup_oracle() -> str:
    """Two-stage batch twin of the streaming incremental dedup: batch
    1 (doc_id % 10 == 0) probes the corpus index; its keepers join the
    effective corpus; batch 2 (doc_id % 10 == 5) probes that.  Built
    on the SAME verified-pairs fragment as the one-shot oracle so the
    Jaccard layer cannot drift; stage-2 partner sets are corpus ∪
    stage-1 keepers, which is exactly what append_to_dedup_index made
    probe-able before batch 2 ran."""
    fp = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
    return f"""
WITH vp AS MATERIALIZED (
  {_verified_pairs_sql()}
), fp_t AS (
  SELECT doc_id, {fp} AS fp FROM documents
), b1 AS (
  SELECT doc_id, fp FROM fp_t WHERE doc_id % 10 = 0
), b2 AS (
  SELECT doc_id, fp FROM fp_t WHERE doc_id % 10 = 5
), corpus_fp AS (
  SELECT DISTINCT fp FROM fp_t WHERE doc_id % 5 <> 0
), near1 AS (
  SELECT CASE WHEN d1 % 10 = 0 THEN d1 ELSE d2 END AS doc_id,
         count(*) AS n_near
  FROM vp
  WHERE (d1 % 10 = 0 AND d2 % 5 <> 0) OR (d2 % 10 = 0 AND d1 % 5 <> 0)
  GROUP BY 1
), r1 AS (
  SELECT b1.doc_id, (c.fp IS NOT NULL) AS exact_dup,
         CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
         (c.fp IS NULL AND coalesce(n.n_near, 0) = 0) AS keep
  FROM b1
  LEFT JOIN corpus_fp c USING (fp)
  LEFT JOIN near1 n USING (doc_id)
), eff2 AS MATERIALIZED (
  SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
  UNION ALL
  SELECT doc_id FROM r1 WHERE keep
), fp2 AS (
  SELECT DISTINCT f.fp FROM fp_t f JOIN eff2 e USING (doc_id)
), near2 AS (
  SELECT CASE WHEN d1 % 10 = 5 THEN d1 ELSE d2 END AS doc_id,
         count(*) AS n_near
  FROM vp
  WHERE (d1 % 10 = 5 AND d2 IN (SELECT doc_id FROM eff2))
     OR (d2 % 10 = 5 AND d1 IN (SELECT doc_id FROM eff2))
  GROUP BY 1
), r2 AS (
  SELECT b2.doc_id, (c.fp IS NOT NULL) AS exact_dup,
         CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near,
         (c.fp IS NULL AND coalesce(n.n_near, 0) = 0) AS keep
  FROM b2
  LEFT JOIN fp2 c USING (fp)
  LEFT JOIN near2 n USING (doc_id)
)
SELECT * FROM r1
UNION ALL
SELECT * FROM r2
ORDER BY doc_id
"""


@query("stream_incremental_dedup", _stream_incremental_dedup_oracle())
def stream_incremental_dedup_q(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup as an actual STREAM — the eleventh streaming
    class (VERDICT r8 #6), composing the persisted dedup index with
    foreachBatch: arrivals stream in two deterministic micro-batches
    (doc_id % 10 == 0 then % 10 == 5); each batch probes the loaded
    index and appends its keepers back before the next batch runs, so
    a batch-2 arrival duplicating a KEPT batch-1 arrival is caught —
    the cross-batch semantic the one-shot docs_incremental_dedup
    scopes out.  See streaming/ingest.py::incremental_dedup_stream
    for the drive/idempotence shape; the oracle is the two-stage
    batch twin over the same verified-pairs fragment."""
    from .streaming.ingest import incremental_dedup_stream

    return incremental_dedup_stream(spark, sf)


#: Names enumerated FIRST in ``queries()``/``oracle_sql()``.  The round
#: driver samples a 50-row subset of the registry per round; this list
#: points the sample at the current evidence gap.  Round-13 rotation
#: (VERDICT r12 "Next round" #1): Tier 1 is the complete 28-name
#: r9-stale block — the oldest driver evidence in the ledger (every
#: other query has an r10+ row); after this round no query's latest
#: driver row is older than r10.  Tier 2 is the 50-name r10 block; the
#: first ~22 of it also fit the 50-row sample, and the remainder is
#: the staged head of the r14 rotation.  The evidence ledger (latest
#: CORRECTNESS_r*.json round per query) is recomputed each round; see
#: tools/ledger.py.
_DRIVER_PRIORITY: list[str] = [
    # Tier 1 — the r9-stale block, complete (VERDICT r12 #1).
    "multimodal_resize",
    "multimodal_video_dedup",
    "q01_regex_parse",
    "q02_filter_predicates",
    "q03_project_cast_lit",
    "q04_semi_join",
    "q05_anti_join",
    "q06_left_join_default",
    "q14_pipeline_composite",
    "q27_json_extract",
    "q31_ancestor_paths",
    "q34_udaf_geomean",
    "q35_full_outer",
    "q36_intersect",
    "q43_variant_extract",
    "q50_map_type",
    "q51_regex_rewrite",
    "q52_union_by_name",
    "q53_try_cast",
    "q54_exists_subquery",
    "q55_funnel",
    "q56_cohort_retention",
    "q57_scd2_merge",
    "q60_expectations",
    "q61_returned_items",
    "q64_large_volume",
    "text_keywords",
    "text_lm_perplexity",
    # Tier 2 — the r10 block; ~22 fit this round's sample, the rest
    # stage the r14 rotation.  Streaming + index-backed families and
    # the perf-watchlist entries (docs_semdedup, docs_bloom_contamination,
    # text_gopher_filters) lead — they carry the r11/r12 attribution
    # work and deserve the freshest driver rows — then the remainder
    # alphabetically.
    "stream_approx_distinct",
    "stream_bloom_gate",
    "stream_hourly_counts",
    "stream_outer_join",
    "stream_sessionize",
    "stream_stream_join",
    "ann_filtered_topk",
    "ann_ivf_topk",
    "ann_ivfpq_compacted",
    "ann_ivfpq_deleted",
    "ann_ivfpq_filtered",
    "ann_ivfpq_topk",
    "ann_lsh_topk_probed",
    "ann_pq_topk",
    "docs_semdedup",
    "docs_bloom_contamination",
    "docs_dedup_index_maintained",
    "text_gopher_filters",
    "multimodal_audio_dedup",
    "approx_heavy_hitters",
    "approx_hll_mergeable",
    "approx_quantiles_bounded",
    "docs_ccnet_buckets",
    "docs_cdc_chunk",
    "docs_cdc_dedup",
    "docs_dup_spans",
    "docs_kmeans_prune",
    "docs_scrub_dup_spans",
    "docs_source_overlap",
    "q18_join_agg",
    "q58_shipping_priority",
    "q59_local_supplier_volume",
    "q63_promo_share",
    "q66_avg_quantity_outliers",
    "q67_waiting_suppliers",
    "q68_sales_opportunity",
    "q69_top_supplier",
    "q70_nation_value_share",
    "q71_disjunctive_revenue",
    "q72_market_share",
    "text_fingerprint",
    "text_langid",
    "text_pii_scrub",
    "text_quality_filter",
    "text_repetition",
    "text_rolling_hash",
    "text_stats",
    "text_token_bpe",
    "text_token_freq",
    "text_url_domains",
]


def _prioritized(reg: dict) -> dict:
    head = {n: reg[n] for n in _DRIVER_PRIORITY if n in reg}
    return head | {n: v for n, v in reg.items() if n not in head}


def queries() -> dict[str, QueryFn]:
    return _prioritized(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _prioritized(ORACLE_SQL)
