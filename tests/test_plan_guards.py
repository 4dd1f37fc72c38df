"""Plan-shape guards across EVERY declared query: no accidental
cartesian products or nested-loop joins may enter any plan (the
classic silent 100 TB killer when a join condition is dropped or a
non-equi predicate sneaks in)."""

from __future__ import annotations

import pytest

from etl_cpc_schema_spark import queries as Q

#: streaming queries execute a stream to produce their result; their
#: returned plan is a memory-sink scan, so there is nothing to guard.
_SKIP = tuple(
    n for n in Q.SPARK_QUERIES if n.startswith("stream_")
)

#: Round 5 moved IVF cell assignment to an Arrow/BLAS map pass, so the
#: one former documented exception (its bounded broadcast-NLJ centroid
#: scoring) no longer exists in ANY plan — the ban is now absolute.
BANNED = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.mark.parametrize(
    "name", sorted(n for n in Q.SPARK_QUERIES if n not in _SKIP)
)
def test_no_cartesian_or_nested_loop(spark, sf_dir, name):
    df = Q.SPARK_QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bad = [b for b in BANNED if b in plan]
    assert not bad, f"{name}: {bad} in physical plan"


# ---------------------------------------------------------------------------
# Forced-broadcast guard: a F.broadcast() hint on a corpus-growing side is
# an executor OOM at the 100 TB design point (the r5 verdict's one
# anti-pattern class, q18/q58/q59).  This guard makes the class
# unrepresentable: no registry query may place a broadcast hint over a
# subtree that scans an unbounded table, unless the (query, reason) pair is
# explicitly allowlisted as a *bounded derivative* of that table.
# ---------------------------------------------------------------------------

#: signature column identifying each corpus-growing table's scan in the
#: analyzed plan (TPC-H facts + dims that scale with SF, plus the LLM
#: corpus tables).  nation/region/part-config style bounded dims are
#: deliberately absent — forcing those broadcasts is fine.
_UNBOUNDED_SIGS = {
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "l_linenumber",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "documents": "doc_id",
    "embeddings": "emb",
    "events": "event_id",
}

#: broadcast hints over subtrees that DERIVE from an unbounded table but
#: provably collapse to bounded cardinality before the hint.  Every entry
#: carries the bound; adding a new entry requires stating one.
_BOUNDED_DERIVATIVE_OK = {
    # benchmark shingle set: sized by the fixed eval benchmark, not corpus
    "docs_contamination": "benchmark shingles (fixed eval suite)",
    "docs_corpus_build": "benchmark shingles (fixed eval suite)",
    # per-group rate/offset tables: one row per source/lang/stream
    "docs_domain_mix": "keep-rate table, one row per source",
    "docs_temperature_sample": "rate table, one row per lang",
    "docs_pack_sequences": "bounds/offsets, one row per stream",
    # the modern composite inherits pack_sequences' per-stream bounds
    # broadcast (one row per lang after the groupBy)
    "docs_modern_corpus": "pack bounds/offsets, one row per stream",
    # per-event-type aggregate: one row per type
    "q34_udaf_geomean": "per-event_type aggregate",
    # SCD merge: the broadcast side is the INCREMENTAL BATCH (bounded by
    # the ingest batch contract), not the full dimension
    "q57_scd2_merge": "incremental batch keys (batch-size bounded)",
    # single global stats row attached via constant key
    "text_bm25_topk": "one global corpus-stats row",
    # uncorrelated scalar subqueries: the broadcast side is a ONE-ROW
    # global aggregate attached via _attach_scalar's constant key
    "q68_sales_opportunity": "one-row global (sum,count) aggregate",
    "q69_top_supplier": "one-row global max aggregate",
    "q70_nation_value_share": "one-row global sum aggregate",
    # hashed-feature log-ratio table: at most _DSIR_B=1024 rows (fixed
    # feature-space constant), regardless of corpus size
    "docs_dsir_weights": "bucket log-ratio table, <= 1024 rows (B fixed)",
    # uncorrelated scalar subquery via _attach_scalar
    "approx_heavy_hitters": "one-row global token-count aggregate",
}

#: allowlisted queries whose bounded broadcast side is a RAW frame
#: (no Aggregate in the subtree) bounded by contract rather than by an
#: aggregation — currently only the SCD incremental batch.  Every
#: other allowlisted query must still show an Aggregate/Deduplicate/
#: GlobalLimit inside each unbounded-derived hint subtree, so adding a
#: NEW raw F.broadcast(customer) to an already-allowlisted query still
#: fails the guard.
_RAW_BOUNDED_OK = {"q57_scd2_merge"}


def _broadcast_hint_subtrees(df):
    """toString() of every broadcast ResolvedHint subtree in the
    analyzed logical plan (py4j tree walk)."""
    out = []

    def walk(node):
        if (
            node.nodeName() == "ResolvedHint"
            and "broadcast" in node.toString().splitlines()[0].lower()
        ):
            out.append(node.toString())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().analyzed())
    return out


@pytest.mark.parametrize(
    "name", sorted(n for n in Q.SPARK_QUERIES if n not in _SKIP)
)
def test_no_forced_broadcast_of_unbounded_tables(spark, sf_dir, name):
    df = Q.SPARK_QUERIES[name](spark, sf_dir)
    for subtree in _broadcast_hint_subtrees(df):
        rel_lines = [l for l in subtree.splitlines() if "Relation" in l]
        hit = sorted(
            t
            for t, sig in _UNBOUNDED_SIGS.items()
            if any(sig in l for l in rel_lines)
        )
        if not hit:
            continue
        if name not in _BOUNDED_DERIVATIVE_OK:
            raise AssertionError(
                f"{name}: broadcast hint forced over unbounded table(s) "
                f"{hit} — at 100 TB this is an executor OOM.  Remove the "
                f"F.broadcast() and let AQE decide, or allowlist with a "
                f"stated cardinality bound."
            )
        bounded_shape = any(
            marker in subtree
            for marker in ("Aggregate", "Deduplicate", "GlobalLimit")
        )
        if not bounded_shape and name not in _RAW_BOUNDED_OK:
            raise AssertionError(
                f"{name}: allowlisted, but this broadcast-hint subtree over "
                f"{hit} has no Aggregate/Deduplicate/GlobalLimit — it looks "
                f"like a RAW unbounded frame, not the bounded derivative the "
                f"allowlist entry describes."
            )


# ---------------------------------------------------------------------------
# CPC job scan guard: one ``cli.run`` reads each of the release's four
# archives exactly once.  Counted on the physical plans of the frames the
# job acts on, with each cached relation's plan counted once (it runs
# once) and reused exchanges not at all.
# ---------------------------------------------------------------------------


def _walk_executed(spark, plan, seen_caches, visit):
    """Call ``visit`` on every physical node that runs when ``plan`` runs
    for the first time after the caches in ``seen_caches``."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _walk_executed(spark, plan.executedPlan(), seen_caches, visit)
        return
    if name.endswith("QueryStageExec"):
        _walk_executed(spark, plan.plan(), seen_caches, visit)
        return
    if name == "ReusedExchangeExec":
        return
    visit(plan)
    if name == "InMemoryTableScanExec":
        cache = plan.relation().cacheBuilder()
        key = spark._jvm.System.identityHashCode(cache)
        if key not in seen_caches:
            seen_caches.add(key)
            _walk_executed(spark, cache.cachedPlan(), seen_caches, visit)
    children = plan.children()
    for i in range(children.size()):
        _walk_executed(spark, children.apply(i), seen_caches, visit)


def test_cpc_run_scans_each_archive_once(spark, raw_zone):
    from etl_cpc_schema_spark import cli
    from etl_cpc_schema_spark.plans.cpc_pipeline import run_pipeline

    raw, v = raw_zone
    titles, symbol_list, validity, edges = cli.read_release(spark, str(raw), v)
    titles = titles.persist()  # as cli.run does
    final, bad = run_pipeline(titles, symbol_list, validity, edges, v, strict=False)
    try:
        scans: dict[str, int] = {}
        nodes: list[str] = []

        def visit(node):
            nodes.append(node.toString().splitlines()[0])
            if node.nodeName().startswith("Scan binaryFile"):
                archive = node.relation().location().rootPaths().head().getName()
                scans[archive] = scans.get(archive, 0) + 1

        seen: set[int] = set()
        for df in (bad, final):
            _walk_executed(spark, df._jdf.queryExecution().executedPlan(), seen, visit)
        assert scans == {
            f"{a}{v}.zip": 1
            for a in ("CPCTitleList", "CPCSymbolList", "CPCValidityFile", "CPCSchemeXML")
        }
        assert not [n for n in nodes if "monotonically_increasing_id" in n]

        # the sinks read the persisted titles: no scan outside the cache
        final_nodes: list[str] = []
        _walk_executed(
            spark,
            final._jdf.queryExecution().executedPlan(),
            set(seen),  # every cache already counted: stop at its scan
            lambda n: final_nodes.append(n.nodeName()),
        )
        assert "InMemoryTableScan" in final_nodes
        assert not [n for n in final_nodes if n.startswith("Scan binaryFile")]
    finally:
        bad.unpersist()
        titles.unpersist()
