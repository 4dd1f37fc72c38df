"""Connected components over a pair graph — dedup clustering.

Near-dup pair emitters (``operators.dedup``) produce edges; keeping
one document per duplicate CLUSTER requires the transitive closure of
those pairs.  Two Spark-native strategies (no GraphX/GraphFrames
dependency):

* **hash-min label propagation** (:func:`connected_components`) —
  ``label(v) ← min(label(v), min over neighbors' labels)`` iterated to
  fixpoint.  O(graph diameter) rounds; near-dup graphs are
  overwhelmingly tiny cliques/chains, so 3-5 rounds in practice.  Each
  round is one join + one groupBy (shuffle-bounded by edge count).
* **large-star/small-star contraction**
  (:func:`connected_components_star`) — the alternating edge-rewrite
  algorithm of Kiveris et al., "Connected Components in MapReduce and
  Beyond" (SoCC'14).  O(log n) rounds REGARDLESS of diameter, so it
  handles the adversarial long-chain graphs where hash-min would need
  a round per hop.  Per round: two groupBy-min + two joins.

``connected_components`` runs the cheap hash-min path and falls back
to star contraction automatically if the diameter exceeds its round
budget, so callers always converge.

Every round's state goes through ``iterutils.iter_checkpoint`` (the
reliable tier on a cluster with a checkpoint dir, localCheckpoint in
tests) so the next round and the convergence probe read materialized
blocks instead of re-running the whole chain, and superseded rounds
are ``release``-d once the probe no longer needs them.

At 100 TB: the per-round shuffle is by node id (well-distributed);
star contraction strictly shrinks the edge set toward one star per
component, so late rounds are cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutils import checkpoint_with_probe, iter_checkpoint, release


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: connect every neighbor LARGER than u to
    the minimum of u's closed neighborhood.  ``edges`` is an
    undirected pair list (u, v); output likewise, always (larger,
    smaller)."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge large→small, then
    connect each of u's smaller neighbors (and u itself) to the
    minimum neighbor."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    own = mins.select("u", F.col("m").alias("v"))
    return nbr.union(own).distinct()


def connected_components_star(
    edges: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
) -> DataFrame:
    """(node, component) via alternating large-star/small-star rounds.

    Converges in O(log n) rounds on ANY graph shape (Kiveris et al.
    SoCC'14, Theorem 4.1) — the path a 20-round hash-min budget cannot
    close is handled here.  Same output contract as
    :func:`connected_components`: component = min node id, isolated
    nodes absent.  Raises after 30 rounds without a fixpoint.
    """
    # the count that materializes the input IS the first round's
    # fixpoint reference (round 14: the eager checkpoint and the
    # first-round n_prev count were two separate actions)
    e, n_prev = checkpoint_with_probe(
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v")).filter(
            F.col("u") != F.col("v")
        ),
        lambda d: d.count(),
    )
    for _ in range(30):
        # the count that materializes the round IS the first half of
        # the fixpoint probe (checkpoint_with_probe, round 13), and
        # the previous round's count is carried forward instead of
        # re-counted — one action per round on the converging path
        new_e, n_new = checkpoint_with_probe(
            _small_star(_large_star(e)), lambda d: d.count()
        )
        # counts first (cheap) short-circuits exceptAll
        stable = (
            n_new == n_prev and new_e.exceptAll(e).limit(1).count() == 0
        )
        release(e)
        e = new_e
        n_prev = n_new
        if stable:
            break
    else:
        raise RuntimeError(
            "star contraction did not converge in 30 rounds — "
            "theoretical bound is O(log n)"
        )
    # at the fixpoint every edge is a star spoke (node, component-min);
    # roots appear only on the small side, so add their self-labels
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


#: quotient graphs at or below this edge count close DRIVER-SIDE (one
#: bounded collect + union-find + one Arrow-batch local table) instead
#: of paying O(log n) star rounds of ~7-9 driver round-trip jobs each
#: (round 14, guide §1.2: docs_semdedup's profile showed its wall was
#: ~65 sub-0.1 s jobs, almost all the quotient star loop).  The
#: quotient of a near-dup graph after the hash-min budget is already
#: contracted (one node per label group), so at sf0.1 it is a few
#: hundred edges; 2^16 edges ≈ a few MB collected — the same bounded
#: control-plane posture as similarity._collect_matrix.  Above the
#: bound the star path runs unchanged, so 100 TB graphs whose
#: quotient is still huge keep the O(log n) distributed guarantee.
QUOTIENT_LOCAL_MAX_EDGES = 1 << 16


def _union_find_components(rows) -> list[tuple]:
    """(node, component=min of component) for the collected edge list
    — exact min-label semantics, order-independent result."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve every node to its root's minimum (roots are minima by
    # the min-attach rule above)
    return sorted((n, find(n)) for n in parent)


def _changed_probe(d: DataFrame):
    """Full-scan convergence probe: rows whose label decreased this
    round.  A full aggregation (no ``limit``) so the probe action both
    materializes the lazy local checkpoint and returns the count —
    the :func:`~.iterutils.checkpoint_with_probe` contract."""
    return d.agg(F.count(F.when(F.col("changed"), True))).collect()[0][0]


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """(node, component): component = min node id reachable from node.

    ``edges(d1, d2)`` is undirected (each pair listed once in either order).
    Isolated nodes absent from ``edges`` are absent from the output —
    left-join the full node set afterwards if singleton clusters are
    needed.

    Runs hash-min propagation (cheapest per round) while the graph is
    shallow — the overwhelmingly common near-dup-clique case — but
    only for 3 rounds: hash-min moves the minimum
    ONE hop per round, so a long-diameter graph (semantic-embedding
    chains measured diameter 14 at sf0.1, round 13) would otherwise
    pay O(diameter) driver round-trips.  Past the budget the
    remaining work moves to the QUOTIENT graph (edges contracted
    through the current labels — already much smaller and shallower
    than the input): quotients within ``QUOTIENT_LOCAL_MAX_EDGES``
    close driver-side in one bounded collect + union-find (round 14 —
    the star loop's rounds were docs_semdedup's job storm), larger
    ones go to :func:`connected_components_star`, whose O(log n)
    rounds close any diameter; the label maps compose either way.

    The budget is 3 (round 13, measured across all seven CC
    consumers at sf0.1 with result hashes pinned equal): the common
    near-dup cliques/short chains converge within 3 rounds (every
    shallow consumer's job count was unchanged 6 → 3), while the deep
    graphs switch to the quotient earlier and win (docs_semdedup
    89 → 68 jobs, multimodal_dedup_clustered 74 → 69); a budget of 2
    under-contracts the quotient and regresses docs_semdedup to ~75.
    Round 0 needs no join at all: labels start as the identity, so
    the first neighbor-min is ``least(src, min(dst))`` straight off
    the edge list.
    """
    # checkpoint the symmetrized edge list ONCE: every propagation round
    # joins against it, and without this each round would re-execute the
    # whole upstream pair-generation pipeline (e.g. LSH candidate
    # emission) from scratch
    sym = iter_checkpoint(
        edges.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
            edges.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
        )
    )
    # round 0 collapses algebraically (round 13): every label is still
    # its own node id, so neighbor-min is min(dst) per src — one
    # groupBy over the checkpointed edges, no nodes table, no join.
    # sym is symmetric, so groupBy(src) covers every non-isolated node.
    ckpt, changed = checkpoint_with_probe(
        sym.groupBy("src")
        .agg(F.min("dst").alias("nb"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "nb").alias("label"),
            (F.col("nb") < F.col("src")).alias("changed"),
        ),
        _changed_probe,
    )
    labels = ckpt.select("node", "label")
    rounds = 1
    while changed and rounds < min(3, max_iter):
        # one round = one join + one groupBy (round 13): neighbor
        # labels and own labels meet in a single aggregation (the
        # union adds no exchange), the old label rides the same agg so
        # ``changed`` needs no second join, and the probe aggregation
        # is the SAME action that materializes the round
        # (checkpoint_with_probe) — one driver round-trip per round
        contrib = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"), "label", F.lit(False).alias("own")
        )
        new_ckpt, changed = checkpoint_with_probe(
            labels.withColumn("own", F.lit(True))
            .unionByName(contrib)
            .groupBy("node")
            .agg(
                F.min("label").alias("cand"),
                F.min(F.when(F.col("own"), F.col("label"))).alias("old"),
            )
            .select(
                "node",
                F.col("cand").alias("label"),
                (F.col("cand") < F.col("old")).alias("changed"),
            ),
            _changed_probe,
        )
        release(ckpt)  # release the materialized round, not a projection
        ckpt = new_ckpt
        labels = new_ckpt.select("node", "label")
        rounds += 1
    if changed:
        # diameter exceeds the hash-min budget: contract the progress
        # so far into the quotient graph and close it with the
        # O(log n) star path.  Each label-group is one quotient node
        # (named by its label, which is a real node id), so the star
        # result's min-id components ARE the true component minima and
        # final(v) = star_component(label(v)).  Star eagerly
        # checkpoints its input, so qcomp does not pin sym's lineage.
        lu = labels.select(F.col("node").alias("qu"), F.col("label").alias("lu"))
        lv = labels.select(F.col("node").alias("qv"), F.col("label").alias("lv"))
        q_edges = (
            sym.join(lu, sym.src == lu.qu)
            .join(lv, sym.dst == lv.qv)
            .select(F.col("lu").alias("qa"), F.col("lv").alias("qb"))
            .filter(F.col("qa") != F.col("qb"))
            .distinct()
        )
        # bounded driver-side closure first (round 14): ONE CollectLimit
        # job + a local Arrow table replace the star loop's dozens of
        # driver round-trips whenever the contracted quotient is small
        # (the overwhelmingly common case — contraction already
        # collapsed every ≤budget-radius neighborhood).  The limit is
        # the loud-overflow sentinel (_collect_matrix pattern): one row
        # past the bound falls back to the distributed star path.
        from .iterutils import local_df

        head = q_edges.limit(QUOTIENT_LOCAL_MAX_EDGES + 1).collect()
        if len(head) <= QUOTIENT_LOCAL_MAX_EDGES:
            from pyspark.sql.types import StructField, StructType

            dt = q_edges.schema[0].dataType
            qcomp = local_df(
                q_edges.sparkSession,
                _union_find_components(head),
                StructType(
                    [
                        StructField("node", dt),
                        StructField("component", dt),
                    ]
                ),
            )
        else:
            qcomp = connected_components_star(q_edges, "qa", "qb")
        release(sym)
        # fully-converged sub-components are all-self-loop in the
        # quotient and absent from qcomp — their label already IS the
        # component minimum (left join + coalesce)
        return labels.join(
            qcomp, labels.label == qcomp.node, "left"
        ).select(
            labels.node.alias("node"),
            F.coalesce("component", "label").alias("component"),
        )
    return labels.select("node", F.col("label").alias("component"))
