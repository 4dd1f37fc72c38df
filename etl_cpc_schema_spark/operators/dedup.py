"""Deduplication operators for large-scale training-data pipelines.

Five families, each designed around Spark's shuffle model:

* **exact** — hash-groupBy on a normalized fingerprint (one shuffle,
  map-side partial agg).
* **n-gram Jaccard** — shingle → explode → self-equi-join on shingle →
  integer Jaccard filter.  The scale lever is ``max_doc_freq``:
  dropping shingles that occur in many documents (stopword shingles)
  bounds the join's per-key fan-out, which is what explodes at 100 TB.
* **MinHash + LSH** — fixed-size signature per doc (bounded state, no
  pairwise work), banded into buckets; only in-bucket pairs are
  compared.  Candidate generation cost is O(docs × bands), not O(docs²).
* **SimHash** — constant-size fingerprint per doc; near-dup = small
  Hamming distance, found by pivoting on fingerprint bands.
* **embedding cosine** — quantized-integer cosine (deterministic, see
  functions.vectors); brute-force for small sides, LSH-bucketed via
  operators.similarity for scale.

All expression work is JVM-side (higher-order functions); no Python
UDFs anywhere in this module.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .iterutils import iter_checkpoint, local_df, run_concurrent

from ..functions import hashing as H
from ..functions import text as TX
from ..session import shuffle_width


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Group by normalized fingerprint; keep the lowest id per group.

    Returns (keep_id, n_copies, text_hash).  One shuffle on the
    fingerprint; partial aggregation runs map-side.
    """
    return (
        docs.select(
            F.col("doc_id"), TX.fingerprint(F.col("text")).alias("text_hash")
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_id", "n_copies", "text_hash")
    )


def _gram_pass(id_col: str, text_col: str, n: int, distinct: bool, mapping):
    """Closure factory for the Arrow tokenize+n-gram passes
    (shingle_table and span_table differ only in dedup-vs-keep and
    output column names).

    ONE copy of the tokenization contract lives here — it must stay
    bit-identical to ``TX.tokens`` (pinned by the hypothesis parity
    tests).  The factory returns a SELF-CONTAINED closure (stdlib
    imports inside, plain-value captures only): Spark pickles
    module-level functions by reference and executors don't inherit
    driver sys.path, so the closure must not call back into this
    module.  ``mapping`` is ((out_col, source), ...) where source is
    one of ids/grams/cnt, in declared-schema order.
    """

    def gen(batches):
        import re

        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        for pdf in batches:
            ids, gs, cnt = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((txt or "").strip(" ")) if t]
                m = len(toks) - (n - 1)
                if m <= 0:
                    continue
                g = [" ".join(toks[i : i + n]) for i in range(m)]
                if distinct:
                    # distinct keeps first occurrence, like array_distinct
                    g = list(dict.fromkeys(g))
                ids.append(did)
                gs.append(g)
                cnt.append(len(g))
            if ids:
                # an all-filtered batch must yield NOTHING: an empty
                # pandas frame types the gram column as numpy float64,
                # which Arrow cannot convert to list<string> (found by
                # the hypothesis parity test on whitespace-only corpora)
                data = {"ids": ids, "grams": gs, "cnt": cnt}
                yield pd.DataFrame({name: data[src] for name, src in mapping})

    return gen


def shingle_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    r"""(doc_id, shingles array, n_sh) with empty docs dropped.

    Arrow-batched map pass rather than the ``TX.word_shingles``
    higher-order-function chain: HOF lambdas are interpreted per
    element (outside whole-stage codegen), and at 50k docs the
    expression chain measured 4.6-12 s where this pass measures
    ~1.9 s.  Map-only either way — the corpus is never shuffled —
    so the 100 TB shape is identical and the constant factor is
    ~2.5× better.  Tokenization replicates the engine's ``tokens()``
    semantics exactly: strip ASCII spaces, split on ASCII ``\s+``
    (``re.ASCII`` — Java's ``\s`` class), drop empties; distinct
    keeps first occurrence like ``array_distinct``.  Pinned against
    the SQL oracle by the dedup family's oracle sweep and the
    adversarial edge-docs suite.
    """
    out_schema = "doc_id long, shingles array<string>, n_sh int"
    gen = _gram_pass(
        id_col,
        text_col,
        n,
        distinct=True,
        mapping=(("doc_id", "ids"), ("shingles", "grams"), ("n_sh", "cnt")),
    )
    # NOT fanned out (round 13, measured): the per-row tokenize+hash
    # here is too light for a repartition to pay for itself — an
    # interleaved A/B read the fanned save_dedup_index ~20% SLOWER
    # (extra exchange + 32 task commits per table write); contrast the
    # multimodal fingerprint passes, where per-row work is heavy and
    # fan_out wins big
    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def span_table(docs: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, n_spans, grams) with ALL positional n-grams — duplicates
    KEPT, order preserved (each occurrence is a span) — for
    substring-level duplication analysis.  Docs with fewer than ``n``
    tokens are dropped (zero spans).

    Same Arrow-batched map pass as :func:`shingle_table` and for the
    same reason: the n=8 zip_with chain evaluates interpreted HOF
    lambdas with the tokenization subtree duplicated per shift — it
    measured ~12 s at sf0.1 in the headline bench where this pass is
    sub-second.  Map-only; the corpus is never shuffled here.
    """
    out_schema = "doc_id long, n_spans int, grams array<string>"
    gen = _gram_pass(
        "doc_id",
        "text",
        n,
        distinct=False,
        mapping=(("doc_id", "ids"), ("n_spans", "cnt"), ("grams", "grams")),
    )
    return docs.select("doc_id", "text").mapInPandas(gen, out_schema)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate pairs with exact shingle-set overlap counts.

    Returns (d1, d2, shared, n1, n2); Jaccard = shared/(n1+n2-shared)
    can then be thresholded with *integer* arithmetic (deterministic).

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents before the self-join — at web scale a handful of
    boilerplate shingles would otherwise dominate the join fan-out.
    """
    sh = shingle_table(docs, n=n)
    # join on a 64-bit shingle hash, not the shingle string: the
    # self-join shuffles far fewer bytes and hash-compares instead of
    # string-compares.  xxhash64 collisions across ~10^6 distinct
    # shingles are ~1e-7-probability noise.
    ex = sh.select(
        "doc_id", "n_sh", F.explode("shingles").alias("sh_str")
    ).select("doc_id", "n_sh", F.xxhash64("sh_str").alias("s"))
    # Pin the pair-explosion stage's parallelism (round 14, guide
    # §2.5): everything downstream of the shuffle on ``s`` — the
    # doc-frequency window, the bucket collect, and the QUADRATIC
    # in-bucket pair emit — runs in one stage whose partition count
    # AQE coalesces by the shuffle's INPUT bytes.  This stage is
    # small-input/large-compute (sf0.1: 3.5 MB in → 20.9 MB of pairs
    # out), so AQE squeezed it onto 3 of 32 cores.  An explicit
    # repartition-by-number on the SAME key replaces the implicit
    # exchange (the window and groupBy both reuse it — exchange count
    # unchanged, asserted in plans/r14) with one AQE will not
    # coalesce, sized by the session's shuffle-partition setting —
    # the same conf a cluster deployment already tunes, not a local
    # constant.
    ex = ex.repartition(shuffle_width(docs.sparkSession), "s")
    if max_doc_freq is not None:
        # Doc frequency == rows per shingle hash (shingles are distinct
        # per doc).  A window count over the same key the pair-emit
        # groups on adds NO extra shuffle (the exchange is reused) and
        # WindowExec spills, so a pathological shingle is filtered out
        # BEFORE any collect_list buffer could swallow it.
        from pyspark.sql.window import Window

        w = Window.partitionBy("s")
        ex = (
            ex.withColumn("df", F.count("*").over(w))
            .filter(F.col("df") <= max_doc_freq)
            .drop("df")
        )
    # per-shingle buckets → emit pairs → count shared shingles per pair
    return (
        _bucket_pairs(ex, "s", carry_col="n_sh", carry_names=("n1", "n2"))
        .groupBy("d1", "d2")
        .agg(
            F.count("*").alias("shared"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )


def _bucket_pairs(
    ex: DataFrame,
    bucket_col: str,
    carry_col: str | None = None,
    carry_names: tuple[str, str] = ("n1", "n2"),
) -> DataFrame:
    """(bucket, member…) rows → ordered candidate pairs per bucket.

    groupBy(bucket) + collect members + emit all i<j pairs from each
    bucket — ONE shuffle and one computation of the upstream pipeline,
    versus the naive self-join which scans and recomputes the input
    twice and (under size-estimate broadcast) ships a whole fact-side
    intermediate to every task.  Member lists are bounded by design
    (shingle doc-frequency caps / LSH band buckets), so the quadratic
    emit per bucket is bounded too.

    ``carry_col``: members carry that column, emitted per pair under
    ``carry_names`` (d1's value first); otherwise pairs are (d1, d2).
    """
    if carry_col is not None:
        member = F.struct(F.col("doc_id").alias("d"), F.col(carry_col).alias("n"))
    else:
        member = F.struct(F.col("doc_id").alias("d"))
    grouped = (
        ex.groupBy(bucket_col)
        .agg(F.collect_list(member).alias("ms"))
        .filter(F.size("ms") > 1)
    )

    def pair(x, y):
        first = x["d"] < y["d"]
        fields = [
            F.when(first, x["d"]).otherwise(y["d"]).alias("d1"),
            F.when(first, y["d"]).otherwise(x["d"]).alias("d2"),
        ]
        if carry_col is not None:
            fields += [
                F.when(first, x["n"]).otherwise(y["n"]).alias(carry_names[0]),
                F.when(first, y["n"]).otherwise(x["n"]).alias(carry_names[1]),
            ]
        return F.struct(*fields)

    # binary lambda on transform intentionally receives (element, index)
    pairs_expr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))), lambda y: pair(x, y)
            ),
        )
    )
    return grouped.select(F.explode(pairs_expr).alias("p")).select("p.*")


def jaccard_at_least(shared: Column, n1: Column, n2: Column, num: int, den: int) -> Column:
    """Integer-exact predicate: shared/(n1+n2-shared) >= num/den."""
    return shared * den >= num * (n1 + n2 - shared)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash signatures + LSH banding.

    Returns distinct (d1, d2) that collide on at least one band.

    Shaped for codegen, not for elegance: shingles are hashed ONCE
    (explode → one md5 per shingle), and the ``num_hashes`` minhashes
    come from a single whole-stage-codegen'd ``groupBy(doc).agg(min(
    (a_i·h0+b_i) mod P))`` — the classic affine MinHash family —
    instead of N interpreted higher-order-function passes over the
    shingle array.  Per doc the state is ``num_hashes`` longs; the only
    shuffles are one agg on doc_id and the band-key self-join whose
    keys are already well-distributed hashes.
    """
    # bands/num_hashes validation lives in minhash_band_keys — the
    # shared entry point both this wrapper and the index builder use
    sh = shingles if shingles is not None else shingle_table(docs, n=n)
    banded = minhash_band_keys(sh, num_hashes, bands)
    # NOT pinned to the shuffle-partition count (round 14, measured
    # and reverted): unlike ngram_jaccard_pairs' pair explosion
    # (3.5 MB → 20.9 MB quadratic emit), the banded bucket stage here
    # is LIGHT (~0.6 executor-seconds at sf0.1) — a REPARTITION_BY_NUM
    # pin on bk read 10-45% SLOWER across dedup_minhash_lsh /
    # dedup_lsh_jaccard / dedup_components on interleaved quiet arms
    # (ISOLATES_r14.jsonl minhash_pin_*): 32-task scheduling overhead
    # plus 32-partition downstream reads exceed the work being spread.
    # AQE's input-byte coalescing is the right call for this stage.
    return _bucket_pairs(banded, "bk").distinct()


def minhash_band_keys(
    sh: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, bk) band keys of a shingle table — the SHARED signature
    expression of the in-session pair generator
    (:func:`minhash_lsh_pairs`) and the persisted index
    (:func:`save_dedup_index`), so an index probe collides exactly the
    pairs the one-shot path would.  One agg shuffle on doc_id; the
    ``num_hashes`` affine minhashes evaluate in whole-stage codegen."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got {num_hashes=}, {bands=}); "
            "bands > num_hashes would make every band key a "
            "document-independent constant and bucket the whole corpus "
            "together"
        )
    rows_per_band = num_hashes // bands
    params = H.minhash_affine_params(num_hashes)
    ex = sh.select(
        "doc_id", F.explode("shingles").alias("s")
    ).select(
        "doc_id", (H.portable_hash64(F.col("s"), seed="mh") % H.MINHASH_MOD).alias("h0")
    )
    sig = ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h0") + F.lit(b)) % H.MINHASH_MOD).alias(f"m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    band_exprs = [
        F.md5(
            F.concat_ws(
                ",",
                F.lit(str(b)),
                *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        )
        for b in range(bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_exprs)).alias("bk"))


def lsh_verified_jaccard_pairs(docs: DataFrame, n: int = 3) -> DataFrame:
    """The 100 TB near-dup path: MinHash-LSH candidates, then EXACT
    shingle-overlap verification on candidates only.

    All-pairs Jaccard (``ngram_jaccard_pairs``) is inherently quadratic
    in the worst case; this composition is O(docs × bands) candidate
    generation (16 minhashes in 4 bands) plus exact verification
    proportional to the (tiny) candidate set.  Returns (d1, d2, shared,
    n1, n2) for candidate pairs — threshold with ``jaccard_at_least``
    exactly as with the brute-force operator.
    """
    # ONE shingle table serves candidate generation AND verification —
    # the lazy checkpoint materializes it on first action, and the
    # second consumer reads stored blocks instead of re-running the
    # tokenize/shingle expression chain over the whole corpus
    sh = iter_checkpoint(shingle_table(docs, n=n), eager=False)
    candidates = minhash_lsh_pairs(docs, n, 16, 4, shingles=sh)
    ex = sh.select(
        "doc_id", "n_sh", F.explode("shingles").alias("sh_str")
    ).select("doc_id", "n_sh", F.xxhash64("sh_str").alias("s"))
    a = ex.select(
        F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"), "s"
    )
    b = ex.select(
        F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"), "s"
    )
    return (
        candidates.join(a, "d1")
        .join(b, ["d2", "s"])  # shared shingles of candidate pairs only
        .groupBy("d1", "d2")
        .agg(
            F.count("*").alias("shared"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )


def _index_frames(
    docs: DataFrame,
    n: int,
    num_hashes: int,
    bands: int,
) -> dict[str, DataFrame]:
    """The three dedup-index data frames for a doc set.  Fingerprints
    are DOC-KEYED (doc_id, fp) — one row per doc, not a bare value
    set — so a tombstoned doc's fingerprint row can be dropped at
    probe/compaction time exactly as a rebuild-without-it would
    (round-10 deletion support); probes project to ``fp`` and
    ``distinct`` it, so collision semantics are unchanged."""
    fps = docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))
    sh = iter_checkpoint(shingle_table(docs, n=n), eager=False)
    return {
        "fingerprints": fps,
        "bands": minhash_band_keys(sh, num_hashes, bands),
        "shingles": sh.select(
            "doc_id", "n_sh", F.explode("shingles").alias("sh_str")
        ).select("doc_id", "n_sh", F.xxhash64("sh_str").alias("s")),
    }


def _write_index_tables(
    docs: DataFrame,
    path: str,
    mode: str,
    n: int,
    num_hashes: int,
    bands: int,
    batch_key: str | None = None,
    frames: dict[str, DataFrame] | None = None,
) -> None:
    """Write the three dedup-index data tables for a doc set — the
    shared kernel of :func:`save_dedup_index` (overwrite) and
    :func:`append_to_dedup_index` (append / staged delta).

    With ``batch_key`` the rows are staged as a committed delta
    (index_store.write_delta — marker last, replay rolls back and
    rewrites), the streaming-sink path that closes the at-least-once
    append window.  Otherwise the fingerprint job is INDEPENDENT of
    the shingle pipeline (bands and shingles share one
    lazily-checkpointed shingle table; fingerprints never touch it),
    so the two run through ``run_concurrent`` and the fingerprint job
    overlaps the signing chain — the same overlap ivfpq_topk applies
    to its two training chains.  The two write DIFFERENT table
    directories, so there is no write-path overlap to race on, and
    both failures surface.  A failed DIRECT append leaves partial
    table files and requires re-running the same batch or a
    compaction — one more reason the staged path is the default for
    unattended writers.

    Legacy compatibility: appends MATCH the base fingerprint schema —
    an index saved before round 10 holds bare-``fp`` fingerprints,
    and writing doc-keyed rows next to them (direct append) or into
    a delta unioned with them (staged) would hand the reader a
    mixed-schema table; such appends project to the legacy shape
    instead (probes only ever read ``fp``, so answers are identical —
    only deletion support is absent, and remove refuses loudly on
    those indexes anyway).

    ``frames`` (round 14) short-circuits :func:`_index_frames` with
    caller-computed frames — the probe-then-append serving loop hands
    in the keeper-filtered frames of :func:`incremental_dedup_probe`,
    whose shared shingle table its barrier write already materialized,
    so the append reuses the shingle/minhash work; the fingerprint
    pass still re-runs from raw text.  The caller guarantees the frames
    evaluate the ``_index_frames`` expressions over exactly the rows
    being appended; because their shared upstream is materialized the
    three writes need no serial grouping."""
    from . import index_store as IS

    precomputed = frames is not None
    if precomputed:
        frames = dict(frames)  # the legacy-fp projection below must
        # not mutate the caller's dict
    else:
        frames = _index_frames(docs, n, num_hashes, bands)
    if mode == "append":
        base_fp = docs.sparkSession.read.parquet(
            IS.table_path(path, "fingerprints")
        )
        if "doc_id" not in base_fp.schema.fieldNames():
            frames["fingerprints"] = (
                frames["fingerprints"].select("fp").distinct()
            )
    if batch_key is not None:
        # bands and shingles share the lazily-checkpointed shingle
        # table — keep them serial within one group so a single first
        # action materializes it; fingerprints overlap from the other
        # group (the same structure as the direct-write path below).
        # Precomputed frames arrive with that upstream already
        # materialized (the probe barrier), so all three writes run
        # concurrently.
        IS.write_delta(
            path,
            batch_key,
            frames,
            serial_groups=None
            if precomputed
            else (("bands", "shingles"), ("fingerprints",)),
        )
        return

    root = IS.active_root(path)

    def _fingerprints() -> None:
        frames["fingerprints"].write.mode(mode).parquet(
            f"{root}/fingerprints.parquet"
        )

    def _signatures() -> None:
        frames["bands"].write.mode(mode).parquet(f"{root}/bands.parquet")
        frames["shingles"].write.mode(mode).parquet(f"{root}/shingles.parquet")

    run_concurrent(_fingerprints, _signatures)


def save_dedup_index(
    corpus: DataFrame,
    path: str,
    n: int = 3,
) -> None:
    """Persist the corpus-side dedup index as parquet — the
    sign-once-probe-daily artifact :func:`incremental_dedup_indexed`
    reads so an ingest run never re-signs the standing corpus (the
    promise docs_incremental_dedup's docstring makes; the ANN family's
    ``save_ivfpq_index`` pattern applied to MinHash).  Four tables
    under ``path``:

    * ``meta.parquet`` — (n, num_hashes=16, bands=4): the signature
      geometry; probes MUST band with the same family or collisions
      are meaningless, so the probe side reads its parameters from
      here rather than trusting the caller.
    * ``fingerprints.parquet`` — (doc_id, fp) normalized text
      fingerprints, DOC-KEYED so deletions can drop a doc's row
      (probes project to ``fp`` and distinct it — the exact-dup
      layer's collision semantics are value-set, unchanged).
    * ``bands.parquet`` — (doc_id, bk) MinHash band keys
      (:func:`minhash_band_keys` — the same expressions the one-shot
      path evaluates, so index probes collide bit-identical pairs).
    * ``shingles.parquet`` — (doc_id, n_sh, s) exploded 64-bit shingle
      hashes for exact-Jaccard verification of crossing candidates.

    Scale shape: every table is written distributed; ``shingles`` is
    the big one (one row per doc×shingle — linear in corpus token
    count, heavily RLE-compressed) and is only ever JOINED on
    (doc_id, s), never collected.  Incremental upserts append new
    docs' rows to bands/shingles/fingerprints with the SAME meta.
    All signature work runs in ONE pass over the corpus (the shingle
    table is lazily checkpointed and feeds all three tables).
    """
    from . import index_store as IS

    spark = corpus.sparkSession
    # a save is a writer like any other (round 11: the lease covers
    # EVERY mutating entry point, not just the store functions — a
    # save racing a maintenance job used to corrupt silently)
    with IS.writer_lock(path):
        # a fresh save owns the whole dir: clear any store state a
        # prior lifecycle left behind (a stale generation pointer
        # would shadow the flat tables written below)
        IS.reset(path)
        local_df(
            spark, [(n, 16, 4)], "n int, num_hashes int, bands int"
        ).write.mode("overwrite").parquet(f"{path}/meta.parquet")
        _write_index_tables(corpus, path, "overwrite", n, 16, 4)


def append_to_dedup_index(
    new_docs: DataFrame,
    path: str,
    batch_key: str | None = None,
    frames: dict[str, DataFrame] | None = None,
    meta: dict | None = None,
) -> None:
    """Upsert an accepted arrival batch into a persisted dedup index —
    the second half of the daily-ingest lifecycle: after
    :func:`incremental_dedup_indexed` decides which arrivals to keep,
    the keepers are signed ONCE and appended, so tomorrow's batch
    probes today's corpus without any re-signing.  Geometry comes from
    the index's own ``meta.parquet`` (never from the caller — mixed
    band families in one index would silently miss collisions).

    Appends are parquet ``mode("append")`` on all three data tables —
    new files only, no rewrite of existing data, safe on object
    storage.  The fingerprint table tolerates duplicate VALUES (the
    probe distincts it), so no dedup-merge pass is needed at append
    time; the caller's contract is that ``new_docs`` carries doc ids
    NOT already in the index (the natural upsert semantics — an id
    appended twice would double its shingle rows and inflate that
    doc's shared counts).

    With ``batch_key`` the batch is staged as a committed delta
    instead (index_store.write_delta — marker written last, a replay
    rolls back and rewrites), which closes the at-least-once window
    of the raw append; the streaming sink uses this path with the
    micro-batch id as the key.

    Test-pinned equivalence: append(corpus_b) onto index(corpus_a) ==
    save(corpus_a ∪ corpus_b), probe-for-probe.

    Serving-loop short-circuits (round 14, guide §1.2): ``meta`` — a
    ``{'n','num_hashes','bands'}`` mapping, e.g. a
    :func:`load_dedup_index` handle — skips the per-call meta-row
    collect (geometry is frozen for an index's lifetime); ``frames``
    hands in the probe's already-computed index frames for exactly
    the rows of ``new_docs`` (see :func:`incremental_dedup_probe`),
    so the append reuses the probe's shingle/minhash work (the
    fingerprint pass still re-runs from raw text).
    """
    from . import index_store as IS

    spark = new_docs.sparkSession
    # held across meta-read AND write: a compaction swapping the
    # pointer in between would strand the rows in a swept generation
    # (the staged path's write_delta re-acquires re-entrantly)
    with IS.writer_lock(path):
        if meta is None:
            meta = spark.read.parquet(
                os.path.join(IS.active_root(path), "meta.parquet")
            ).collect()[0]
        n, num_hashes, bands = meta["n"], meta["num_hashes"], meta["bands"]
        _write_index_tables(new_docs, path, "append", n, num_hashes,
                            bands, batch_key=batch_key, frames=frames)


def remove_from_dedup_index(doc_ids: DataFrame, path: str) -> None:
    """Delete documents from a persisted dedup index (takedown /
    corpus re-filter) WITHOUT a rebuild: the ids land in the index's
    tombstone table and every probe anti-joins them out of the
    fingerprint/band/shingle scans; :func:`compact_dedup_index`
    physically drops the rows and clears the tombstones.  Requires
    the doc-keyed fingerprint schema (round-10 saves) — a legacy
    bare-value fingerprint table cannot attribute a fingerprint to a
    doc, so deletion on such an index raises with the fix (re-save)
    rather than silently leaving the exact-dup layer stale.
    Probe-after-delete equals a rebuild without the deleted docs,
    test-pinned (tests/test_dedup_similarity.py)."""
    from . import index_store as IS

    spark = doc_ids.sparkSession
    fp_schema = spark.read.parquet(
        IS.table_path(path, "fingerprints")
    ).schema.fieldNames()
    if "doc_id" not in fp_schema:
        raise ValueError(
            f"remove_from_dedup_index: the index at {path!r} predates "
            "doc-keyed fingerprints — its exact-dup layer cannot drop "
            "a deleted doc's fingerprint; re-save the index to enable "
            "deletions"
        )
    IS.append_tombstones(
        doc_ids.select(F.col("doc_id").cast("long").alias("doc_id")), path
    )


def compact_dedup_index(spark, path: str) -> dict[str, int]:
    """Maintenance job for the append-only dedup index: fold the
    three data tables (base files + committed deltas, minus
    tombstoned docs) back to one file each under the SAME
    ``meta.parquet`` — after N daily appends each table holds O(N)
    small parquet files and every probe pays N file opens plus an
    anti-join per accumulated tombstone set; compaction collapses
    both costs.  Band keys and shingles are rewritten verbatim
    beyond the tombstone drop — the append contract (new doc ids
    only) means they carry no duplicate rows to collapse.  A legacy
    bare-value fingerprint table is additionally ``distinct``-ed
    (old-style appends could re-add a value; doc-keyed tables cannot).

    Crash-safety is GENERATIONAL (index_store.promote_generation —
    the round-10 replacement for the per-table stage-then-swap, whose
    recovery could misread a partially deleted live dir, round-9
    ADVICE): the folded tables land in a complete new ``gen_N`` dir,
    the ``current`` pointer file is atomically replaced, and only
    then is anything stale swept — so a crash at ANY point leaves
    either the old or the new generation fully live, and the swap
    covers all three tables AT ONCE (no window where codes-style
    sibling tables disagree).  Returns ``{table: row_count}``.

    Probe-for-probe equality before/after compaction is test-pinned
    (tests/test_dedup_similarity.py).
    """
    from . import index_store as IS

    # the lease spans the WHOLE fold, not just the promote: read_table
    # resolves its file list here, and a delta committed between this
    # listing and the pointer swap would be folded-out AND swept —
    # silent data loss.  With the lock held end-to-end, a concurrent
    # appender fails loudly instead (promote re-acquires re-entrantly).
    with IS.writer_lock(path):
        tomb = IS.tombstones(spark, path)
        frames: dict[str, DataFrame] = {}
        for table in ("fingerprints", "bands", "shingles"):
            df = IS.read_table(spark, path, table)
            if "doc_id" in df.columns:
                if tomb is not None:
                    df = df.join(tomb, "doc_id", "left_anti")
            else:
                df = df.distinct()
            frames[table] = df
        return IS.promote_generation(
            spark, path, frames, control_tables=("meta",)
        )


def load_dedup_index(spark, path: str, meta: dict | None = None) -> dict:
    """Lazy handles on a persisted dedup index (:func:`save_dedup_index`):
    ``{'n', 'num_hashes', 'bands': int, 'fingerprints', 'band_keys',
    'shingles': DataFrame}``.  Only ``meta`` is collected (one row);
    the three data tables stay distributed scans with the full store
    semantics applied — base ∪ committed deltas, minus tombstoned
    docs — so every probe sees staged appends and deletions
    identically.  ``fingerprints`` is normalized to its ``fp`` column
    (doc-keyed and legacy bare-value tables load the same way).

    ``meta`` (a ``{'n', 'num_hashes', 'bands'}`` mapping, e.g. a
    previous load's result) skips the one-row collect for serving
    loops that re-load the SAME index every micro-batch — the
    shingle/band geometry is frozen for an index's lifetime exactly
    like the IVFPQ centroids, while the data handles built here are
    fresh scans either way (staged appends stay visible)."""
    from . import index_store as IS

    if meta is None:
        meta = spark.read.parquet(
            os.path.join(IS.active_root(path), "meta.parquet")
        ).collect()[0]
    tomb = IS.tombstones(spark, path)

    def _data(table: str) -> DataFrame:
        df = IS.read_table(spark, path, table)
        if tomb is not None and "doc_id" in df.columns:
            df = df.join(tomb, "doc_id", "left_anti")
        return df

    return {
        "n": meta["n"],
        "num_hashes": meta["num_hashes"],
        "bands": meta["bands"],
        "fingerprints": _data("fingerprints").select("fp"),
        "band_keys": _data("bands"),
        "shingles": _data("shingles"),
    }


def incremental_dedup_indexed(
    arrivals: DataFrame,
    index: dict,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Dedup an arrival batch against a LOADED corpus index — the
    daily-ingest hot path: the corpus is never re-tokenized, re-hashed,
    or re-signed; probe volume is arrivals × bands × bucket occupancy,
    independent of corpus size beyond the (pre-built) index scans.

    Returns (doc_id, exact_dup, n_near, keep) per arrival doc —
    bit-identical to running the one-shot crossing-pairs formulation
    over corpus ∪ arrivals (test-pinned roundtrip), because the probe
    side evaluates the SAME fingerprint / shingle-hash / band-key
    expressions the index was built with (:func:`minhash_band_keys`),
    and a crossing pair collides on a band key in one formulation iff
    it does in the other.

    Scale shape: exact layer is one equi-join against the fingerprint
    table; candidate generation is one equi-join of arrival band keys
    against the band index; verification joins are candidate-sized.
    Arrival-vs-arrival duplicates are out of scope by contract (run
    ``docs_dedup_clustered`` on the batch alone).
    """
    return incremental_dedup_probe(arrivals, index, num, den)[0]


def incremental_dedup_probe(
    arrivals: DataFrame,
    index: dict,
    num: int = 4,
    den: int = 5,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """(decision, arrival_frames): the :func:`incremental_dedup_indexed`
    decision frame PLUS the arrival batch's three index frames
    (fingerprints / bands / shingles — the :func:`_index_frames`
    shapes), all hanging off ONE lazily-checkpointed shingle table
    (round 14, guide §1.2 — fewer passes).

    The probe-then-append serving loop previously paid the arrival
    tokenize + minhash work twice per batch: once in the probe, then
    again when ``append_to_dedup_index`` re-signed the keepers from
    raw text.  A sink that materializes the decision frame (its
    decide-before-mutate barrier write) can instead semi-join these
    frames down to the keepers and hand them to
    ``append_to_dedup_index(frames=...)`` — the barrier action
    materialized the shared shingle checkpoint, so the bands and
    shingles writes are filters over cached blocks, not a second
    signing pass; the fingerprint frame is not checkpointed, so its
    pass re-runs from raw text.  The frames evaluate the SAME
    expressions ``_index_frames`` builds (test-pinned), so the
    appended rows are bit-identical to the re-signing path.
    """
    fp = TX.fingerprint(F.col("text"))
    arr_fp = arrivals.select("doc_id", fp.alias("fp"))
    # distinct: appended batches (append_to_dedup_index) may re-add a
    # fingerprint that already exists — a duplicate row on the build
    # side of this left join would duplicate the arrival row
    hits = index["fingerprints"].distinct().withColumn("hit", F.lit(True))

    sh = iter_checkpoint(
        shingle_table(arrivals, n=index["n"]), eager=False
    )
    arr_bands = minhash_band_keys(sh, index["num_hashes"], index["bands"])
    candidates = (
        arr_bands.select(F.col("doc_id").alias("a_id"), "bk")
        .join(
            index["band_keys"].select(F.col("doc_id").alias("c_id"), "bk"),
            "bk",
        )
        .select("a_id", "c_id")
        .distinct()
    )
    arr_ex = sh.select(
        "doc_id", "n_sh", F.explode("shingles").alias("sh_str")
    ).select(
        F.col("doc_id").alias("a_id"),
        F.col("n_sh").alias("n_a"),
        F.xxhash64("sh_str").alias("s"),
    )
    cor_ex = index["shingles"].select(
        F.col("doc_id").alias("c_id"), F.col("n_sh").alias("n_c"), "s"
    )
    near = (
        candidates.join(arr_ex, "a_id")
        .join(cor_ex, ["c_id", "s"])  # shared shingles, candidates only
        .groupBy("a_id", "c_id")
        .agg(
            F.count("*").alias("shared"),
            F.max("n_a").alias("n_a"),
            F.max("n_c").alias("n_c"),
        )
        .filter(
            jaccard_at_least(F.col("shared"), F.col("n_a"), F.col("n_c"), num, den)
        )
        .groupBy(F.col("a_id").alias("doc_id"))
        .agg(F.count("*").alias("n_near"))
    )
    exact = F.coalesce(F.col("hit"), F.lit(False))
    n_near = F.coalesce(F.col("n_near"), F.lit(0)).cast("bigint")
    decision = (
        arr_fp.join(hits, "fp", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            exact.alias("exact_dup"),
            n_near.alias("n_near"),
            (~exact & (n_near == 0)).alias("keep"),
        )
    )
    frames = {
        "fingerprints": arr_fp,
        "bands": arr_bands,
        "shingles": sh.select(
            "doc_id", "n_sh", F.explode("shingles").alias("sh_str")
        ).select("doc_id", "n_sh", F.xxhash64("sh_str").alias("s")),
    }
    return decision, frames


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """(doc_id, n_shared): corpus docs sharing n-gram shingles with a
    benchmark/eval set — the decontamination gate for training data.

    The benchmark's distinct shingle hashes are the broadcast build
    side (eval sets are tiny by definition); the corpus streams
    through one hash-equi-join, so the plan is scan → broadcast join →
    partial-agg groupBy.  ``n_shared`` counts the distinct contaminated
    shingles per corpus doc (shingles are distinct per doc already).
    """
    c = shingle_table(corpus, n=n).select(
        "doc_id", F.explode("shingles").alias("sh_str")
    ).select("doc_id", F.xxhash64("sh_str").alias("s"))
    b = (
        shingle_table(benchmark, n=n)
        .select(F.explode("shingles").alias("sh_str"))
        .select(F.xxhash64("sh_str").alias("s"))
        .distinct()
    )
    return (
        c.join(F.broadcast(b), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


#: bloom_contamination levers.  m = 2^16 bits (1024 int64 words — an
#: 8 KiB plan literal here; past BLOOM_LITERAL_MAX_WORDS the bitmap
#: ships as a broadcast variable probed by a vectorized Arrow kernel,
#: see _bloom_prefilter).  k = 4 hash functions.
BLOOM_M_BITS = 1 << 16
BLOOM_K = 4


def _bloom_pos(key: Column, i: int, m_bits: int, portable: bool) -> Column:
    """Bit position of hash ``i`` for ``key``.  The default is native
    ``xxhash64(key, i)`` — one JVM hash per probe; ``portable`` swaps
    in the md5-derived :func:`~..functions.hashing.portable_hash64`
    (~4× slower per probe) for callers whose ORACLE must recompute the
    exact set bits (stream_bloom_gate).  Both are deterministic — the
    same corpus always yields the same bitmap on any cluster — the
    difference is only SQL-reproducibility."""
    if portable:
        return H.portable_hash64(key, seed=f"bf{i}") % m_bits
    return F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))


def bloom_bitmap(
    keys: DataFrame,
    key_col: str = "s",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    portable: bool = False,
) -> list[int]:
    """Build a Bloom-filter bitmap (list of ``m_bits/64`` int64 words)
    over a distinct-key frame, distributedly: explode each key into
    its ``k`` bit positions (:func:`_bloom_pos`), reduce with ONE
    ``bit_or`` groupBy on the word index (≤ m_bits/64 groups —
    control-plane sized, like a codebook collect), and assemble the
    dense word array on the driver."""
    n_words = m_bits // 64
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    _bloom_pos(F.col(key_col), i, m_bits, portable)
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    rows = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("widx"),
            # SQL shiftleft takes a column shift amount; the PySpark
            # wrapper's numBits is int-only
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.bit_or("bit").alias("w"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["widx"]] = r["w"]
    return words


def _bloom_might_contain(
    key: Column, words: list[int], m_bits: int, k: int, portable: bool = False
) -> Column:
    """All-k-bits-set probe against a literal bitmap — pure codegen
    expressions (element_at + getbit), no join and no Python.  The
    ``portable`` flag MUST match the one the bitmap was built with."""
    bm = F.array(*[F.lit(w).cast("long") for w in words])
    pred = F.lit(True)
    for i in range(k):
        pos = _bloom_pos(key, i, m_bits, portable)
        word = F.element_at(bm, (pos / 64).cast("int") + 1)
        pred = pred & (F.getbit(word, (pos % 64).cast("int")) == 1)
    return pred


#: Above this word count the bitmap stops being a plan literal and
#: ships as a task broadcast consumed by a vectorized Arrow kernel
#: instead.  Round 13 measurement (guide §1.1): the literal path is
#: not just a codegen-crash guard at six-figure arrays — already at
#: the DEFAULT 1024 words the k=4 × element_at(1024-literal) probe
#: made docs_bloom_contamination 2.5-3× slower than the broadcast
#: kernel on identical results (plan/compile cost per run dominates:
#: the query's executor time is under 1 s while its wall was not).
#: Keep the literal only for genuinely tiny bitmaps.
BLOOM_LITERAL_MAX_WORDS = 128  # 2^13 bits = 1 KiB


def _bloom_prefilter(
    df: DataFrame,
    key_col: str,
    words: list[int],
    m_bits: int,
    k: int,
) -> DataFrame:
    """Rows of ``df`` whose ``key_col`` might be in the Bloom set of a
    bitmap whose bit positions come from the native ``xxhash64``.

    Small bitmaps inline as a literal array and the probe is pure
    whole-stage codegen (:func:`_bloom_might_contain`).  Large bitmaps
    (the 100 TB benchmark-suite case) ship ONCE per executor as a
    Spark broadcast variable; the k bit positions are still computed
    JVM-side with the exact hash expressions the build used, and one
    Arrow pass tests all k bits vectorized in numpy — same semantics,
    no per-row Python."""
    if len(words) <= BLOOM_LITERAL_MAX_WORDS:
        return df.filter(
            _bloom_might_contain(F.col(key_col), words, m_bits, k)
        )
    import numpy as np

    pos_cols = [f"__bfp{i}" for i in range(k)]
    proj = df
    for i, pc in enumerate(pos_cols):
        proj = proj.withColumn(
            pc, _bloom_pos(F.col(key_col), i, m_bits, False)
        )
    bc = df.sparkSession.sparkContext.broadcast(
        np.asarray(words, dtype=np.int64)
    )
    base_cols = list(df.columns)
    out_schema = df.schema

    def gen(batches):
        import numpy as np

        W = bc.value.view(np.uint64)
        one = np.uint64(1)
        six3 = np.uint64(63)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.ones(len(pdf), dtype=bool)
            for pc in pos_cols:
                p = pdf[pc].to_numpy().astype(np.uint64)
                keep &= ((W[(p >> np.uint64(6)).astype(np.int64)] >> (p & six3)) & one) == one
            yield pdf.loc[keep, base_cols]

    return proj.mapInPandas(gen, out_schema)


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    m_bits: int = BLOOM_M_BITS,
) -> DataFrame:
    """(doc_id, n_shared) — :func:`benchmark_contamination` semantics
    through a Bloom-filter prefilter: the benchmark's shingles are
    compressed into an ``m_bits`` bitmap; every corpus shingle probes
    the bitmap map-side (``BLOOM_K`` getbit expressions, no join), and
    only the survivors — true contaminations plus the Bloom
    false-positive residue — reach the exact-confirm equi-join.
    Blooms have no false negatives, so the result is IDENTICAL to the
    exact operator (the declared query's oracle is literally the exact
    SQL).

    Why this exists at 100 TB: when the benchmark suite is large
    enough that its shingle set no longer broadcasts as a hash
    relation (10^9+ shingles — tens of GB), the bitmap still ships to
    every executor at ~1 bit per 10 shingles, the corpus-side shuffle
    into the confirm join carries only the prefiltered sliver
    (|contaminated| + fp·|corpus shingles| rows instead of all corpus
    shingles), and the confirm join's build side stays the exact
    shingle set, partitioned normally.  The prefilter is pure
    whole-stage-codegen; tune fp via m_bits (fp ≈ (1−e^{−kn/m})^k).
    """
    # referenced twice (bitmap build + the exact-confirm build side)
    # but deliberately NOT checkpointed: the rows are big shingle
    # STRINGS and the recompute is one cheap Arrow map pass — the
    # round-9 checkpoint rule's explicit exception (measured here in
    # round 10: a lazy checkpoint of this frame degraded repeated
    # probes 3.6 → 4.3-9.4 s as the materialized blocks pressured
    # executor memory, while the no-checkpoint baseline held steady)
    b_str = (
        shingle_table(benchmark, n=n)
        .select(F.explode("shingles").alias("sh_str"))
        .distinct()
    )
    words = bloom_bitmap(
        b_str.select(F.xxhash64("sh_str").alias("s")), "s", m_bits, BLOOM_K
    )
    c = (
        shingle_table(corpus, n=n)
        .select("doc_id", F.explode("shingles").alias("sh_str"))
        .select("doc_id", F.xxhash64("sh_str").alias("s"))
    )
    candidates = _bloom_prefilter(c, "s", words, m_bits, BLOOM_K)
    exact = b_str.select(F.xxhash64("sh_str").alias("s"))
    return (
        candidates.join(exact, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def simhash_table(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) fingerprint table.

    Shaped for codegen: distinct tokens explode once, each token is
    hashed once (md5 in the scan projection), and all ``bits`` vote
    sums run in a single whole-stage-codegen'd aggregate — versus
    ``bits`` interpreted higher-order passes re-hashing every token.
    """
    ex = docs.select(
        "doc_id",
        # explode_outer: a zero-token doc must still emit a (zero)
        # fingerprint row, as the oracle does.
        F.explode_outer(F.array_distinct(TX.tokens(F.col("text")))).alias("tok"),
    ).select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sh:"), F.col("tok"))), 1, 15), 16, 10
        )
        .cast("bigint")
        .alias("h"),
    )
    votes = ex.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b) % 2 == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                )
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fingerprint = F.lit(0).cast("bigint")
    for b in range(bits):
        fingerprint = fingerprint + F.when(
            F.col(f"v{b}") > 0, F.lit(2**b)
        ).otherwise(F.lit(0))
    return votes.select("doc_id", fingerprint.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    bits: int = 16,
    max_hamming: int = 2,
    band_bits: int = 4,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of each other.

    Scale path: pivot on ``bits/band_bits`` bands (a pair within the
    distance budget must agree exactly on at least one band when
    ``bands > max_hamming``), join per band, then verify with
    ``bit_count(xor)``.

    Unlike the shingle/minhash families this does NOT use
    ``_bucket_pairs``: simhash band keys have tiny cardinality
    (``2^band_bits`` values per band), so a band bucket can hold a
    large fraction of the corpus and collecting it into one array row
    would OOM a task (observed at sf0.1: one 4-bit band value covered
    80% of docs).  A shuffle self-join spreads the quadratic in-bucket
    work across tasks instead; the fingerprint pipeline still computes
    only once — the banded table is checkpointed before the join.
    """
    if bits % band_bits != 0:
        raise ValueError(f"band_bits must divide bits: {bits} % {band_bits}")
    if bits // band_bits <= max_hamming:
        raise ValueError(
            f"bands ({bits // band_bits}) must exceed max_hamming "
            f"({max_hamming}) or the band pigeonhole is not complete and "
            "near-pairs would be silently missed — lower band_bits"
        )
    t = simhash_table(docs, bits)
    return banded_hamming_pairs(t, "simhash", bits, max_hamming, band_bits)


def banded_hamming_pairs(
    fingerprints: DataFrame,
    hash_col: str,
    bits: int,
    max_hamming: int = 2,
    band_bits: int = 4,
) -> DataFrame:
    """(d1, d2, hamming) pairs within ``max_hamming`` of each other,
    from any (doc_id, <hash_col>) fingerprint table — the banded
    machinery shared by text SimHash (:func:`simhash_near_pairs`) and
    multimodal perceptual hashes (operators.multimodal.dhash_table).
    Lossless by pigeonhole: with ``bits/band_bits`` bands >
    ``max_hamming``, any qualifying pair agrees exactly on at least
    one band.  Shuffle self-join per band (never ``_bucket_pairs`` —
    see :func:`simhash_near_pairs` for why low-cardinality band keys
    must not be bucket-collected); the fingerprint pipeline computes
    once via the checkpoint."""
    if bits % band_bits != 0:
        raise ValueError(f"band_bits must divide bits: {bits} % {band_bits}")
    if bits // band_bits <= max_hamming:
        raise ValueError(
            f"bands ({bits // band_bits}) must exceed max_hamming "
            f"({max_hamming}) — lower band_bits"
        )
    bands = bits // band_bits
    banded = fingerprints.select(
        "doc_id",
        F.col(hash_col).alias("fph"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(i)),
                        (F.shiftright(F.col(hash_col), i * band_bits) % (2**band_bits)),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    )
    banded = iter_checkpoint(banded, eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.bit_count(F.col("a.fph").bitwiseXOR(F.col("b.fph"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    embs: DataFrame,
    threshold_num: float,
) -> DataFrame:
    """Pairs with quantized-integer cosine ≥ threshold.

    Broadcast nested-loop similarity join, BLAS-accelerated: the
    corpus matrix is the (dimension-sized) build side, batches of
    vectors stream through ``mapInPandas`` doing one matmul each.
    Quantized-integer math keeps every cosine exactly representable in
    float64, so results are bit-identical to the sequential SQL
    formulation regardless of BLAS summation order.  At 100 TB, feed
    LSH-bucketed blocks (``similarity.hyperplane_lsh_buckets``) in
    place of the full corpus build side.
    """
    from .similarity import _SCALE, _collect_matrix

    c_ids, c_mat = _collect_matrix(embs, "vec_id", "embedding")
    schema = "v1 long, v2 long"
    scale = float(_SCALE)  # captured by value; must match _np_quantize

    def near(batches):
        import numpy as np
        import pandas as pd

        cn = np.sqrt((c_mat * c_mat).sum(axis=1))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            mat = np.floor(
                np.vstack(pdf["embedding"].to_numpy()).astype(np.float64) * scale + 0.5
            )
            bn = np.sqrt((mat * mat).sum(axis=1))
            cos = (mat @ c_mat.T) / (cn[None, :] * bn[:, None])
            rows_i, cols_j = np.nonzero(
                (cos >= threshold_num) & (ids[:, None] < c_ids[None, :])
            )
            yield pd.DataFrame(
                {"v1": ids[rows_i], "v2": c_ids[cols_j]}
            )

    return embs.select("vec_id", "embedding").mapInPandas(near, schema)


def embedding_near_dup_lsh(
    embs: DataFrame,
    threshold_num: float,
    planes: int = 8,
) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the 100 TB scale path.

    Composes ``similarity.hyperplane_lsh_buckets`` with an in-bucket
    quantized cosine ≥ threshold.  Unlike ``embedding_near_dup_pairs``
    (the brute-force baseline, which collects the corpus matrix to the
    driver), this is a pure DataFrame plan: bucket assignment is a
    map-only projection and the candidate join is an equi-join on
    bucket — one shuffle, per-bucket pairwise work bounded by bucket
    occupancy (raise ``planes`` to shrink buckets).  Pairs that LSH
    places in different buckets are missed; that recall trade-off is
    pinned by tests against the brute-force baseline.
    """
    from .similarity import _signature_frame

    # one Arrow/BLAS pass yields (vid, qv, nsq, bucket) directly —
    # with tables=1 the signature frame's bucket keys equal the
    # hyperplane_lsh_buckets expression exactly (same plane family,
    # same powers, zero table-id high bits), and the former
    # quantized ⋈ buckets join disappears
    row = embs.select(F.size(F.col("embedding")).alias("d")).first()
    dims = int(row["d"]) if row else 0
    sig = _signature_frame(embs, planes, 1, "vec_id", "embedding", dims)
    side = sig.select(
        "vid", "qv", "nsq", F.element_at("bks", 1).alias("bucket")
    )
    # both self-join sides read `side`; lazy checkpoint runs the Arrow
    # pass once per action (similarity.lsh_topk uses the same trick)
    side = iter_checkpoint(side, eager=False)
    a, b = side.alias("a"), side.alias("b")
    from ..functions import vectors as VE

    dot = VE.dot_q(F.col("a.qv"), F.col("b.qv"))
    cos = VE.cosine_q(dot, F.col("a.nsq"), F.col("b.nsq"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        # NULL cosine (zero-norm vector) fails the predicate — same as
        # the oracle, where x/0 is NULL and NULL >= t is not TRUE
        .filter(cos >= F.lit(threshold_num))
        .select(F.col("a.vid").alias("v1"), F.col("b.vid").alias("v2"))
    )
