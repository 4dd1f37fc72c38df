"""Distributed BPE: learn a merge table with iterated pair-count
groupBys, then tokenize with the learned merges.

The classic byte-pair-encoding trainer (Sennrich et al., ACL'16;
reference has only the ``bpe_ish`` regex heuristic in
functions/text.py — this is the real learned-merge version) mapped to
Spark's execution model:

* The corpus collapses ONCE to a (word, freq) vocabulary table — the
  only corpus-scale shuffle.  At 100 TB the vocabulary is millions of
  rows where the corpus is trillions, so every training round after
  that runs on a dimension-sized table.
* Each merge round is: explode each word's symbol sequence into
  adjacent pairs (map-only), one freq-weighted groupBy over pairs
  (vocab-bounded shuffle), a 1-row argmax collect (driver control
  plane), and a map-only ``replace`` applying the winning merge.
  Rounds are checkpointed so round N reads materialized vocab state,
  not an N-deep lineage.
* Merge application uses space-joined symbol strings re-joined with
  DOUBLE spaces for the replace pass: a single-space needle shares
  its boundary space with the next occurrence, so ``'b b b b'`` would
  merge only every other pair — with double separators each match
  keeps one space on each side and forward-scanning non-overlapping
  ``replace`` is EXACTLY the greedy left-to-right scan (fuzzed
  against an explicit token-scan model in tests/test_bpe.py).  The
  result re-normalizes to single spaces.  Identical in Python string
  ops, Spark ``replace``, and DuckDB ``replace``, so all tiers and
  the unrolled oracle CTE chain produce the same sequences.
* Determinism: the winning pair is (count DESC, pair ASC) under
  binary string collation in both engines.

Simplification vs Sennrich: no end-of-word marker symbol — merges act
within whitespace words only (a ``</w>`` sentinel could collide with
characters actually present in adversarial corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as TX
from .iterutils import iter_checkpoint, local_df, release

#: default number of learned merges for the registry queries.
N_MERGES = 10


def word_vocab(docs: DataFrame) -> DataFrame:
    """(word, freq, seq): whitespace vocabulary with each word's
    initial symbol sequence (space-joined characters)."""
    return (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .withColumn(
            "seq", F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
        )
    )


def _adjacent_pairs(seq_col):
    """Array of 'left right' adjacent-symbol pairs of a space-joined
    sequence; empty for single-symbol sequences.  ``zip_with`` pads
    the shorter side with null and ``concat`` nulls out, so the
    ragged tail filters away."""
    toks = F.split(seq_col, " ")
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(1)))
    pairs = F.zip_with(
        toks, shifted, lambda x, y: F.concat(x, F.lit(" "), y)
    )
    return F.filter(pairs, lambda p: p.isNotNull())


#: vocabularies at or below this row count run the merge loop
#: driver-side (one Arrow collect of the word table) — the corpus
#: itself never moves.  Above it, the fully distributed per-round
#: loop takes over.
DRIVER_VOCAB_ROWS = 200_000

_VOCAB_SCHEMA = "word string, freq bigint, seq string"


def bpe_train(
    docs: DataFrame, n_merges: int = N_MERGES
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (merges, final_vocab).

    ``merges`` is [(rank, left, right, pair_count)] in merge order;
    ``final_vocab`` is (word, freq, seq) with all merges applied —
    the encoder's lookup table.  Stops early when no pair remains.

    Tiering (mirrors the iter_checkpoint durability pattern): the
    corpus always collapses to the (word, freq) vocabulary in ONE
    distributed shuffle; the merge loop itself is inherently
    sequential (merge r+1 depends on r), so when the vocabulary fits
    the driver (<= DRIVER_VOCAB_ROWS — the common case even for web
    corpora, and the same in-memory regime as the reference Sennrich
    trainer) the rounds run in plain Python over the collected word
    table, avoiding 2×n_merges tiny Spark jobs.  Larger vocabularies
    use the distributed per-round loop (:func:`_train_distributed`).
    Both paths apply identical greedy left-to-right merge semantics
    and (count DESC, pair ASC) tie-breaks, so they are
    interchangeable bit-for-bit (pinned by tests/test_bpe.py).
    """
    vocab = iter_checkpoint(word_vocab(docs), eager=False)
    if vocab.count() <= DRIVER_VOCAB_ROWS:
        result = _train_driver(docs.sparkSession, vocab, n_merges)
        release(vocab)
        return result
    return _train_distributed(vocab, n_merges)


def _train_driver(
    spark: SparkSession, vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Driver-side merge loop over a collected vocabulary.

    Applies merges with the same double-space ``replace`` pass as the
    other tiers (module docstring), so Python/Spark/DuckDB agree
    exactly; Python string comparison orders by code point, which
    equals DuckDB's binary UTF-8 collation (UTF-8 preserves
    code-point order), so tie-breaks agree too."""
    import re as _re

    rows = [
        [r["word"], int(r["freq"]), r["seq"]] for r in vocab.collect()
    ]
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        counts: dict[str, int] = {}
        for _w, f, s in rows:
            toks = s.split(" ")
            for i in range(len(toks) - 1):
                p = toks[i] + " " + toks[i + 1]
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        left, right = pair.split(" ", 1)
        merges.append((r + 1, left, right, cnt))
        pat, rep = f" {left}  {right} ", f" {left}{right} "
        for row in rows:
            dbl = " " + row[2].replace(" ", "  ") + " "
            row[2] = _re.sub(" +", " ", dbl.replace(pat, rep)).strip(" ")
    # one Arrow batch, not a pickled 32-slice RDD: the vocab feeds
    # joins in encode_counts and every consuming stage used to pay 32
    # Python-worker tasks to unpickle it (iterutils.local_df)
    final = local_df(spark, [tuple(r) for r in rows], _VOCAB_SCHEMA)
    return merges, final


def _train_distributed(
    vocab: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Distributed merge loop: per round one vocab-bounded pair-count
    shuffle, a 1-row argmax collect, and a map-only merge apply."""
    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        best = (
            vocab.select(
                F.explode(_adjacent_pairs(F.col("seq"))).alias("pair"), "freq"
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair"))
            .first()
        )
        if best is None:
            break
        left, right = best["pair"].split(" ", 1)
        merges.append((r + 1, left, right, int(best["cnt"])))
        dbl = F.concat(
            F.lit(" "),
            F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        new_vocab = iter_checkpoint(
            vocab.withColumn(
                "seq",
                F.trim(
                    F.regexp_replace(
                        F.replace(
                            dbl,
                            F.lit(f" {left}  {right} "),
                            F.lit(f" {left}{right} "),
                        ),
                        " +",
                        " ",
                    )
                ),
            ),
            eager=False,
        )
        release(vocab)
        vocab = new_vocab
    return merges, vocab


def merge_table(
    spark: SparkSession, docs: DataFrame, n_merges: int = N_MERGES
) -> DataFrame:
    """(merge_rank, lhs, rhs, pair_count) — the learned merge table."""
    merges, _ = bpe_train(docs, n_merges)
    # local_df: the profiled orderBy over the pickled 10-row RDD ran
    # TWO 32-task Python stages (range-sample + sort) — the Arrow
    # batch needs no Python workers at all
    return local_df(
        spark,
        merges,
        "merge_rank bigint, lhs string, rhs string, pair_count bigint",
    )


def encode_counts(
    docs: DataFrame,
    n_merges: int = N_MERGES,
) -> DataFrame:
    """(doc_id, n_words, n_bpe) — per-document whitespace-token and
    BPE-token counts under the learned merges.

    The final vocabulary (word -> merged symbol count) is the build
    side of the join against the exploded corpus; like the CDC dedup
    path, it is NOT force-broadcast — a heavy-tailed vocabulary is
    unbounded, so AQE picks the strategy from its measured size.
    Documents with zero tokens survive via the left join with zero
    counts.
    """
    _, vocab = bpe_train(docs, n_merges)
    word_syms = vocab.select(
        "word", F.size(F.split(F.col("seq"), " ")).alias("n_sym")
    )
    per_doc = (
        docs.select(F.col("doc_id"), F.explode(TX.tokens(F.col("text"))).alias("word"))
        .join(word_syms, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_bpe", F.lit(0)).cast("bigint").alias("n_bpe"),
        )
    )
