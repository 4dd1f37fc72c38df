"""Shared iteration utilities for the iterative operators.

The iterative operators (connected components, ancestor paths, LSH
signature reuse) need each round's state MATERIALIZED so the next
round and any convergence probe read stored blocks instead of
replaying the whole lineage.  ``localCheckpoint`` does that, but its
blocks live only in executor storage — on a real cluster a single
executor loss (preemption, OOM kill) discards the progress of every
round so far and the job cannot recompute the truncated lineage.

``iter_checkpoint`` picks the durability tier at call time:

- if the session has a RELIABLE checkpoint directory configured
  (``spark.sparkContext.setCheckpointDir(...)`` — HDFS/S3/any Hadoop
  FS), use ``DataFrame.checkpoint``: blocks are written to that
  filesystem and survive executor loss, which is what a 20-round
  connected-components job over 100 TB of near-dup edges needs;
- otherwise fall back to ``localCheckpoint`` — correct and fast for
  local mode / tests, with the documented single-process durability.

Callers opt in to durability purely through session configuration;
operator signatures stay unchanged.

Checkpoint-file hygiene: reliable checkpoint files are deleted by the
context cleaner only when ``spark.cleaner.referenceTracking
.cleanCheckpoints`` is ``true`` — Spark's DEFAULT IS FALSE, so
``session.get_spark`` sets it; a session built elsewhere should do the
same or a multi-round cluster job leaks checkpoint-dir files for its
whole lifetime.

``run_concurrent`` is the one way package code overlaps independent
Spark jobs: each thunk runs on a ``pyspark.InheritableThread``, so its
jobs keep the caller's local properties (job group, pool), and all are
joined before it returns or raises, so no branch's failure is lost.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def iter_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` for iterative reuse (reliable if configured).

    Uses a cluster-durable ``checkpoint`` when the session has a
    checkpoint dir (survives executor loss), else ``localCheckpoint``.
    The sparkContext probe is wrapped because Spark Connect sessions
    raise ``PySparkNotImplementedError`` on ``sparkContext`` access —
    there the local tier is the only one reachable from the client.
    """
    try:
        checkpoint_dir = df.sparkSession.sparkContext.getCheckpointDir()
    except Exception:  # Spark Connect: no sparkContext on the client
        checkpoint_dir = None
    if checkpoint_dir is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def checkpoint_with_probe(df: DataFrame, probe):
    """Materialize one iteration round AND evaluate ``probe`` (a
    callable ``DataFrame -> scalar``, e.g. a convergence count) with
    the fewest actions the durability tier allows (round 13, guide
    §1.2/§5: iterative operators paid two driver round-trips per
    round — one eager checkpoint job plus one probe job — and on a
    32-core local master each job round-trip costs ~0.1-0.15 s, which
    dominates small-graph rounds).

    * local tier: ``localCheckpoint(eager=False)`` — the probe's ONE
      action computes every partition (a full aggregation), which
      both persists the checkpoint blocks and returns the scalar.
    * reliable tier: ``checkpoint(eager=True)`` then the probe reads
      the checkpointed data.  A lazy RELIABLE checkpoint would
      re-run the round's lineage a second time to write the files
      (the documented RDD.checkpoint recompute), so two actions are
      the cheaper shape there.

    The probe MUST be a full-scan aggregation (no ``limit``) so the
    lazy local tier materializes every partition, not a prefix.
    Returns ``(materialized_df, probe_result)``.
    """
    try:
        reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:  # Spark Connect: local tier only
        reliable = False
    out = df.checkpoint(eager=True) if reliable else df.localCheckpoint(
        eager=False
    )
    return out, probe(out)


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread a narrow-partitioned input across the session's
    parallelism before a compute-heavy map pass (round 13, guide
    §2.5 "input skew": one unsplittable file → repartition right
    after the read).

    The local bench inputs are single-row-group parquet files, so
    every scan is ONE task and Spark cannot split it further; any
    expensive per-row work fused into that scan stage (Arrow
    shingling, fingerprint hash chains, tokenize explodes) runs on
    one core of 32.  Round-robin repartitioning the few input
    megabytes is orders of magnitude cheaper than serializing the
    map pass (measured: multimodal_audio_dedup's fingerprint job
    3.0 s single-task → sub-second at 32 tasks).

    Scale safety: a 100 TB input arrives already split, so this is a
    NO-OP whenever the plan has at least ``target`` partitions (and
    for streaming frames, where micro-batch splits are the planner's
    job) — the repartition only fires for the narrow-input case it
    exists for.  ``target`` defaults to the session's default
    parallelism, so the driver's lower-core bench arm scales down
    automatically.
    """
    if df.isStreaming:
        return df
    try:
        sc = df.sparkSession.sparkContext
        target = target or sc.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:  # Spark Connect: no sparkContext/RDD on the client
        return df
    if n < target:
        return df.repartition(target)
    return df


def run_concurrent(*thunks) -> list:
    """Run each zero-argument callable on its own
    ``pyspark.InheritableThread``, join them ALL, and return their
    results in argument order.  If any raised, the first failure in
    argument order is re-raised after the join, with every other
    failure attached to it as a note (its repr, plus its message
    when the repr leaves it out)."""
    from pyspark import InheritableThread
    from pyspark.sql import SparkSession
    from pyspark.sql.utils import is_remote

    outcomes: list = [None] * len(thunks)

    def _run(i: int) -> None:
        try:
            outcomes[i] = (True, thunks[i]())
        except BaseException as e:  # re-raised on the caller's thread
            outcomes[i] = (False, e)

    # a Spark Connect thread copies its tags from the session
    session = SparkSession.getActiveSession() if is_remote() else None
    threads = [
        InheritableThread(_run, args=(i,), session=session)
        for i in range(len(thunks))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    errors = [v for ok, v in outcomes if not ok]
    if errors:
        for e in errors[1:]:
            # a PySpark error keeps its message out of args, so its repr
            # alone would not say what failed
            detail = repr(e) if e.args else f"{e!r}: {e}"
            errors[0].add_note(f"concurrent sibling also failed: {detail}")
        raise errors[0]
    return [v for _, v in outcomes]


def _local_df_safe_cell(c) -> bool:
    """True iff ``c`` is a cell type whose pandas/Arrow and classic
    list-path interpretations agree (see :func:`local_df`).  Exact
    type checks, not isinstance: bool is an int subclass (fine, both
    paths agree) but datetime is a date subclass and numpy scalars
    subclass Python numbers — subclasses must NOT ride the pandas
    path."""
    if c is None:
        return True
    t = type(c)
    if t in (int, float, str, bool):
        return True
    if t in (list, tuple):
        return all(_local_df_safe_cell(x) for x in c)
    return False


def local_df(spark, rows, schema: str) -> DataFrame:
    """Driver-local rows → DataFrame through ONE Arrow batch (round
    13, guide §6 "Arrow for driver transfers" + §4 "the Python
    boundary").  The default list path pickles the rows into a
    defaultParallelism-sliced Python RDD — so even a 1-row meta table
    costs 32 tasks, each acquiring a Python worker to unpickle its
    slice, and pays that again in EVERY consuming stage (measured:
    two ~7 s 32-task zero-I/O stages under text_bpe_train's final
    collect were the merge table's pickled RDD being re-scanned for
    the orderBy sample + sort).  The pandas/Arrow path ships one
    JVM-local Arrow batch instead: no Python workers in any
    downstream stage, one partition, identical rows/schema.

    The pandas path is restricted to the cell types whose pandas and
    list interpretations provably agree — int / str / float / bool /
    None and (nested) lists/tuples of them (ADVICE r13): a naive
    datetime is interpreted HOST-locally by the list path but
    localized with the UTC session timezone by pandas/Arrow (the high
    finding — on a host west of UTC a streaming watermark sentinel
    shifted enough to drop the final null-match emissions), and an
    exotic cell (Decimal, bytes subclases, numpy scalars from a
    caller) could coerce differently under Arrow's unsafe casts.
    Anything outside the allow-list takes the classic list path, same
    as every pre-round-13 call site; pandas unavailable or an Arrow
    conversion error also falls back.  (A session-wide
    ``convertToArrowArraySafely=true`` was measured and rejected: the
    flag taxes EVERY pandas-UDF output batch engine-wide to guard a
    driver-local helper.)
    """
    rows = list(rows)
    if rows and all(_local_df_safe_cell(c) for r in rows for c in r):
        try:
            import pandas as pd

            from pyspark.sql.types import StructType

            names = (
                schema.fieldNames()
                if isinstance(schema, StructType)
                else StructType.fromDDL(schema).fieldNames()
            )
            pdf = pd.DataFrame(rows, columns=names)
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema)


def release(df: DataFrame) -> None:
    """Drop a superseded checkpoint's storage.

    Each propagation round produces a new materialized state; without
    an explicit unpersist the superseded blocks accumulate in the
    block manager for the lifetime of the session (ADVICE round 2).

    MUST be called only after the LAST action that touches the
    superseded state (e.g. after the convergence probe comparing old
    vs new labels has run): a localCheckpoint-ed DataFrame has no
    replayable lineage, so any later action on a released handle
    recomputes nothing — it fails or silently rescans empty blocks.
    Failures are logged, not raised — a missed unpersist degrades
    memory, not correctness.
    """
    try:
        df.unpersist()
    except Exception as exc:  # pragma: no cover - best-effort storage release
        _log.debug("release(): unpersist failed (ignored): %s", exc)
