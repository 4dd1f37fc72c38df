"""Generational index store semantics (operators/index_store.py):
batch-keyed delta staging, tombstone deletions, and the generational
compaction fold — the round-10 closure of the two windows VERDICT r9
documented (at-least-once appends; no delete path).

The contracts pinned here:

* a REPLAYED batch (crash between delta commit and the sink's applied
  marker) leaves ZERO duplicate index rows — the delta is rolled back
  and rewritten, never appended twice;
* a TORN delta (no ``_committed`` marker) is invisible to every
  reader;
* probe-after-delete equals a rebuild without the deleted rows, for
  both indexes;
* compaction folds base + deltas − tombstones into a new generation
  with probe-for-probe equality, clears the deltas/tombstones, and
  survives its own crash states;
* the codes ⊆ vectors integrity check fails loudly on a corrupt
  IVFADC index instead of letting the exact rerank silently drop
  neighbors.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_cpc_schema_spark.operators import dedup as DD
from etl_cpc_schema_spark.operators import index_store as IS
from etl_cpc_schema_spark.operators import similarity as SIM


def _docs(spark, n=60, seed=17):
    import random

    random.seed(seed)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(vocab[random.randrange(len(vocab))] for _ in range(18)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _embs(spark, n=150, dims=16, seed=19):
    import random

    random.seed(seed)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(dims)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _dedup_probe(spark, path, arrivals):
    idx = DD.load_dedup_index(spark, path)
    return {
        (r["doc_id"], r["exact_dup"], r["n_near"], r["keep"])
        for r in DD.incremental_dedup_indexed(arrivals, idx).collect()
    }


def _ann_probe(spark, path, embs, qmax=20):
    return {
        (r["q_id"], r["neighbor_id"], r["rank"])
        for r in SIM.ivfpq_topk(
            embs, k=3, nprobe=4, shortlist=16,
            query_pred=F.col("vec_id") < qmax, index_path=path,
        ).collect()
    }


def test_torn_delta_invisible_and_rollback(spark, tmp_path):
    """A delta without its _committed marker is invisible to
    read_table; rollback_delta removes a delta in either state."""
    d = _docs(spark)
    path = str(tmp_path / "idx")
    DD.save_dedup_index(d.filter(F.col("doc_id") < 30), path, n=3)
    base_n = IS.read_table(spark, path, "fingerprints").count()

    batch = d.filter((F.col("doc_id") >= 30) & (F.col("doc_id") % 5 != 0))
    DD.append_to_dedup_index(batch, path, batch_key="b1")
    n_batch = batch.count()
    assert (
        IS.read_table(spark, path, "fingerprints").count()
        == base_n + n_batch
    )

    # tear the commit: the whole delta becomes invisible
    marker = os.path.join(path, "deltas", "b1", "_committed")
    os.remove(marker)
    assert IS.read_table(spark, path, "fingerprints").count() == base_n

    IS.rollback_delta(path, "b1")
    assert not os.path.exists(os.path.join(path, "deltas", "b1"))
    assert IS.read_table(spark, path, "fingerprints").count() == base_n


def test_write_delta_failed_table_leaves_no_marker(spark, tmp_path):
    """With concurrent table writes (round 10), a failing write in ANY
    group must surface its error and must NOT leave a _committed
    marker — the healthy sibling table may have landed, but without
    the marker the whole delta stays invisible and a replay converges
    (the write-concurrency change must not widen the torn-delta
    window)."""
    import pytest

    ok = spark.range(5).select(F.col("id").alias("doc_id"))
    # a frame whose evaluation fails at write time, not at plan time
    bad = spark.range(5).select(
        F.when(F.col("id") < 99, F.raise_error(F.lit("boom")))
        .otherwise(F.lit(1))
        .alias("x")
    )
    path = str(tmp_path / "idx")
    os.makedirs(path)
    with pytest.raises(Exception, match="boom"):
        IS.write_delta(path, "b1", {"good": ok, "bad": bad})
    ddir = os.path.join(path, "deltas", "b1")
    assert not os.path.exists(os.path.join(ddir, "_committed"))
    # and the torn delta is invisible + rollbackable, as ever
    IS.rollback_delta(path, "b1")
    assert not os.path.exists(ddir)


def test_write_delta_jobs_carry_the_callers_job_group(spark, tmp_path):
    """The table writes run on helper threads, yet every write job
    carries the job group set on the calling thread, so per-group
    accounting (status tracker, event-log rollups) sees them.  Two
    groups: a serial pair and a single table."""
    import time

    sc = spark.sparkContext
    path = str(tmp_path / "idx")
    os.makedirs(path)
    tables = {
        name: spark.range(n).select(F.col("id").alias("doc_id"))
        for name, n in (("a", 3), ("b", 5), ("c", 7))
    }
    sc.setJobGroup("wd", "write_delta job-group test")
    try:
        IS.write_delta(path, "b1", tables, serial_groups=(("a", "b"),))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert os.path.exists(os.path.join(path, "deltas", "b1", "_committed"))
    # the status store is fed by the asynchronous listener bus
    deadline = time.time() + 10
    jobs = sc.statusTracker().getJobIdsForGroup("wd")
    while len(jobs) < len(tables) and time.time() < deadline:
        time.sleep(0.05)
        jobs = sc.statusTracker().getJobIdsForGroup("wd")
    assert len(jobs) >= len(tables)


def test_stream_setup_surfaces_both_branch_failures(spark, tmp_path, monkeypatch):
    """incremental_dedup_stream overlaps the index save with the
    arrival staging writes.  When both fail, both errors reach the
    caller: the save's (the first branch) is raised and the staging
    failure rides on it as a note — a failing foreground write used
    to hide the background save's failure."""
    from etl_cpc_schema_spark.streaming import ingest

    _docs(spark).write.parquet(str(tmp_path / "documents.parquet"))

    def save_fails(*args, **kwargs):
        raise RuntimeError("index save failed")

    def staging_fails(*args, **kwargs):
        raise OSError("staging write failed")

    monkeypatch.setattr(DD, "save_dedup_index", save_fails)
    monkeypatch.setattr(ingest, "_force_mtime_after", staging_fails)
    with pytest.raises(RuntimeError, match="index save failed") as info:
        ingest.incremental_dedup_stream(spark, str(tmp_path))
    assert any("staging write failed" in n for n in info.value.__notes__)


def test_dedup_sink_crash_replay_no_duplicate_rows(spark, tmp_path):
    """Crash between the index append and the applied marker, then
    replay: the round-9 window re-appended the keepers (duplicate
    band/shingle rows inflating shared counts); the staged-delta
    protocol must leave every doc's rows exactly once."""
    from etl_cpc_schema_spark.streaming.ingest import _incremental_dedup_sink

    d = _docs(spark, seed=23)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    os.makedirs(out)
    DD.save_dedup_index(d.filter(F.col("doc_id") % 5 != 0), idx, n=3)

    sink = _incremental_dedup_sink(idx, out)
    b1 = d.filter(F.col("doc_id") % 10 == 0)
    sink(b1, 0)
    # simulate the crash-after-append-before-marker, then redeliver
    os.remove(os.path.join(out, "_applied_0"))
    sink(b1, 0)

    # every doc's fingerprint row exactly once
    fp = IS.read_table(spark, idx, "fingerprints")
    assert fp.count() == fp.select("doc_id").distinct().count()
    # the strong check: all three tables equal a clean single-run twin
    clean = str(tmp_path / "clean")
    os.makedirs(clean)
    idx2 = str(tmp_path / "idx2")
    DD.save_dedup_index(d.filter(F.col("doc_id") % 5 != 0), idx2, n=3)
    sink2 = _incremental_dedup_sink(idx2, clean)
    sink2(b1, 0)
    for table in ("fingerprints", "bands", "shingles"):
        a = sorted(map(tuple, IS.read_table(spark, idx, table).collect()))
        b = sorted(map(tuple, IS.read_table(spark, idx2, table).collect()))
        assert a == b, table


def test_ann_sink_crash_replay_no_duplicate_codes(spark, tmp_path):
    """The ANN twin of the crash-replay pin: a replayed batch must not
    duplicate codes/vectors rows (a duplicated codes row surfaces the
    same neighbor twice — the exact failure the round-9 docstring
    documented as open)."""
    from etl_cpc_schema_spark.streaming.ingest import _ann_probe_sink

    d = _embs(spark, n=80, seed=41)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "out")
    os.makedirs(out)
    SIM.save_ivfpq_index(
        d.filter(F.col("vec_id") < 50), idx,
        n_centroids=8, m_subspaces=4, ksub=8,
    )
    sink = _ann_probe_sink(idx, out)
    b1 = d.filter(F.col("vec_id") >= 50)
    sink(b1, 0)
    rows1 = sorted(
        map(tuple, IS.read_table(spark, idx, "codes").collect())
    )
    os.remove(os.path.join(out, "_applied_0"))
    sink(b1, 0)

    codes = IS.read_table(spark, idx, "codes")
    assert codes.count() == codes.select("n_id").distinct().count() == 80
    vecs = IS.read_table(spark, idx, "vectors")
    assert vecs.count() == vecs.select("vid").distinct().count() == 80
    assert sorted(map(tuple, codes.collect())) == rows1


def test_dedup_delete_equals_rebuild_without(spark, tmp_path):
    """remove_from_dedup_index + probe == a fresh index saved on the
    surviving corpus — including the exact-dup fingerprint layer
    (doc-keyed fingerprints; the legacy bare-value layout could not
    do this and remove raises on it)."""
    d = _docs(spark, seed=29)
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    removed = corpus.filter(F.col("doc_id") % 10 == 1)
    survivors = corpus.filter(F.col("doc_id") % 10 != 1)

    p1 = str(tmp_path / "deleted")
    DD.save_dedup_index(corpus, p1, n=3)
    DD.remove_from_dedup_index(removed.select("doc_id"), p1)
    p2 = str(tmp_path / "rebuilt")
    DD.save_dedup_index(survivors, p2, n=3)

    got = _dedup_probe(spark, p1, arrivals)
    assert got == _dedup_probe(spark, p2, arrivals) and len(got) > 0

    # legacy bare-value fingerprints: remove refuses loudly
    p3 = str(tmp_path / "legacy")
    DD.save_dedup_index(corpus, p3, n=3)
    fp_dir = os.path.join(p3, "fingerprints.parquet")
    legacy = spark.read.parquet(fp_dir).select("fp")
    legacy.write.mode("overwrite").parquet(fp_dir + ".tmp")
    import shutil

    shutil.rmtree(fp_dir)
    os.rename(fp_dir + ".tmp", fp_dir)
    with pytest.raises(ValueError, match="predates doc-keyed"):
        DD.remove_from_dedup_index(removed.select("doc_id"), p3)


def test_ivfpq_delete_equals_rebuild_without(spark, tmp_path):
    """remove_from_ivfpq_index + probe == the same frozen geometry
    with the deleted vectors never appended (deleting appended-range
    ids keeps both sides' training corpora identical, isolating the
    deletion semantics; initial-corpus deletions are graded by the
    ann_ivfpq_deleted oracle)."""
    d = _embs(spark, seed=31)
    a = d.filter(F.col("vec_id") < 60)
    b = d.filter(F.col("vec_id") >= 60)
    drop = b.filter(F.col("vec_id") % 10 == 7)

    p1 = str(tmp_path / "deleted")
    SIM.save_ivfpq_index(a, p1, n_centroids=8, m_subspaces=4, ksub=8)
    SIM.append_to_ivfpq_index(b, p1)
    SIM.remove_from_ivfpq_index(drop.select("vec_id"), p1)

    p2 = str(tmp_path / "rebuilt")
    SIM.save_ivfpq_index(a, p2, n_centroids=8, m_subspaces=4, ksub=8)
    SIM.append_to_ivfpq_index(b.filter(F.col("vec_id") % 10 != 7), p2)

    got = _ann_probe(spark, p1, d)
    assert got == _ann_probe(spark, p2, d) and len(got) > 0
    # deleted ids never surface as neighbors
    dropped = {r["vec_id"] for r in drop.collect()}
    assert not any(n in dropped for _, n, _ in got)


def test_compaction_folds_deltas_and_tombstones(spark, tmp_path):
    """After save → staged append → delete → COMPACT: probes are
    bit-identical, the deltas and tombstones are physically gone, the
    pointer names a generation, and a second compaction (no-op fold)
    still answers identically."""
    d = _docs(spark, seed=37)
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    DD.save_dedup_index(
        d.filter((F.col("doc_id") % 5).isin(1, 2, 3)), path, n=3
    )
    DD.append_to_dedup_index(
        d.filter(F.col("doc_id") % 5 == 4), path, batch_key="day1"
    )
    DD.remove_from_dedup_index(
        d.filter(F.col("doc_id") % 10 == 1).select("doc_id"), path
    )
    before = _dedup_probe(spark, path, arrivals)

    DD.compact_dedup_index(spark, path)
    root = IS.active_root(path)
    assert root != path and os.path.basename(root).startswith("gen_")
    assert not os.path.exists(os.path.join(root, "deltas"))
    assert not os.path.exists(os.path.join(root, "tombstones.parquet"))
    assert _dedup_probe(spark, path, arrivals) == before and len(before) > 0
    # tombstoned docs are PHYSICALLY gone, not just filtered
    gone = IS.read_table(spark, path, "bands").filter(
        F.col("doc_id") % 10 == 1
    )
    assert gone.count() == 0

    DD.compact_dedup_index(spark, path)
    assert _dedup_probe(spark, path, arrivals) == before


def test_ivfpq_compaction_integrity_check(spark, tmp_path):
    """A codes row with no vectors twin means the exact rerank would
    silently drop that neighbor — compaction must refuse loudly."""
    d = _embs(spark, n=60, seed=43)
    path = str(tmp_path / "idx")
    SIM.save_ivfpq_index(
        d.filter(F.col("vec_id") < 40), path,
        n_centroids=8, m_subspaces=4, ksub=8,
    )
    # forge a committed delta carrying a codes row WITHOUT its
    # vectors twin (the corrupt state a crashed NON-staged writer
    # could leave) — clone an existing row under an unknown id so the
    # schema matches exactly
    orphan = (
        IS.read_table(spark, path, "codes")
        .limit(1)
        .withColumn("n_id", F.lit(999).cast("long"))
    )
    IS.write_delta(path, "bad", {"codes": orphan})
    with pytest.raises(ValueError, match="no vectors twin"):
        SIM.compact_ivfpq_index(spark, path)


def test_save_resets_prior_store_state(spark, tmp_path):
    """Re-saving over a maintained index must not leave a stale
    generation pointer shadowing the fresh flat tables."""
    d = _docs(spark, seed=47)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    DD.save_dedup_index(corpus.filter(F.col("doc_id") < 30), path, n=3)
    DD.remove_from_dedup_index(
        corpus.filter(F.col("doc_id") < 5).select("doc_id"), path
    )
    DD.compact_dedup_index(spark, path)
    assert os.path.exists(os.path.join(path, "current"))

    DD.save_dedup_index(corpus, path, n=3)
    assert not os.path.exists(os.path.join(path, "current"))
    assert IS.active_root(path) == path
    ref = str(tmp_path / "ref")
    DD.save_dedup_index(corpus, ref, n=3)
    got = _dedup_probe(spark, path, arrivals)
    assert got == _dedup_probe(spark, ref, arrivals) and len(got) > 0


def test_append_to_legacy_bare_fp_index_matches_schema(spark, tmp_path):
    """An index saved before round 10 holds bare-`fp` fingerprints;
    appends (direct AND staged) must project to that shape rather
    than writing doc-keyed rows into the same table — a mixed-schema
    parquet dir reads nondeterministically.  Probe results must equal
    a same-era rebuild on the full corpus."""
    import shutil

    d = _docs(spark, seed=53)
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    c1 = corpus.filter(F.col("doc_id") < 20)
    c2 = corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
    c3 = corpus.filter(F.col("doc_id") >= 40)

    def legacyize(path):
        """Rewrite the fingerprint table to the round-9 bare-fp shape."""
        fp_dir = os.path.join(path, "fingerprints.parquet")
        legacy = spark.read.parquet(fp_dir).select("fp").distinct()
        legacy.write.parquet(fp_dir + ".tmp")
        shutil.rmtree(fp_dir)
        os.rename(fp_dir + ".tmp", fp_dir)

    p = str(tmp_path / "legacy")
    DD.save_dedup_index(c1, p, n=3)
    legacyize(p)
    DD.append_to_dedup_index(c2, p)                      # direct
    DD.append_to_dedup_index(c3, p, batch_key="day2")    # staged
    # the merged fingerprint table must read with ONE schema
    fp = IS.read_table(spark, p, "fingerprints")
    assert fp.schema.fieldNames() == ["fp"]

    p_ref = str(tmp_path / "rebuilt")
    DD.save_dedup_index(corpus, p_ref, n=3)
    got = _dedup_probe(spark, p, arrivals)
    assert got == _dedup_probe(spark, p_ref, arrivals) and len(got) > 0

    # compaction of the legacy index still works (distincts values)
    DD.compact_dedup_index(spark, p)
    assert _dedup_probe(spark, p, arrivals) == got


def test_audio_dedup_planted_copies(spark, tmp_path):
    """multimodal_audio_dedup pins: an exact re-encode-free copy
    shares ALL sub-fingerprints (Jaccard 1); a track sharing only its
    first half falls under the 1/2 gate; the unrelated track pairs
    with nothing.  Frame blocks are random 32-char strings so
    sub-fingerprint collisions across different material are noise."""
    import random

    from etl_cpc_schema_spark.queries import multimodal_audio_dedup_q

    random.seed(59)
    blk = lambda: "".join(
        random.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(32)
    )
    a_blocks = [blk() for _ in range(16)]
    half = a_blocks[:8] + [blk() for _ in range(8)]
    rows = [
        (1, "".join(a_blocks)),
        (2, "".join(a_blocks)),          # exact copy of 1
        (3, "".join(half)),              # first half shared only
        (4, "".join(blk() for _ in range(16))),  # unrelated
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))
    pairs = {
        (r["d1"], r["d2"]): (r["shared"], r["n1"], r["n2"])
        for r in multimodal_audio_dedup_q(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs
    sh, n1, n2 = pairs[(1, 2)]
    assert sh == n1 == n2  # identical sets
    assert not any(3 in p or 4 in p for p in pairs)

# ---------------------------------------------------------------------------
# Round 11: single-writer lease, tolerant sweep, persisted attr list
# ---------------------------------------------------------------------------


def _plant_lock(path, holder):
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, IS.LOCK)
    with open(lock, "w") as fh:
        fh.write(holder)
    return lock


def test_writer_lock_live_contention_refuses(spark, tmp_path):
    """A second writer against an index whose _writer.lock is held by
    a LIVE process must refuse loudly (VERDICT r10 "What's missing"
    #2) — on every mutating entry point."""
    import socket

    d = _docs(spark, n=20, seed=53)
    path = str(tmp_path / "idx")
    DD.save_dedup_index(d, path, n=3)
    # pid 1 is alive (init) and is not this process, so the lease
    # reads as a live foreign writer on this host
    _plant_lock(path, f"1@{socket.gethostname()}")
    with pytest.raises(IS.WriterContention, match="live writer"):
        IS.write_delta(
            path, "b1", {"fingerprints": d.select("doc_id").limit(1)}
        )
    with pytest.raises(IS.WriterContention):
        IS.append_tombstones(d.select("doc_id").limit(1), path)
    with pytest.raises(IS.WriterContention):
        DD.compact_dedup_index(spark, path)
    # the index-level writers refuse too — the lease covers every
    # mutating entry point, not just the store functions
    with pytest.raises(IS.WriterContention):
        DD.save_dedup_index(d, path, n=3)
    with pytest.raises(IS.WriterContention):
        DD.append_to_dedup_index(d.limit(1), path, batch_key="b2")
    # the contender must not have released someone else's lease
    assert os.path.exists(os.path.join(path, IS.LOCK))
    os.remove(os.path.join(path, IS.LOCK))


def test_writer_lock_stale_lease_takeover(spark, tmp_path):
    """A lease whose pid is dead on this host (crashed writer) is
    taken over instead of bricking the index; the takeover writer
    releases the lock on exit."""
    import socket

    d = _docs(spark, n=20, seed=59)
    path = str(tmp_path / "idx")
    DD.save_dedup_index(d.filter(F.col("doc_id") < 15), path, n=3)
    # a pid far above pid_max on this host cannot be alive
    _plant_lock(path, f"999999999@{socket.gethostname()}")
    DD.append_to_dedup_index(
        d.filter(F.col("doc_id") >= 15), path, batch_key="day1"
    )
    assert not os.path.exists(os.path.join(path, IS.LOCK))
    # a fresh FOREIGN-host lease (liveness unknowable, ttl not
    # expired) must refuse; the same lease past the ttl is taken over
    _plant_lock(path, "4242@some-other-host")
    with pytest.raises(IS.WriterContention):
        IS.append_tombstones(d.select("doc_id").limit(1), path)
    lock = os.path.join(path, IS.LOCK)
    old = os.path.getmtime(lock) - IS.LOCK_TTL_S - 60
    os.utime(lock, (old, old))
    IS.append_tombstones(d.select("doc_id").limit(1), path)
    assert not os.path.exists(lock)


def test_writer_lock_reentrant_within_process(tmp_path):
    """The holder may nest mutating scopes (a compaction inside a
    maintenance job); the inner scope must not release the outer
    lease."""
    path = str(tmp_path / "idx")
    with IS.writer_lock(path):
        with IS.writer_lock(path):
            assert os.path.exists(os.path.join(path, IS.LOCK))
        # inner exit keeps the outer lease
        assert os.path.exists(os.path.join(path, IS.LOCK))
    assert not os.path.exists(os.path.join(path, IS.LOCK))


def test_sweep_tolerates_foreign_and_locked_files(spark, tmp_path):
    """A foreign file in the index dir (editor temp, user notes)
    survives compaction with a warning instead of being deleted, and
    the compaction still succeeds (VERDICT r10 "What's missing" #3)."""
    d = _docs(spark, seed=61)
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "idx")
    DD.save_dedup_index(d.filter(F.col("doc_id") % 5 != 0), path, n=3)
    notes = os.path.join(path, "NOTES.txt")
    with open(notes, "w") as fh:
        fh.write("operator runbook — not store-managed")
    ds_store = os.path.join(path, ".DS_Store")
    open(ds_store, "wb").close()
    before = _dedup_probe(spark, path, arrivals)
    counts = DD.compact_dedup_index(spark, path)
    assert os.path.exists(notes) and os.path.exists(ds_store)
    assert open(notes).read().startswith("operator runbook")
    assert _dedup_probe(spark, path, arrivals) == before and len(before) > 0
    assert all(v > 0 for v in counts.values())
    # second compaction re-sweeps and still tolerates them
    DD.compact_dedup_index(spark, path)
    assert os.path.exists(notes)


def test_ivfpq_attrs_persisted_and_validated(spark, tmp_path):
    """save_ivfpq_index persists the filterable-attribute list as a
    control table; append reads it back (no schema inference), a
    colliding attr name is rejected at save, and compaction carries
    the list into the new generation (round-10 ADVICE)."""
    d = _embs(spark, n=80, seed=67).withColumn(
        "label", (F.col("vec_id") % 3).cast("int")
    )
    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="collide"):
        SIM.save_ivfpq_index(
            d, str(tmp_path / "bad"), n_centroids=4, m_subspaces=4,
            ksub=8, attr_cols=("codes",),
        )
    SIM.save_ivfpq_index(
        d.filter(F.col("vec_id") < 60), path,
        n_centroids=4, m_subspaces=4, ksub=8, attr_cols=("label",),
    )
    assert SIM.index_attr_cols(spark, path) == ("label",)
    # a batch lacking the persisted attribute refuses loudly
    with pytest.raises(ValueError, match="label"):
        SIM.append_to_ivfpq_index(
            d.filter(F.col("vec_id") >= 60).drop("label"), path
        )
    SIM.append_to_ivfpq_index(
        d.filter(F.col("vec_id") >= 60), path, batch_key="day1"
    )
    SIM.compact_ivfpq_index(spark, path)
    assert SIM.index_attr_cols(spark, path) == ("label",)
    root = IS.active_root(path)
    assert os.path.exists(os.path.join(root, "attrs.parquet"))


def test_writer_lock_released_on_exception(tmp_path):
    """A writer that dies mid-mutation must not leave its lease
    behind for the TTL window — the context manager releases it on
    ANY exit path."""
    path = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="boom"):
        with IS.writer_lock(path):
            assert os.path.exists(os.path.join(path, IS.LOCK))
            raise RuntimeError("boom")
    assert not os.path.exists(os.path.join(path, IS.LOCK))


# ---------------------------------------------------------------------------
# Round 12: lease hardening — atomic takeover, heartbeat, verified
# release, named-owner refusal, recursive footer counts
# ---------------------------------------------------------------------------


def test_steal_stale_is_rename_atomic(tmp_path):
    """Takeover removes the stale lease via rename-to-unique-temp, so
    of N contenders that read the same stale holder exactly one wins
    (round-11 ADVICE #1).  Pinned at the helper level: a matching
    steal succeeds and removes the lock; a steal whose expected holder
    no longer matches (the stale lock was replaced by a FRESH lease
    between read and rename) restores the live lease byte-identical
    and reports failure."""
    path = str(tmp_path / "idx")
    lock = _plant_lock(path, "999999999@thishost")
    assert IS._steal_stale(lock, "999999999@thishost") is True
    assert not os.path.exists(lock)
    assert not any(
        e.startswith(IS.LOCK + ".takeover") for e in os.listdir(path)
    )
    # fresh lease replaced the stale one after our read: mismatch →
    # restored, not stolen
    _plant_lock(path, "4242@live-host")
    assert IS._steal_stale(lock, "999999999@thishost") is False
    assert open(lock).read().strip() == "4242@live-host"
    assert not any(
        e.startswith(IS.LOCK + ".takeover") for e in os.listdir(path)
    )
    os.remove(lock)


def test_takeover_race_loses_to_completed_takeover(tmp_path):
    """The end-to-end slow-contender shape: contender B decided the
    OLD holder was stale, but by the time it acts, contender A has
    completed its takeover and holds a live lease — B must refuse
    naming A, and A's lease file must survive B untouched."""
    import socket

    path = str(tmp_path / "idx")
    live = f"1@{socket.gethostname()}"  # pid 1 is alive and not us
    lock = _plant_lock(path, live)
    # B's staleness decision was made against the long-gone holder
    assert IS._steal_stale(lock, "999999999@crashed-host") is False
    with pytest.raises(IS.WriterContention, match="1@"):
        with IS.writer_lock(path):
            pass
    assert open(lock).read().strip() == live
    os.remove(lock)


def test_heartbeat_refreshes_held_lease(tmp_path):
    """A mutation outliving LOCK_TTL_S must not get its lease
    TTL-stolen mid-write (round-11 ADVICE #2): while held, the lock's
    mtime is refreshed every ttl/4."""
    import time

    path = str(tmp_path / "idx")
    lock = os.path.join(path, IS.LOCK)
    with IS.writer_lock(path, ttl_s=4.0):  # heartbeat interval = 1 s
        old = time.time() - 3600
        os.utime(lock, (old, old))
        deadline = time.time() + 5.0
        while time.time() < deadline:
            if time.time() - os.path.getmtime(lock) < 60:
                break
            time.sleep(0.1)
        assert time.time() - os.path.getmtime(lock) < 60, (
            "heartbeat never refreshed the held lease's mtime"
        )
    assert not os.path.exists(lock)


def test_release_only_removes_own_lease(tmp_path):
    """If the lease was (wrongly) taken over while held, the original
    writer's exit must NOT delete the new holder's lock — the
    unconditional-finally-remove window of round-11 ADVICE #2."""
    path = str(tmp_path / "idx")
    lock = os.path.join(path, IS.LOCK)
    with IS.writer_lock(path):
        with open(lock, "w") as fh:  # simulate a mid-write takeover
            fh.write("7777@thief-host")
    assert os.path.exists(lock)
    assert open(lock).read().strip() == "7777@thief-host"
    os.remove(lock)


def test_contention_refusal_names_mid_write_owner(tmp_path):
    """An EMPTY holder read (the competitor sits between its O_CREAT
    and its content write) is re-read after a beat so the refusal
    names the live owner instead of 'unknown' (VERDICT r11 #6)."""
    import socket
    import threading

    path = str(tmp_path / "idx")
    lock = _plant_lock(path, "")  # competitor mid-create
    live = f"1@{socket.gethostname()}"

    def fill():
        with open(lock, "w") as fh:
            fh.write(live)

    t = threading.Timer(0.02, fill)
    t.start()
    try:
        with pytest.raises(IS.WriterContention, match="1@"):
            with IS.writer_lock(path):
                pass
    finally:
        t.join()
        os.remove(lock)


def test_footer_row_count_partitioned_and_empty(spark, tmp_path):
    """_footer_row_count walks RECURSIVELY (VERDICT r11 #5): a
    partitionBy layout counts correctly instead of reading 0 from the
    top-level listing, and a dest with no parquet files refuses
    loudly instead of reporting a 0-row fold as success."""
    dest = str(tmp_path / "parted")
    df = spark.range(37).withColumn("k", F.col("id") % 3)
    df.write.partitionBy("k").parquet(dest)
    assert IS._footer_row_count(dest) == 37
    flat = str(tmp_path / "flat")
    spark.range(11).write.parquet(flat)
    assert IS._footer_row_count(flat) == 11
    empty = str(tmp_path / "nothing")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="did not land"):
        IS._footer_row_count(empty)


def test_long_hold_is_not_stolen_by_contender(tmp_path):
    """End-to-end heartbeat contract: a mutation held LONGER than the
    lease TTL must still refuse a real cross-process contender — the
    heartbeat keeps the mtime fresh, so the contender's staleness
    check fails instead of letting it steal the lease mid-write."""
    import subprocess
    import sys
    import time

    path = str(tmp_path / "idx")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    contender = (
        "import sys; sys.path.insert(0, %r)\n"
        "from etl_cpc_schema_spark.operators import index_store as IS\n"
        "try:\n"
        "    with IS.writer_lock(%r, ttl_s=2.0):\n"
        "        print('ACQUIRED')\n"
        "except IS.WriterContention as e:\n"
        "    print('REFUSED:', e)\n"
    ) % (repo, path)
    with IS.writer_lock(path, ttl_s=2.0):  # heartbeat every 1 s
        time.sleep(2.6)  # outlive the TTL while holding
        holder, age = IS._read_holder(os.path.join(path, IS.LOCK))
        assert age < 2.0, "heartbeat did not refresh the held mtime"
        out = subprocess.run(
            [sys.executable, "-c", contender],
            capture_output=True,
            text=True,
            timeout=60,
        )
        assert "REFUSED" in out.stdout, out.stdout + out.stderr
        assert "ACQUIRED" not in out.stdout
    assert not os.path.exists(os.path.join(path, IS.LOCK))


def test_lease_stress_never_two_holders(tmp_path):
    """Randomized cross-process stress of the full lease protocol:
    8 contender processes x repeated acquire/hold/release cycles with
    a short TTL, a pre-planted stale lock, and a crash-injected cohort
    (every 4th worker dies INSIDE its 3rd hold without releasing, so
    survivors must take over its stale lease via the rename path).
    The invariant under test is the single-writer contract itself: at
    no instant do two LIVE processes sit inside the critical section.
    Each holder appends enter/exit events (pid + monotonic ns — the
    monotonic clock is system-wide per boot, so cross-process order
    is meaningful; O_APPEND writes of this size are atomic) to a
    shared ledger; the replay asserts sections never nest, tolerating
    ONLY a crashed worker's final dangling enter (its exit never
    comes and its lease is legitimately taken over)."""
    import subprocess
    import sys

    path = str(tmp_path / "idx")
    ledger = str(tmp_path / "ledger.txt")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _plant_lock(path, "999999999@nowhere")  # first acquires race takeover
    worker = r"""
import os, random, sys, time
sys.path.insert(0, %(repo)r)
from etl_cpc_schema_spark.operators import index_store as IS

path, ledger = %(path)r, %(ledger)r
seed, crash = int(sys.argv[1]), sys.argv[2] == "1"
rng = random.Random(seed)
done = 0
deadline = time.time() + 20
while done < 6 and time.time() < deadline:
    try:
        with IS.writer_lock(path, ttl_s=1.0):
            fd = os.open(ledger, os.O_CREAT | os.O_WRONLY | os.O_APPEND)
            os.write(fd, f"enter {os.getpid()} {time.monotonic_ns()}\n".encode())
            os.close(fd)
            time.sleep(rng.uniform(0.005, 0.05))
            if crash and done == 2:
                os._exit(0)  # die INSIDE the lease: no release, no exit event
            fd = os.open(ledger, os.O_CREAT | os.O_WRONLY | os.O_APPEND)
            os.write(fd, f"exit {os.getpid()} {time.monotonic_ns()}\n".encode())
            os.close(fd)
            done += 1
    except IS.WriterContention:
        time.sleep(rng.uniform(0.002, 0.03))
""" % {"repo": repo, "path": path, "ledger": ledger}
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, str(i), "1" if i % 4 == 3 else "0"],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in range(8)
    ]
    for pr in procs:
        pr.wait(timeout=120)
    crash_cohort = {pr.pid for i, pr in enumerate(procs) if i % 4 == 3}

    events = []
    with open(ledger) as fh:
        for line in fh:
            kind, pid, ts = line.split()
            events.append((int(ts), kind, int(pid)))
    events.sort()
    last_event_idx = {}
    for i, (_ts, _k, pid) in enumerate(events):
        last_event_idx[pid] = i

    inside: list[int] = []
    for i, (_ts, kind, pid) in enumerate(events):
        if kind == "enter":
            for prev in list(inside):
                # the ONLY legal overlap: prev crashed mid-hold (its
                # dangling FINAL enter — no later events exist for it)
                # and its lease was taken over
                dangling_crash = (
                    prev in crash_cohort and last_event_idx[prev] < i
                )
                assert dangling_crash, (
                    f"two live holders overlapped: {prev} and {pid}\n"
                    + open(ledger).read()
                )
                inside.remove(prev)
            inside.append(pid)
        else:
            assert inside and inside[-1] == pid, f"exit without enter: {pid}"
            inside.pop()
    total_cycles = sum(1 for _t, k, _p in events if k == "exit")
    assert total_cycles >= 12, f"too little contention exercised: {total_cycles}"


def test_hb_interval_always_inside_ttl():
    """The heartbeat period must land well inside the TTL for ANY
    ttl_s, including the short ones tests use — the old
    ``max(1.0, ttl/4)`` floor let a held lease's mtime age cross
    ttl_s between beats for ttl_s <= ~1.3s, making a LIVE lease
    legally stealable (round-12 ADVICE)."""
    for ttl in (0.1, 0.5, 1.0, 1.3, 2.0, 4.0, 3600.0):
        iv = IS._hb_interval(ttl)
        assert iv <= ttl / 2.0, (ttl, iv)
        assert iv >= 0.05, (ttl, iv)


def test_heartbeat_survives_transient_displacement(tmp_path):
    """A slow contender rename-displaces the live lock and then
    os.link-restores it on content mismatch (see _steal_stale) — the
    heartbeat must ride out that None-read window instead of
    permanently stopping, or a long compaction silently loses TTL
    protection (round-12 ADVICE)."""
    import time

    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = os.path.join(path, IS.LOCK)
    me = "123@hb-host"
    with open(lock, "w") as fh:
        fh.write(me)
    stop = IS._start_heartbeat(lock, me, ttl_s=0.2)  # interval 0.05 s
    try:
        displaced = lock + ".displaced"
        os.rename(lock, displaced)  # >=1 beat reads None in this gap
        time.sleep(0.12)  # inside the 4 x 50 ms retry budget
        os.rename(displaced, lock)
        old = time.time() - 3600
        os.utime(lock, (old, old))
        deadline = time.time() + 3.0
        while (
            time.time() < deadline
            and time.time() - os.path.getmtime(lock) > 60
        ):
            time.sleep(0.02)
        assert time.time() - os.path.getmtime(lock) < 60, (
            "heartbeat stopped after a transient lock displacement"
        )
    finally:
        stop.set()


def test_heartbeat_retries_transient_utime_failure(tmp_path, monkeypatch):
    """A transient utime OSError (e.g. a momentary FS hiccup) must not
    permanently stop the refresh — only 3 CONSECUTIVE failures do
    (round-12 ADVICE)."""
    import time

    path = str(tmp_path / "idx")
    os.makedirs(path)
    lock = os.path.join(path, IS.LOCK)
    me = "123@hb-host"
    with open(lock, "w") as fh:
        fh.write(me)
    real_utime = os.utime
    fails = {"n": 0}

    def flaky(p, *a, **k):
        # only the heartbeat's bare utime(lock) call fails, twice
        if p == lock and not a and not k and fails["n"] < 2:
            fails["n"] += 1
            raise OSError("transient refresh failure")
        return real_utime(p, *a, **k)

    monkeypatch.setattr(IS.os, "utime", flaky)
    old = time.time() - 3600
    real_utime(lock, (old, old))
    stop = IS._start_heartbeat(lock, me, ttl_s=0.2)  # interval 0.05 s
    try:
        deadline = time.time() + 3.0
        while (
            time.time() < deadline
            and time.time() - os.path.getmtime(lock) > 60
        ):
            time.sleep(0.02)
        assert fails["n"] == 2, "the injected transient failures never hit"
        assert time.time() - os.path.getmtime(lock) < 60, (
            "heartbeat stopped on a transient utime failure"
        )
    finally:
        stop.set()


def test_release_rereads_transient_displacement(tmp_path):
    """If a contender has the lock rename-displaced at the instant of
    exit, the holder read is None and removal would be skipped — the
    contender's os.link restore then strands a lease naming a finished
    writer until the TTL.  Release re-reads once after a beat
    (mirroring the empty-holder re-read on acquire) so the restored
    lease is removed (round-12 ADVICE)."""
    import threading

    path = str(tmp_path / "idx")
    lock = os.path.join(path, IS.LOCK)
    restorer = None
    with IS.writer_lock(path, ttl_s=30.0):
        displaced = lock + ".displaced"
        os.rename(lock, displaced)
        restorer = threading.Timer(0.02, lambda: os.link(displaced, lock))
        restorer.start()
    restorer.join()
    assert not os.path.exists(lock), (
        "release stranded a lease naming a finished writer"
    )
