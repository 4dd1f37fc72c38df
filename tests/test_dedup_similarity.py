"""Behavioral tests for dedup + similarity operators (beyond the
oracle parity suite): planted duplicates are actually found."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_cpc_schema_spark.operators import dedup as DD
from etl_cpc_schema_spark.operators import multimodal as MM
from etl_cpc_schema_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = "the quick brown fox jumps over the lazy dog and runs far away now"
    other = "completely different words about spark engines and big data systems here"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base),          # exact dup of 1
            (3, near),          # near dup of 1 (one token differs)
            (4, other),
        ],
        "doc_id bigint, text string",
    )


def test_exact_dedup_groups(docs):
    rows = {r["keep_id"]: r["n_copies"] for r in DD.exact_dedup(docs).collect()}
    assert rows[1] == 2  # docs 1+2 collapse
    assert rows[3] == 1
    assert rows[4] == 1


def test_jaccard_finds_near_dup(docs):
    pairs = DD.ngram_jaccard_pairs(docs, n=3)
    hit = {
        (r["d1"], r["d2"])
        for r in pairs.filter(
            DD.jaccard_at_least(F.col("shared"), F.col("n1"), F.col("n2"), 1, 2)
        ).collect()
    }
    assert (1, 2) in hit and (1, 3) in hit and (2, 3) in hit
    assert not any(4 in p for p in hit)


def test_jaccard_doc_freq_cap_prunes(docs):
    # With a max_doc_freq of 1 every shared shingle is pruned, so no pairs.
    pairs = DD.ngram_jaccard_pairs(docs, n=3, max_doc_freq=1)
    assert pairs.count() == 0


def test_jaccard_cap_kills_boilerplate_fanout(spark):
    """Pathological repeated shingle (VERDICT round 1 #3): one boilerplate
    shingle shared by every doc must not drive a quadratic pair-emit once
    the doc-frequency cap is active — while genuinely similar pairs
    (supported by rare shingles) survive."""
    boiler = [
        (i, f"copyright acme corp unique{i}a unique{i}b unique{i}c")
        for i in range(12)
    ]
    near = [
        (100, "alpha beta gamma delta epsilon zeta"),
        (101, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(boiler + near, "doc_id bigint, text string")

    uncapped = {
        (r["d1"], r["d2"])
        for r in DD.ngram_jaccard_pairs(docs, n=3).collect()
    }
    capped = {
        (r["d1"], r["d2"])
        for r in DD.ngram_jaccard_pairs(docs, n=3, max_doc_freq=5).collect()
    }
    # without the cap the boilerplate shingle links all 12 docs: 66 pairs
    assert len([p for p in uncapped if p[0] < 100 and p[1] < 100]) == 66
    # with the cap the df=12 shingle is dropped — zero boilerplate pairs
    assert not [p for p in capped if p[0] < 100 and p[1] < 100]
    # the genuinely-near pair (rare shingles, df=2) survives the cap
    assert (100, 101) in capped


def test_minhash_lsh_finds_exact_and_near(docs):
    got = {(r["d1"], r["d2"]) for r in DD.minhash_lsh_pairs(docs, n=3).collect()}
    assert (1, 2) in got  # identical shingle sets always collide
    assert not any(4 in p for p in got)


def test_simhash_distance(docs):
    t = {r["doc_id"]: r["simhash"] for r in DD.simhash_table(docs).collect()}
    assert t[1] == t[2]
    ham13 = bin(t[1] ^ t[3]).count("1")
    ham14 = bin(t[1] ^ t[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated doc


def test_simhash_near_pairs(docs):
    got = {(r["d1"], r["d2"]) for r in DD.simhash_near_pairs(docs, max_hamming=2).collect()}
    assert (1, 2) in got


@pytest.fixture(scope="module")
def embs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_embedding_near_dup(embs):
    got = {(r["v1"], r["v2"]) for r in DD.embedding_near_dup_pairs(embs, 0.9).collect()}
    assert got == {(0, 1)}


def test_bruteforce_topk_ordering(embs):
    qs = embs.filter(F.col("vec_id") == 0)
    got = [
        (r["neighbor_id"], r["rank"])
        for r in SIM.cosine_topk_bruteforce(embs, qs, k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_lsh_buckets_separate_opposites(embs):
    b = {r["vec_id"]: r["bucket"] for r in SIM.hyperplane_lsh_buckets(embs).collect()}
    assert b[0] != b[3]  # opposite vectors flip every plane sign
    assert b[0] == b[1]  # near-identical vectors share the bucket


def test_lsh_topk_multiprobe_superset(embs):
    """Multi-probe candidates (bucket-Hamming <= 1) must contain every
    exact-bucket candidate, and every probed pair's buckets must differ
    by at most one plane bit."""
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(embs, k=3, planes=8).collect()
    }
    probed_rows = SIM.lsh_topk(embs, k=3, planes=8, probe_bits=8).collect()
    probed = {(r["q_id"], r["neighbor_id"]) for r in probed_rows}
    b = {r["vec_id"]: r["bucket"] for r in SIM.hyperplane_lsh_buckets(embs).collect()}
    for q, n in probed:
        assert bin(b[q] ^ b[n]).count("1") <= 1
    # every same-bucket candidate pair survives probing (ranks can shift
    # as new candidates enter, so compare pair sets of full candidates)
    cand_exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(embs, k=100, planes=8).collect()
    }
    cand_probed = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(embs, k=100, planes=8, probe_bits=8).collect()
    }
    assert cand_exact <= cand_probed


def test_embedding_lsh_subset_and_recall(embs):
    """LSH-bucketed near-dup pairs are a subset of brute force, and the
    planted near-identical pair lands in the same bucket (recalled)."""
    brute = {
        (r["v1"], r["v2"])
        for r in DD.embedding_near_dup_pairs(embs, 0.9).collect()
    }
    lsh = {
        (r["v1"], r["v2"])
        for r in DD.embedding_near_dup_lsh(embs, 0.9).collect()
    }
    assert lsh <= brute
    assert (0, 1) in lsh  # near-identical vectors share every plane sign


def test_embedding_lsh_no_driver_collect(embs, monkeypatch):
    """The scale path must never collect the corpus to the driver
    (VERDICT round 2 #3): poison the brute-force build-side collector
    and assert the LSH plan still executes, with no Python stage."""
    def _boom(*a, **k):
        raise AssertionError("embedding_near_dup_lsh collected the corpus")

    monkeypatch.setattr(SIM, "_collect_matrix", _boom)
    df = DD.embedding_near_dup_lsh(embs, 0.9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "PythonUDF" not in plan
    assert df.count() >= 1


def test_lsh_topk_subset_of_bucket(embs):
    got = SIM.lsh_topk(embs, k=3).collect()
    pairs = {(r["q_id"], r["neighbor_id"]) for r in got}
    b = {r["vec_id"]: r["bucket"] for r in SIM.hyperplane_lsh_buckets(embs).collect()}
    for q, n in pairs:
        assert b[q] == b[n]


def test_lsh_topk_multitable_unprobed_keeps_any_table_collision(spark):
    """tables>1 with probe_bits < planes (here 0): a pair colliding in
    ANY table must survive the first-hit dedup EXACTLY ONCE, even when
    an earlier table sits at bucket-Hamming 1 via an UNPROBED bit.

    Round-7 ADVICE regression: the old first-hit filter kept a match
    only when its table was the first at Hamming<=1, referencing
    tables the probe (probe_bits=0 probes exact buckets only) never
    reached — no join row exists there, so the real match was silently
    dropped.  This seed-7 14-vector set has 14 pair/table layouts
    where first-Hamming<=1 table != first-colliding table, so the old
    filter demonstrably loses pairs here."""
    import itertools
    import random

    random.seed(7)
    dims, planes, tables = 8, 4, 4
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(dims)])
        for i in range(14)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sig = {
        r["vid"]: list(r["bks"])
        for r in SIM._signature_frame(
            embs, planes, tables, "vec_id", "embedding", dims
        ).collect()
    }
    expected = set()
    exposes_old_bug = 0
    for q, n in itertools.permutations(sig, 2):
        hams = [bin(a ^ b).count("1") for a, b in zip(sig[q], sig[n])]
        if any(h == 0 for h in hams):
            expected.add((q, n))
            if hams[next(i for i, h in enumerate(hams) if h <= 1)] != 0:
                exposes_old_bug += 1
    assert exposes_old_bug > 0  # the fixture actually exercises the case
    got = [
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(
            embs, k=100, planes=planes, tables=tables, probe_bits=0
        ).collect()
    ]
    assert len(got) == len(set(got))  # dedup: each pair exactly once
    assert set(got) == expected


def test_lsh_topk_multitable_partial_probe_semantics(spark):
    """probe_bits strictly between 0 and planes with tables>1: the
    pair set is exactly 'xor == 0, or one flipped bit whose plane
    index < probe_bits, in ANY table' — the reachable set the probe
    actually emits — with each pair appearing once."""
    import itertools
    import random

    random.seed(11)
    dims, planes, tables, pb = 8, 4, 3, 2
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(dims)])
        for i in range(14)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sig = {
        r["vid"]: list(r["bks"])
        for r in SIM._signature_frame(
            embs, planes, tables, "vec_id", "embedding", dims
        ).collect()
    }
    expected = {
        (q, n)
        for q, n in itertools.permutations(sig, 2)
        if any(
            (a ^ b) == 0 or (bin(a ^ b).count("1") == 1 and (a ^ b) < 2**pb)
            for a, b in zip(sig[q], sig[n])
        )
    }
    got = [
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(
            embs, k=100, planes=planes, tables=tables, probe_bits=pb
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == expected


def test_multimodal_meta_shapes(docs):
    out = MM.extract_meta(MM.attach_fake_payload(docs)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 4
    for r in out:
        assert 1 <= r["fake_width"] <= 64
        assert 1 <= r["fake_height"] <= 64
        assert r["byte_len"] > 0
    # exact dups produce identical fake metadata (deterministic stub)
    assert by_id[1]["fake_width"] == by_id[2]["fake_width"]


_HAS_PIL = True
try:
    import PIL  # noqa: F401
except ImportError:
    _HAS_PIL = False


def test_extract_meta_falls_back_to_md5_dims_for_non_images(spark):
    """A payload no decoder accepts (text bytes, or a PNG signature
    with no image behind it) gets the deterministic md5-derived stand-in
    dimensions, with or without Pillow installed."""
    import hashlib

    payloads = [b"\x89PNG but not really", b"plain text bytes"]
    df = spark.createDataFrame(
        list(enumerate(payloads)), "doc_id bigint, payload binary"
    )
    got = {r["doc_id"]: r for r in MM.extract_meta(df).collect()}
    for i, buf in enumerate(payloads):
        h = int(hashlib.md5(buf).hexdigest()[:15], 16)
        assert (got[i]["fake_width"], got[i]["fake_height"]) == (
            h % 64 + 1,
            (h >> 6) % 64 + 1,
        )
        assert got[i]["byte_len"] == len(buf)


@pytest.mark.skipif(not _HAS_PIL, reason="Pillow not installed in this sandbox")
def test_extract_meta_decodes_a_real_image(spark):
    """Wherever Pillow exists, ``extract_meta`` runs the real decode: a
    generated 3x2 PNG payload reads back as width 3, height 2."""
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (3, 2), (255, 0, 0)).save(buf, format="PNG")
    df = spark.createDataFrame([(7, buf.getvalue())], "doc_id bigint, payload binary")
    row = MM.extract_meta(df).first()
    assert (row["fake_width"], row["fake_height"]) == (3, 2)


def test_multimodal_resize_clamps_dims(docs):
    out = MM.resize_images(MM.attach_fake_payload(docs), max_side=16).collect()
    assert len(out) == 4
    for r in out:
        assert 1 <= r["out_width"] <= 16 and 1 <= r["out_height"] <= 16
        assert len(bytes(r["thumb"])) == 16  # md5 digest stand-in


def test_multimodal_frame_sampling_explodes(docs):
    out = MM.sample_frames(MM.attach_fake_payload(docs), every_n_bytes=16, max_frames=3)
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2, 3, 4}
    for frames in by_doc.values():
        assert 1 <= len(frames) <= 3
        assert [f["frame_idx"] for f in sorted(frames, key=lambda x: x["frame_idx"])] == list(range(len(frames)))
        for f in frames:
            assert len(bytes(f["frame_payload"])) <= 16


def test_lsh_verified_jaccard_matches_bruteforce(docs):
    from pyspark.sql import functions as F2

    brute = {
        (r["d1"], r["d2"]): r["shared"]
        for r in DD.ngram_jaccard_pairs(docs, n=3).collect()
    }
    lsh = {
        (r["d1"], r["d2"]): r["shared"]
        for r in DD.lsh_verified_jaccard_pairs(docs, n=3).collect()
    }
    # every LSH-candidate pair's overlap must agree exactly with brute force
    for pair, shared in lsh.items():
        assert brute[pair] == shared
    # and the planted near-dups are recalled
    assert (1, 2) in lsh


def test_minhash_rejects_bad_band_config(spark, docs=None):
    import pytest

    d = spark.createDataFrame([(1, "a b c d e")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="divide"):
        DD.minhash_lsh_pairs(d, num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="divide"):
        DD.minhash_lsh_pairs(d, num_hashes=16, bands=5)


def test_simhash_pairs_rejects_incomplete_banding(spark):
    import pytest

    d = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        DD.simhash_near_pairs(d, bits=16, band_bits=8, max_hamming=2)


def test_ann_probed_recall_pinned(spark, sf_dir):
    """VERDICT r3 #7: pin recall@k of the multi-table probed LSH path
    against the exact brute-force baseline on the real test corpus —
    plane/table/probe tuning must not silently destroy quality.  The
    registry parameters measure ~0.88 on the 64-dim corpus (single
    12-plane table measured 0.02 — that regression is what this pin
    catches)."""
    from etl_cpc_schema_spark.queries import (
        ANN_PROBED_K,
        ANN_PROBED_PLANES,
        ANN_PROBED_QMAX,
        ANN_PROBED_TABLES,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < ANN_PROBED_QMAX)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(embs, qs, k=ANN_PROBED_K).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_topk(
            embs,
            k=ANN_PROBED_K,
            planes=ANN_PROBED_PLANES,
            probe_bits=ANN_PROBED_PLANES,
            tables=ANN_PROBED_TABLES,
            query_pred=F.col("vid") < ANN_PROBED_QMAX,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"ANN recall@{ANN_PROBED_K} collapsed to {recall:.3f}"


def test_ann_ivf_recall_pinned(spark, sf_dir):
    """IVF recall pin: nprobe=8 of 32 Lloyd-refined cells measures
    ~0.83 on the near-uniform synthetic corpus (IVF's adversarial case
    — no cluster structure; seed-only cells measured ~0.78).  A drop
    below 0.80 means the assignment, Lloyd refinement, or probing
    broke, not the data."""
    from etl_cpc_schema_spark.queries import (
        ANN_IVF_CENTROIDS,
        ANN_IVF_K,
        ANN_IVF_LLOYD,
        ANN_IVF_NPROBE,
        ANN_IVF_QMAX,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < ANN_IVF_QMAX)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(embs, qs, k=ANN_IVF_K).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(
            embs,
            k=ANN_IVF_K,
            n_centroids=ANN_IVF_CENTROIDS,
            nprobe=ANN_IVF_NPROBE,
            query_pred=F.col("vid") < ANN_IVF_QMAX,
            lloyd_iters=ANN_IVF_LLOYD,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"IVF recall@{ANN_IVF_K} collapsed to {recall:.3f}"


def test_ann_filtered_recall_pinned(spark, sf_dir):
    """Filtered-ANN recall pin (ann_filtered_topk): same-label top-k
    via ivf_topk(match_cols=('label',)) vs the exact filtered brute
    force.  This pin guards BOTH failure modes of filtered search:
    a broken match propagation (wrong/shifted labels through the
    Arrow passthrough would crater recall toward 0) and the
    selectivity cliff (the registry's nprobe=20 restores the
    candidate count a 1/10-selectivity filter removes; nprobe=8
    measured 0.59 — below this pin by design)."""
    from etl_cpc_schema_spark.queries import (
        ANN_FILT_NPROBE,
        ANN_IVF_CENTROIDS,
        ANN_IVF_K,
        ANN_IVF_LLOYD,
        ANN_IVF_QMAX,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = SIM.quantized(embs, "vec_id", "embedding").join(
        embs.select(F.col("vec_id").alias("vid"), "label"), "vid"
    )
    a = q.filter(F.col("vid") < ANN_IVF_QMAX).alias("a")
    b = q.alias("b")
    from etl_cpc_schema_spark.functions import vectors as VEX

    cos = VEX.cosine_q(
        VEX.dot_q(F.col("a.qv"), F.col("b.qv")),
        F.col("a.nsq"),
        F.col("b.nsq"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in (
            a.join(
                b,
                (F.col("a.label") == F.col("b.label"))
                & (F.col("a.vid") != F.col("b.vid")),
            )
            .select(
                F.col("a.vid").alias("q_id"),
                F.col("b.vid").alias("neighbor_id"),
                cos.alias("cos"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= ANN_IVF_K)
            .collect()
        )
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.ivf_topk(
            embs,
            k=ANN_IVF_K,
            n_centroids=ANN_IVF_CENTROIDS,
            nprobe=ANN_FILT_NPROBE,
            query_pred=F.col("vid") < ANN_IVF_QMAX,
            lloyd_iters=ANN_IVF_LLOYD,
            match_cols=("label",),
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"filtered recall collapsed to {recall:.3f}"
    # every retrieved neighbor actually satisfies the filter
    lab = {r["vec_id"]: r["label"] for r in embs.select("vec_id", "label").collect()}
    assert all(lab[qi] == lab[ni] for qi, ni in approx)


def test_ivf_passthrough_preserves_metadata(spark, sf_dir):
    """ivf_assign(passthrough=...) must carry metadata columns through
    the Arrow kernel untouched and aligned with their vector — a
    shifted column (the classic vectorization off-by-one) would make
    filtered search silently filter on the WRONG rows."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = SIM.ivf_assign(
        embs, n_centroids=8, rank_limit=3, passthrough=("label",)
    )
    want = {r["vec_id"]: r["label"] for r in embs.select("vec_id", "label").collect()}
    rows = out.select("vid", "label", "cell_rank").collect()
    assert len(rows) == 3 * len(want)
    assert all(want[r["vid"]] == r["label"] for r in rows)


def test_ivf_cells_partition_corpus(spark, sf_dir):
    """Each vector lands in exactly one cell (rank_limit=1) and every
    cell id is a centroid id — the invariant that makes IVF candidate
    pairs unique without a distinct."""
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign = SIM.ivf_assign(embs, n_centroids=32)
    n = embs.count()
    assert assign.count() == n
    assert assign.select("vid").distinct().count() == n
    cells = {r["cell"] for r in assign.select("cell").distinct().collect()}
    assert cells <= set(range(32))


def test_ann_knn_join_recall_pinned(spark, sf_dir):
    """Recall pin for the FULL k-NN join (every vector a query): same
    machinery as the probed path, but the unrestricted probe side is a
    different code path (no query_pred filter) — pin it independently
    so a regression in either branch is caught."""
    from etl_cpc_schema_spark.queries import (
        ANN_PROBED_K,
        ANN_PROBED_PLANES,
        ANN_PROBED_TABLES,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(embs, embs, k=ANN_PROBED_K).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.lsh_knn_join_blas(
            embs,
            k=ANN_PROBED_K,
            planes=ANN_PROBED_PLANES,
            tables=ANN_PROBED_TABLES,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"kNN-join recall@{ANN_PROBED_K} collapsed to {recall:.3f}"


def test_knn_join_blas_equals_expression_path(spark, sf_dir):
    """The bucketed-BLAS k-NN join must emit EXACTLY the rows of the
    expression-path lsh_topk with an unrestricted probe side — same
    candidates (bucket-Hamming <= 1 in any table), same integer-exact
    cosines, same (cos desc, neighbor_id) ranking."""
    from etl_cpc_schema_spark.queries import (
        ANN_PROBED_K,
        ANN_PROBED_PLANES,
        ANN_PROBED_TABLES,
    )

    from pyspark.sql import functions as FF

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # append a zero-norm vector: its pairs have NULL cosine, which both
    # paths must RANK (nulls last), not drop — the regression a
    # nan-filtering BLAS kernel would introduce
    dim = base.select(FF.size("embedding").alias("d")).first()["d"]
    zero = spark.createDataFrame(
        [(990001, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    embs = base.select("vec_id", "embedding").unionByName(zero)
    blas = sorted(
        (r["q_id"], r["neighbor_id"], r["rank"])
        for r in SIM.lsh_knn_join_blas(
            embs, k=ANN_PROBED_K, planes=ANN_PROBED_PLANES, tables=ANN_PROBED_TABLES
        ).collect()
    )
    expr = sorted(
        (r["q_id"], r["neighbor_id"], r["rank"])
        for r in SIM.lsh_topk(
            embs,
            k=ANN_PROBED_K,
            planes=ANN_PROBED_PLANES,
            probe_bits=ANN_PROBED_PLANES,
            tables=ANN_PROBED_TABLES,
        ).collect()
    )
    assert blas == expr


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing GUARANTEE (Schleimer et al. §3): two documents
    sharing a token run of length >= w + k - 1 share at least one
    selected fingerprint.  Build doc pairs around planted common runs
    (with distinct vocab elsewhere so no accidental overlap) and
    assert the guarantee holds through the registry query machinery."""
    from etl_cpc_schema_spark.queries import (
        _WIN_K,
        _WIN_W,
        text_winnowing_q,
    )
    import tempfile

    run_len = _WIN_W + _WIN_K - 1  # 8 tokens — the guarantee threshold
    shared = [f"common{i}" for i in range(run_len)]
    docs = [
        (0, " ".join([f"alpha{i}" for i in range(10)] + shared)),
        (1, " ".join(shared + [f"beta{i}" for i in range(10)])),
        (2, " ".join([f"gamma{i}" for i in range(20)])),  # control
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(i, t, "en", "src", len(t)) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        rows = text_winnowing_q(spark, td).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert fps[0] & fps[1], "shared 8-token run produced no shared fingerprint"
    assert not (fps[0] & fps.get(2, set()))
    assert not (fps[1] & fps.get(2, set()))


def test_ann_pq_recall_pinned(spark, sf_dir):
    """PQ recall pin: the 64-bit-code ADC shortlist (M=16 × 16
    centroids, 32 candidates) + exact rerank measures ~0.87 recall@3
    on the near-uniform synthetic corpus — PQ's adversarial case (no
    correlation structure for the sub-codebooks to exploit; raw M=4
    ADC with no rerank measures ~0.13, which is why the registry
    query ships the two-stage shape).  A drop below 0.80 means the
    codebook training, code assignment, LUT scoring, or rerank broke."""
    from etl_cpc_schema_spark.queries import (
        ANN_PQ_K,
        ANN_PQ_KSUB,
        ANN_PQ_LLOYD,
        ANN_PQ_M,
        ANN_PQ_QMAX,
        ANN_PQ_SHORTLIST,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < ANN_PQ_QMAX)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(embs, qs, k=ANN_PQ_K).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.pq_topk_rerank(
            embs,
            k=ANN_PQ_K,
            shortlist=ANN_PQ_SHORTLIST,
            m_subspaces=ANN_PQ_M,
            ksub=ANN_PQ_KSUB,
            query_pred=F.col("vec_id") < ANN_PQ_QMAX,
            lloyd_iters=ANN_PQ_LLOYD,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"PQ recall@{ANN_PQ_K} collapsed to {recall:.3f}"


def test_ann_ivfpq_recall_pinned(spark, sf_dir):
    """IVFADC recall pin: IVF candidate pruning (nprobe=10 of 32
    Lloyd-refined cells) composed with PQ-compressed ADC scoring
    (64-bit codes) and a 48-candidate exact rerank measures ~0.85
    recall@3 on the near-uniform corpus — both levers' adversarial
    case at once.  A drop below 0.80 means the composition (cell
    probing, code assignment, LUT scoring, or rerank) broke."""
    from etl_cpc_schema_spark.queries import (
        ANN_IVFPQ_CENTROIDS,
        ANN_IVFPQ_IVF_LLOYD,
        ANN_IVFPQ_K,
        ANN_IVFPQ_KSUB,
        ANN_IVFPQ_M,
        ANN_IVFPQ_NPROBE,
        ANN_IVFPQ_PQ_LLOYD,
        ANN_IVFPQ_QMAX,
        ANN_IVFPQ_SHORTLIST,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = embs.filter(F.col("vec_id") < ANN_IVFPQ_QMAX)
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.cosine_topk_bruteforce(embs, qs, k=ANN_IVFPQ_K).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in SIM.ivfpq_topk(
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
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.80, f"IVFPQ recall@{ANN_IVFPQ_K} collapsed to {recall:.3f}"


def test_ivf_pq_seeding_tolerates_sparse_ids(spark):
    """Seed selection is 'the n lowest-id vectors', not 'ids < n'
    (round-7 ADVICE): offset/sparse ids previously produced an empty
    seed set and crashed in np.vstack; an empty corpus now fails with
    a descriptive error instead."""
    import random

    random.seed(3)
    rows = [
        (1000 + 7 * i, [round(random.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(40)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cells = SIM.ivf_assign(embs, n_centroids=4)
    assert cells.filter("cell_rank = 1").count() == 40
    # seed cell ids are the 4 LOWEST vector ids present
    got_cells = {r["cell"] for r in cells.select("cell").distinct().collect()}
    assert got_cells <= {1000, 1007, 1014, 1021}

    C = SIM.pq_train(embs, m_subspaces=2, ksub=4)
    assert C.shape == (2, 4, 4)

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        SIM.ivf_assign(empty, n_centroids=4)
    with pytest.raises(ValueError, match="empty"):
        SIM.pq_train(empty)


def test_shared_seed_prefix_matches_per_train_collects(spark):
    """The IVFADC composition collects ONE lowest-id prefix and slices
    it for both training chains (round 13, ``_seed``): seeded
    ivf_train/pq_train must return bit-identical arrays to their own
    per-call collects — on SPARSE ids (the round-7 regression shape),
    and with the prefix longer than either chain's own seed count."""
    import random

    import numpy as np

    random.seed(5)
    rows = [
        (500 + 13 * i, [round(random.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(30)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    n_centroids, ksub = 6, 4
    seed = SIM._collect_matrix(
        embs.orderBy("vec_id").limit(max(n_centroids, ksub)),
        "vec_id",
        "embedding",
    )
    for lloyd in (0, 1):
        own_cells, own_C = SIM.ivf_train(embs, n_centroids, lloyd_iters=lloyd)
        sh_cells, sh_C = SIM.ivf_train(
            embs, n_centroids, lloyd_iters=lloyd, _seed=seed
        )
        np.testing.assert_array_equal(own_cells, sh_cells)
        np.testing.assert_array_equal(own_C, sh_C)
    own_pq = SIM.pq_train(embs, m_subspaces=2, ksub=ksub, lloyd_iters=1)
    sh_pq = SIM.pq_train(
        embs, m_subspaces=2, ksub=ksub, lloyd_iters=1, _seed=seed
    )
    np.testing.assert_array_equal(own_pq, sh_pq)


def test_bloom_bitmap_no_false_negatives_and_prunes(spark):
    """The Bloom prefilter's contract: every member probes TRUE (no
    false negatives — this is what makes the exact oracle valid for
    docs_bloom_contamination), and non-members overwhelmingly probe
    FALSE (the prefilter actually prunes the confirm join's input)."""
    members = spark.range(0, 500).select(F.col("id").alias("s"))
    words = DD.bloom_bitmap(members, "s")
    assert len(words) == DD.BLOOM_M_BITS // 64

    probe_in = members.filter(
        DD._bloom_might_contain(F.col("s"), words, DD.BLOOM_M_BITS, DD.BLOOM_K)
    )
    assert probe_in.count() == 500  # zero false negatives

    outsiders = spark.range(10_000, 30_000).select(F.col("id").alias("s"))
    fp = outsiders.filter(
        DD._bloom_might_contain(F.col("s"), words, DD.BLOOM_M_BITS, DD.BLOOM_K)
    ).count()
    # 500 keys * 4 hashes in 2^16 bits -> ~3% set bits, fp ~ 1e-6;
    # anything under 1% of 20k proves the prefilter prunes
    assert fp < 200


def test_bloom_contamination_equals_exact(spark):
    """bloom_contamination is a performance path, not an approximation:
    its output must be row-identical to benchmark_contamination."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta words diverge here completely"),
            (2, "no overlap with anything benchmark related at all"),
            (3, "zeta eta theta shared tail plus unique middle parts"),
        ],
        "doc_id bigint, text string",
    )
    exact = {
        (r["doc_id"], r["n_shared"])
        for r in DD.benchmark_contamination(corpus, bench, n=3).collect()
    }
    bloom = {
        (r["doc_id"], r["n_shared"])
        for r in DD.bloom_contamination(corpus, bench, n=3).collect()
    }
    assert bloom == exact
    assert {d for d, _ in exact} == {1, 3}


def test_kmeans_prune_drops_quarter_per_cluster(spark):
    """Per-cluster bookkeeping of kmeans_prototype_prune: ranks are a
    permutation of 1..n within each cluster, and the keep rule drops
    exactly floor(n/4) rows — the most-prototypical quarter."""
    import random

    random.seed(11)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(60)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = SIM.kmeans_prototype_prune(embs, n_clusters=4, lloyd_iters=1).collect()
    assert len(out) == 60
    by_cell: dict = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, rs in by_cell.items():
        n = len(rs)
        assert sorted(r["proto_rank"] for r in rs) == list(range(1, n + 1))
        assert all(r["n_cluster"] == n for r in rs)
        kept = [r for r in rs if r["keep"]]
        assert len(kept) == n - n // 4
        # the dropped rows are exactly the lowest (most prototypical) ranks
        assert {r["proto_rank"] for r in rs if not r["keep"]} == set(
            range(1, n // 4 + 1)
        )


def test_bloom_broadcast_kernel_path_matches_literal(spark):
    """Past BLOOM_LITERAL_MAX_WORDS the bitmap ships as a broadcast
    variable probed by the Arrow kernel instead of a plan literal —
    both paths must keep and drop exactly the same rows."""
    keys = spark.range(0, 300).select(F.col("id").alias("s"))
    probes = spark.range(0, 5000).select(F.col("id").alias("s"))
    big_m = 64 * (DD.BLOOM_LITERAL_MAX_WORDS * 2)  # forces the kernel path
    words = DD.bloom_bitmap(keys, "s", m_bits=big_m)
    assert len(words) > DD.BLOOM_LITERAL_MAX_WORDS

    kernel = {
        r["s"] for r in DD._bloom_prefilter(probes, "s", words, big_m, DD.BLOOM_K).collect()
    }
    literal = {
        r["s"]
        for r in probes.filter(
            DD._bloom_might_contain(F.col("s"), words, big_m, DD.BLOOM_K)
        ).collect()
    }
    assert kernel == literal
    assert set(range(300)) <= kernel  # still no false negatives


def test_kmv_overlap_estimator_accuracy(spark):
    """KMV sketch accuracy on a corpus of KNOWN overlap: two sources
    whose shingle sets intersect in roughly half, one disjoint source.
    Standard error of the union estimate is ~1/sqrt(k-1) (~13% at
    k=64); pin a generous 3-sigma band, and pin that the disjoint
    source produces NO pair rows."""
    from etl_cpc_schema_spark.queries import kmv_source_overlap

    n = 3000
    text_a = " ".join(f"t{i}" for i in range(n))
    text_b = " ".join(f"t{i}" for i in range(n // 2, n + n // 2))
    text_c = " ".join(f"z{i}" for i in range(n))
    d = spark.createDataFrame(
        [("srcA", text_a), ("srcB", text_b), ("srcC", text_c)],
        "source string, text string",
    )
    rows = {
        (r["src_a"], r["src_b"]): r for r in kmv_source_overlap(d).collect()
    }
    assert set(rows) == {("srcA", "srcB")}  # srcC is disjoint: no row
    r = rows[("srcA", "srcB")]
    # exact: |A| = |B| = n-2 shingles, |A ∩ B| = n/2 - 2, |A ∪ B| = 3n/2 - 2
    exact_union = 3 * n // 2 - 2
    exact_inter = n // 2 - 2
    assert abs(r["est_union"] - exact_union) < 0.40 * exact_union
    assert abs(r["est_intersection"] - exact_inter) < 0.55 * exact_inter
    assert r["kk"] == 64 and 0 < r["shared"] < 64


def test_ivfpq_index_persistence_roundtrip(spark, tmp_path):
    """save_ivfpq_index -> ivfpq_topk(index_path=...) must reproduce
    the in-session train-and-probe results BIT-FOR-BIT: the persisted
    centroid/codebook/code coordinates are the exact integers the
    direct path computes, and the indexed probe ranks only the query
    subset."""
    import random

    random.seed(7)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(16)])
        for i in range(120)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    kw = dict(
        k=3, n_centroids=8, nprobe=4, m_subspaces=4, ksub=8,
        shortlist=16, query_pred=F.col("vec_id") < 20,
        ivf_lloyd_iters=1, pq_lloyd_iters=1,
    )
    direct = {
        (r["q_id"], r["neighbor_id"], r["rank"])
        for r in SIM.ivfpq_topk(embs, **kw).collect()
    }
    path = str(tmp_path / "ivfpq_index")
    SIM.save_ivfpq_index(
        embs, path, n_centroids=8, m_subspaces=4, ksub=8,
        ivf_lloyd_iters=1, pq_lloyd_iters=1,
    )
    indexed = {
        (r["q_id"], r["neighbor_id"], r["rank"])
        for r in SIM.ivfpq_topk(embs, **kw, index_path=path).collect()
    }
    assert indexed == direct and len(direct) > 0

    cells, Civf, Cpq = SIM.load_ivfpq_index(spark, path)
    assert len(cells) == 8 and Cpq.shape == (4, 8, 4)


def test_dedup_index_roundtrip_bit_equality(spark, tmp_path):
    """save_dedup_index -> incremental_dedup_indexed must reproduce the
    one-shot crossing-pairs formulation BIT-FOR-BIT: same exact-dup
    hits, same per-arrival near counts, same keep verdicts — because
    the probe evaluates the same fingerprint / shingle-hash / band-key
    expressions the index was built with."""
    import random

    random.seed(11)
    vocab = [f"tok{i}" for i in range(30)]
    rows = []
    for i in range(60):
        words = [vocab[random.randrange(len(vocab))] for _ in range(20)]
        rows.append((i, " ".join(words)))
    # plant: arrival 0 is an exact dup of corpus 1; arrival 5 is a near
    # dup of corpus 6 (one token differs) — doc_id % 5 == 0 = arrivals
    rows[0] = (0, rows[1][1])
    near = rows[6][1].split()
    near[-1] = "changed"
    rows[5] = (5, " ".join(near))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)

    # one-shot formulation (the pre-index shape of docs_incremental_dedup)
    fp = __import__(
        "etl_cpc_schema_spark.functions.text", fromlist=["fingerprint"]
    ).fingerprint(F.col("text"))
    arr_fp = arrivals.select("doc_id", fp.alias("fp"))
    corpus_fp = (
        corpus.select(fp.alias("fp")).distinct().withColumn("hit", F.lit(True))
    )
    pairs = DD.lsh_verified_jaccard_pairs(d, n=3).filter(
        DD.jaccard_at_least(F.col("shared"), F.col("n1"), F.col("n2"), num=4, den=5)
    )
    crossing = pairs.filter((F.col("d1") % 5 == 0) != (F.col("d2") % 5 == 0))
    near_ct = (
        crossing.select(
            F.when(F.col("d1") % 5 == 0, F.col("d1"))
            .otherwise(F.col("d2"))
            .alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_near"))
    )
    exact = F.coalesce(F.col("hit"), F.lit(False))
    n_near = F.coalesce(F.col("n_near"), F.lit(0)).cast("bigint")
    oneshot = {
        (r["doc_id"], r["exact_dup"], r["n_near"], r["keep"])
        for r in arr_fp.join(corpus_fp, "fp", "left")
        .join(near_ct, "doc_id", "left")
        .select(
            "doc_id",
            exact.alias("exact_dup"),
            n_near.alias("n_near"),
            (~exact & (n_near == 0)).alias("keep"),
        )
        .collect()
    }

    path = str(tmp_path / "dedup_index")
    DD.save_dedup_index(corpus, path, n=3)
    index = DD.load_dedup_index(spark, path)
    indexed = {
        (r["doc_id"], r["exact_dup"], r["n_near"], r["keep"])
        for r in DD.incremental_dedup_indexed(arrivals, index).collect()
    }
    assert indexed == oneshot
    # planted facts actually detected through the index
    by_id = {t[0]: t for t in indexed}
    assert by_id[0][1] is True and by_id[0][3] is False   # exact dup
    assert by_id[5][2] >= 1 and by_id[5][3] is False      # near dup
    assert any(t[3] for t in indexed)                     # some keepers

    # geometry comes from meta.parquet, not the caller
    assert (index["n"], index["num_hashes"], index["bands"]) == (3, 16, 4)


def test_multimodal_dhash_finds_planted_near_dups(spark):
    """Perceptual-hash dedup detects planted payload duplicates: an
    exact copy collides at Hamming 0, a one-chunk edit stays within
    the Hamming budget (one changed 16-char chunk flips few votes),
    and an unrelated payload pairs with neither."""
    from etl_cpc_schema_spark.operators.multimodal import (
        PHASH_BITS,
        attach_fake_payload,
        dhash_table,
    )

    # 20 identical 16-char chunks: every bit's vote margin is +-20, so
    # replacing ONE chunk (vote shift <= 2) provably flips zero bits --
    # the deterministic analogue of "same image, one block re-encoded"
    base = "abcdefghijklmnop" * 20
    near = base[:-16] + "qrstuvwxyz012345"  # last chunk replaced
    other = "totally unrelated payload content with different bytes 123"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "doc_id bigint, text string",
    )
    ph = dhash_table(attach_fake_payload(docs))
    by_id = {r["doc_id"]: r["phash"] for r in ph.collect()}
    assert by_id[1] == by_id[2]  # exact payload dup -> identical phash
    assert 0 <= bin(by_id[1] ^ by_id[3]).count("1") <= 2

    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in DD.banded_hamming_pairs(
            ph, "phash", PHASH_BITS, max_hamming=2, band_bits=4
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)

    # fallback phash is the documented md5-vote formula (oracle twin)
    import hashlib
    import math

    def ref_phash(s: str) -> int:
        votes = [0] * 16
        for j in range(math.ceil(len(s) / 16)):
            h = int(
                hashlib.md5(
                    ("ph:" + s[j * 16 : j * 16 + 16]).encode()
                ).hexdigest()[:15],
                16,
            )
            for b in range(16):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(16) if votes[b] > 0)

    assert by_id[4] == ref_phash(other)


def test_dedup_index_append_equals_rebuild(spark, tmp_path):
    """append_to_dedup_index(corpus_b) onto index(corpus_a) must be
    probe-for-probe identical to save_dedup_index(corpus_a UNION
    corpus_b) — the daily-upsert lifecycle never diverges from a
    from-scratch rebuild."""
    import random

    random.seed(13)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(vocab[random.randrange(len(vocab))] for _ in range(18)))
        for i in range(45)
    ]
    # arrivals = doc_id % 5 == 0; corpus splits into an initial half
    # and an appended half
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    corpus_a = corpus.filter(F.col("doc_id") < 22)
    corpus_b = corpus.filter(F.col("doc_id") >= 22)

    p_full = str(tmp_path / "idx_full")
    DD.save_dedup_index(corpus, p_full, n=3)
    p_inc = str(tmp_path / "idx_inc")
    DD.save_dedup_index(corpus_a, p_inc, n=3)
    DD.append_to_dedup_index(corpus_b, p_inc)

    def probe(path):
        idx = DD.load_dedup_index(spark, path)
        return {
            (r["doc_id"], r["exact_dup"], r["n_near"], r["keep"])
            for r in DD.incremental_dedup_indexed(arrivals, idx).collect()
        }

    assert probe(p_inc) == probe(p_full)


def test_dedup_index_append_frames_equals_resign(spark, tmp_path):
    """append_to_dedup_index(frames=...) — the round-14 serving-loop
    path that reuses the probe's signing work — must write rows
    bit-identical to the classic re-signing append, table for table,
    and a follow-up probe must agree."""
    import random

    from etl_cpc_schema_spark.operators import index_store as IS

    random.seed(29)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(vocab[random.randrange(len(vocab))] for _ in range(18)))
        for i in range(40)
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    corpus_a = d.filter(F.col("doc_id") < 20)
    corpus_b = d.filter(F.col("doc_id") >= 20)

    p_classic = str(tmp_path / "idx_classic")
    p_frames = str(tmp_path / "idx_frames")
    DD.save_dedup_index(corpus_a, p_classic, n=3)
    DD.save_dedup_index(corpus_a, p_frames, n=3)

    DD.append_to_dedup_index(corpus_b, p_classic, batch_key="b0")

    idx = DD.load_dedup_index(spark, p_frames)
    decision, frames = DD.incremental_dedup_probe(corpus_b, idx)
    decision.count()  # the sink's barrier: materializes the shared
    # shingle checkpoint before the frame writes below consume it
    DD.append_to_dedup_index(
        corpus_b,
        p_frames,
        batch_key="b0",
        frames=frames,
        meta={k: idx[k] for k in ("n", "num_hashes", "bands")},
    )

    for table in ("fingerprints", "bands", "shingles"):
        got = sorted(
            map(tuple, IS.read_table(spark, p_frames, table).collect())
        )
        want = sorted(
            map(tuple, IS.read_table(spark, p_classic, table).collect())
        )
        assert got == want, table

    probes = d.filter(F.col("doc_id") % 7 == 0)

    def probe(path):
        h = DD.load_dedup_index(spark, path)
        return {
            tuple(r)
            for r in DD.incremental_dedup_indexed(probes, h).collect()
        }

    assert probe(p_frames) == probe(p_classic)


def test_dedup_index_and_phash_edge_cases(spark, tmp_path):
    """Empty arrivals probe cleanly; empty/whitespace payloads get a
    zero perceptual hash; dhash_table rejects invalid widths."""
    from etl_cpc_schema_spark.operators.multimodal import (
        attach_fake_payload,
        dhash_table,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    path = str(tmp_path / "idx")
    DD.save_dedup_index(corpus, path, n=3)
    idx = DD.load_dedup_index(spark, path)
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert DD.incremental_dedup_indexed(empty, idx).count() == 0

    docs = spark.createDataFrame(
        [(1, ""), (2, "   ")], "doc_id bigint, text string"
    )
    ph = {r["doc_id"]: r["phash"] for r in
          dhash_table(attach_fake_payload(docs)).collect()}
    assert ph[1] == 0  # zero chunks -> all votes 0 -> hash 0
    assert ph[2] >= 0  # whitespace chunk hashes deterministically

    with pytest.raises(ValueError, match="multiple of 4"):
        dhash_table(attach_fake_payload(docs), bits=18)


def test_hypothesis_phash_parity_random_unicode(spark):
    """dhash_table's fallback must equal the pure-Python md5-vote
    reference for arbitrary unicode text — the chunking is by
    CHARACTER on the decoded payload, so multi-byte codepoints must
    not shift chunk boundaries (the SQL oracle also chunks by char).
    One batched Spark run over every generated doc."""
    import hashlib
    import math

    from hypothesis import given, settings, strategies as st

    from etl_cpc_schema_spark.operators.multimodal import (
        attach_fake_payload,
        dhash_table,
    )

    texts: list[str] = []

    @settings(max_examples=40, deadline=None)
    @given(st.text(min_size=0, max_size=70))
    def _collect(s):
        texts.append(s)

    _collect()
    texts.extend(["", " " * 16, "é" * 17, "𝄞abc" * 5])  # forced edges

    def ref_phash(s: str, bits: int) -> int:
        votes = [0] * bits
        for j in range(math.ceil(len(s) / 16)):
            h = int(
                hashlib.md5(
                    ("ph:" + s[j * 16 : j * 16 + 16]).encode("utf-8")
                ).hexdigest()[:15],
                16,
            )
            for b in range(bits):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(bits) if votes[b] > 0)

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    for bits in (16, 60):
        got = {
            r["doc_id"]: r["phash"]
            for r in dhash_table(attach_fake_payload(docs), bits=bits).collect()
        }
        for i, s in enumerate(texts):
            assert got[i] == ref_phash(s, bits), (bits, repr(s))


def test_ivfpq_index_geometry_mismatch_raises(spark, tmp_path):
    """ivfpq_topk(index_path=...) must reject a caller-passed geometry
    that differs from the loaded index's trained shapes instead of
    silently probing someone else's layout; None (the default) accepts
    whatever the index holds."""
    import random

    random.seed(3)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(60)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    SIM.save_ivfpq_index(embs, path, n_centroids=4, m_subspaces=2, ksub=4)
    ok = SIM.ivfpq_topk(
        embs, k=2, nprobe=2, shortlist=8,
        query_pred=F.col("vec_id") < 5, index_path=path,
    )
    assert ok.count() > 0
    with pytest.raises(ValueError, match="n_centroids=8 does not match"):
        SIM.ivfpq_topk(
            embs, k=2, n_centroids=8, nprobe=2, shortlist=8,
            query_pred=F.col("vec_id") < 5, index_path=path,
        )


def test_ivfpq_filtered_index_lifecycle(spark, tmp_path):
    """Filterable IVFADC index (save attr_cols → filtered probe →
    attr-carrying append → compaction), four pins: (1) a filtered
    probe only returns same-label neighbors; (2) an index saved
    WITHOUT the attribute refuses match_cols loudly; (3) an append
    lacking the attribute column refuses loudly (a silently-null
    attribute would make appended vectors unmatched forever); (4)
    filtered answers are identical before and after compaction (the
    attrs rewrite verbatim)."""
    import random

    random.seed(23)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(16)], i % 3)
        for i in range(90)
    ]
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    path = str(tmp_path / "fidx")
    SIM.save_ivfpq_index(
        embs.filter(F.col("vec_id") < 60), path,
        n_centroids=8, m_subspaces=4, ksub=8, attr_cols=("label",),
    )
    SIM.append_to_ivfpq_index(embs.filter(F.col("vec_id") >= 60), path)

    def probe():
        return sorted(
            map(
                tuple,
                SIM.ivfpq_topk(
                    embs, k=2, nprobe=6, shortlist=16,
                    query_pred=F.col("vec_id") < 10,
                    index_path=path, match_cols=("label",),
                ).collect(),
            )
        )

    got = probe()
    assert got, "filtered probe returned nothing"
    lab = {r["vec_id"]: r["label"] for r in embs.select("vec_id", "label").collect()}
    assert all(lab[q] == lab[n] for q, n, _ in got)
    # appended vectors (ids >= 60) are retrievable through the filter
    assert any(n >= 60 for _, n, _ in got)

    # (4) compaction preserves filtered answers exactly
    SIM.compact_ivfpq_index(spark, path)
    assert probe() == got

    # (2) an attr-less index refuses the filtered probe
    bare = str(tmp_path / "bare")
    SIM.save_ivfpq_index(
        embs.filter(F.col("vec_id") < 60), bare,
        n_centroids=8, m_subspaces=4, ksub=8,
    )
    with pytest.raises(ValueError, match="not persisted in the index"):
        SIM.ivfpq_topk(
            embs, k=2, nprobe=6, shortlist=16,
            query_pred=F.col("vec_id") < 10,
            index_path=bare, match_cols=("label",),
        )

    # (3) an append lacking the persisted attribute refuses
    with pytest.raises(ValueError, match="batch lacks"):
        SIM.append_to_ivfpq_index(
            embs.filter(F.col("vec_id") >= 60).drop("label"), path
        )


def test_ivfpq_index_append_equals_frozen_rebuild(spark, tmp_path):
    """append_to_ivfpq_index(batch_b) onto index(corpus_a) must be
    probe-for-probe identical to encoding corpus_a UNION batch_b under
    index(corpus_a)'s FROZEN geometry (the dedup-index append contract
    applied to IVFADC — no retraining on append), and the codes table
    must cover exactly the union's ids."""
    import random

    random.seed(11)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(16)])
        for i in range(120)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    corpus_a = embs.filter(F.col("vec_id") < 70)
    batch_b = embs.filter(F.col("vec_id") >= 70)

    p_inc = str(tmp_path / "idx_inc")
    SIM.save_ivfpq_index(
        embs=corpus_a, path=p_inc, n_centroids=8, m_subspaces=4, ksub=8,
        ivf_lloyd_iters=1, pq_lloyd_iters=1,
    )
    SIM.append_to_ivfpq_index(batch_b, p_inc)

    # reference: same geometry, union encoded in one shot
    cells, Civf, Cpq = SIM.load_ivfpq_index(spark, p_inc)
    p_ref = str(tmp_path / "idx_ref")
    spark.read.parquet(f"{p_inc}/centroids.parquet").write.parquet(
        f"{p_ref}/centroids.parquet"
    )
    spark.read.parquet(f"{p_inc}/codebook.parquet").write.parquet(
        f"{p_ref}/codebook.parquet"
    )
    assigned = (
        SIM._ivf_rank_cells(embs, cells, Civf, 1, "vec_id", "embedding")
        .filter(F.col("cell_rank") == 1)
        .select(F.col("vid").alias("n_id"), "cell")
    )
    codes = SIM.pq_encode(embs, Cpq, "vec_id", "embedding").withColumnRenamed(
        "vid", "n_id"
    )
    assigned.join(codes, "n_id").write.parquet(f"{p_ref}/codes.parquet")
    SIM.quantized(embs, "vec_id", "embedding").write.parquet(
        f"{p_ref}/vectors.parquet"
    )

    def probe(path):
        return {
            (r["q_id"], r["neighbor_id"], r["rank"])
            for r in SIM.ivfpq_topk(
                embs, k=3, nprobe=4, shortlist=16,
                query_pred=F.col("vec_id") < 20, index_path=path,
            ).collect()
        }

    assert probe(p_inc) == probe(p_ref) and len(probe(p_inc)) > 0
    got_ids = {
        r["n_id"]
        for r in spark.read.parquet(f"{p_inc}/codes.parquet").collect()
    }
    assert got_ids == set(range(120))


def test_ivfpq_index_append_guards(spark, tmp_path):
    """Empty batches are a no-op; a batch whose dims differ from the
    trained centroids is rejected loudly BEFORE any write."""
    import random

    random.seed(12)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(40)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    SIM.save_ivfpq_index(embs, path, n_centroids=4, m_subspaces=2, ksub=4)
    before = spark.read.parquet(f"{path}/codes.parquet").count()

    SIM.append_to_ivfpq_index(embs.filter(F.col("vec_id") < 0), path)
    assert spark.read.parquet(f"{path}/codes.parquet").count() == before

    bad = spark.createDataFrame(
        [(1000, [1.0, 2.0, 3.0, 4.0])], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="4 dims but the index"):
        SIM.append_to_ivfpq_index(bad, path)
    assert spark.read.parquet(f"{path}/codes.parquet").count() == before


def test_dedup_index_compaction_preserves_probes(spark, tmp_path):
    """compact_dedup_index must leave probe results bit-identical
    while reducing each data table's parquet file count to the
    target after a run of appends, and the generational commit's
    crash states (stray uncommitted generation; swept-late stale
    files) must be self-repairing on the next run."""
    import os
    import random
    import shutil

    from etl_cpc_schema_spark.operators import index_store as IS

    random.seed(17)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(vocab[random.randrange(len(vocab))] for _ in range(18)))
        for i in range(60)
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)

    path = str(tmp_path / "idx")
    DD.save_dedup_index(corpus.filter(F.col("doc_id") < 20), path, n=3)
    for lo, hi in ((20, 35), (35, 50), (50, 60)):
        DD.append_to_dedup_index(
            corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            path,
        )

    def probe():
        idx = DD.load_dedup_index(spark, path)
        return {
            (r["doc_id"], r["exact_dup"], r["n_near"], r["keep"])
            for r in DD.incremental_dedup_indexed(arrivals, idx).collect()
        }

    def nfiles(table):
        dd = IS.table_path(path, table)
        return sum(1 for f in os.listdir(dd) if f.endswith(".parquet"))

    before = probe()
    files_before = {t: nfiles(t) for t in ("fingerprints", "bands", "shingles")}
    assert all(n >= 4 for n in files_before.values()), files_before

    counts = DD.compact_dedup_index(spark, path)
    assert probe() == before and len(before) > 0
    for t in ("fingerprints", "bands", "shingles"):
        assert nfiles(t) == 1, (t, nfiles(t))
    assert counts["bands"] > 0 and counts["shingles"] > 0
    # the fold committed a generation: pointer present, flat tables
    # swept, probes resolve through the pointer
    assert os.path.exists(os.path.join(path, "current"))
    assert not os.path.exists(os.path.join(path, "bands.parquet"))

    # crash state A: a compaction died BEFORE its pointer swap,
    # leaving a stray (unreferenced) generation dir — probes ignore
    # it and the next compact sweeps it and converges
    gen1 = IS.active_root(path)
    stray = os.path.join(path, "gen_99999999")
    shutil.copytree(gen1, stray)
    assert probe() == before
    DD.compact_dedup_index(spark, path)
    assert not os.path.exists(stray)
    assert probe() == before

    # crash state B: pointer swap landed but the sweep died, leaving
    # the PRIOR generation on disk — the pointer is authoritative and
    # the next compact sweeps the leftovers
    gen2 = IS.active_root(path)
    leftover = os.path.join(path, "gen_00000000")
    shutil.copytree(gen2, leftover)
    assert probe() == before
    DD.compact_dedup_index(spark, path)
    assert not os.path.exists(leftover)
    assert probe() == before


def test_video_dedup_planted_copies(spark, tmp_path):
    """multimodal_video_dedup pins: an exact re-post shares ALL
    sampled frames (Jaccard 1); a video sharing only its first frame
    out of 4 falls under the 1/2 Jaccard gate and is filtered; the
    unrelated video pairs with nothing."""
    from etl_cpc_schema_spark.queries import multimodal_video_dedup_q

    blk = lambda ch: (ch * 64)[:64]
    full = blk("a") + blk("b") + blk("c") + blk("d")          # 4 frames
    one_shared = blk("a") + blk("x") + blk("y") + blk("z")    # 1 of 4 shared
    rows = [
        (1, full),
        (2, full),               # exact copy of 1
        (3, one_shared),         # below the Jaccard gate vs 1/2
        (4, blk("q") + blk("r") + blk("s") + blk("t")),  # unrelated
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    d.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        (r["d1"], r["d2"]): (r["shared"], r["n1"], r["n2"])
        for r in multimodal_video_dedup_q(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 2): (4, 4, 4)}


def test_collect_matrix_null_attrs_not_conflicting(spark):
    """Duplicate query ids whose attr values are BOTH null must not
    raise: pandas floats a nullable numeric column, and NaN != NaN
    made two missing attrs read as a conflict (round-8 ADVICE).  A
    real conflict (null vs value) still raises."""
    dup_null = spark.createDataFrame(
        [(1, [1.0, 2.0], None), (1, [1.0, 2.0], None)],
        "vec_id bigint, embedding array<float>, grp bigint",
    )
    ids, mat, attrs = SIM._collect_matrix(
        dup_null, "vec_id", "embedding", attr_col="grp"
    )
    assert len(ids) == 2

    conflict = spark.createDataFrame(
        [(1, [1.0, 2.0], None), (1, [1.0, 2.0], 7)],
        "vec_id bigint, embedding array<float>, grp bigint",
    )
    with pytest.raises(ValueError, match="conflicting"):
        SIM._collect_matrix(conflict, "vec_id", "embedding", attr_col="grp")


def test_ivfpq_index_compaction_preserves_probes(spark, tmp_path):
    """compact_ivfpq_index folds the appended codes table to one file
    with probe results bit-identical — the append-only ANN index gets
    the same maintenance lifecycle as the dedup index."""
    import os
    import random

    random.seed(19)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(16)])
        for i in range(150)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    SIM.save_ivfpq_index(
        embs.filter(F.col("vec_id") < 60), path,
        n_centroids=8, m_subspaces=4, ksub=8,
    )
    for lo, hi in ((60, 100), (100, 130), (130, 150)):
        SIM.append_to_ivfpq_index(
            embs.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            path,
        )

    def probe():
        return {
            (r["q_id"], r["neighbor_id"], r["rank"])
            for r in SIM.ivfpq_topk(
                embs, k=3, nprobe=4, shortlist=16,
                query_pred=F.col("vec_id") < 20, index_path=path,
            ).collect()
        }

    def nfiles():
        from etl_cpc_schema_spark.operators import index_store as IS

        return max(
            sum(
                1
                for f in os.listdir(IS.table_path(path, t))
                if f.endswith(".parquet")
            )
            for t in ("codes", "vectors")
        )

    before = probe()
    assert nfiles() >= 4
    counts = SIM.compact_ivfpq_index(spark, path)
    assert counts == {"codes": 150, "vectors": 150}
    assert nfiles() == 1
    assert probe() == before and len(before) > 0


def test_dedup_index_full_lifecycle_append_compact_append(spark, tmp_path):
    """The complete maintenance cycle in one pin: save -> append ->
    COMPACT -> append again -> probe must equal the never-compacted
    twin — compaction must not break appendability, and post-compact
    appends must keep colliding bit-identically."""
    import random

    random.seed(29)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        (i, " ".join(vocab[random.randrange(len(vocab))] for _ in range(18)))
        for i in range(60)
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    arrivals = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    c1 = corpus.filter(F.col("doc_id") < 20)
    c2 = corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40))
    c3 = corpus.filter(F.col("doc_id") >= 40)

    p_a = str(tmp_path / "cycled")
    DD.save_dedup_index(c1, p_a, n=3)
    DD.append_to_dedup_index(c2, p_a)
    DD.compact_dedup_index(spark, p_a)
    DD.append_to_dedup_index(c3, p_a)

    p_b = str(tmp_path / "plain")
    DD.save_dedup_index(corpus, p_b, n=3)

    def probe(path):
        idx = DD.load_dedup_index(spark, path)
        return {
            tuple(r)
            for r in DD.incremental_dedup_indexed(arrivals, idx).collect()
        }

    assert probe(p_a) == probe(p_b) and len(probe(p_a)) > 0


def test_ivfpq_index_append_after_compaction(spark, tmp_path):
    """Compacting the codes table must not break later appends: probe
    results after save -> append -> compact -> append equal the
    frozen-geometry one-shot encode of the full corpus."""
    import random

    random.seed(31)
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(16)])
        for i in range(150)
    ]
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "idx")
    SIM.save_ivfpq_index(
        embs.filter(F.col("vec_id") < 60), path,
        n_centroids=8, m_subspaces=4, ksub=8,
    )
    SIM.append_to_ivfpq_index(
        embs.filter((F.col("vec_id") >= 60) & (F.col("vec_id") < 100)), path
    )
    SIM.compact_ivfpq_index(spark, path)
    SIM.append_to_ivfpq_index(embs.filter(F.col("vec_id") >= 100), path)

    from etl_cpc_schema_spark.operators import index_store as IS

    cells, Civf, Cpq = SIM.load_ivfpq_index(spark, path)
    p_ref = str(tmp_path / "ref")
    spark.read.parquet(IS.table_path(path, "centroids")).write.parquet(
        f"{p_ref}/centroids.parquet"
    )
    spark.read.parquet(IS.table_path(path, "codebook")).write.parquet(
        f"{p_ref}/codebook.parquet"
    )
    assigned = (
        SIM._ivf_rank_cells(embs, cells, Civf, 1, "vec_id", "embedding")
        .filter(F.col("cell_rank") == 1)
        .select(F.col("vid").alias("n_id"), "cell")
    )
    codes = SIM.pq_encode(embs, Cpq, "vec_id", "embedding").withColumnRenamed(
        "vid", "n_id"
    )
    assigned.join(codes, "n_id").write.parquet(f"{p_ref}/codes.parquet")
    SIM.quantized(embs, "vec_id", "embedding").write.parquet(
        f"{p_ref}/vectors.parquet"
    )

    def probe(p):
        return {
            tuple(r)
            for r in SIM.ivfpq_topk(
                embs, k=3, nprobe=4, shortlist=16,
                query_pred=F.col("vec_id") < 20, index_path=p,
            ).collect()
        }

    assert probe(path) == probe(p_ref) and len(probe(path)) > 0
