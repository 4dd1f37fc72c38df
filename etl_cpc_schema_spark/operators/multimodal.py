"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata structs; the
compute pattern is Arrow-batched ``mapInPandas`` so decoders see whole
byte buffers, never row-at-a-time Python.  The decode step is
REAL-WHEN-POSSIBLE: each worker try-imports Pillow and decodes any
payload it can; on ImportError or an undecodable payload it falls back
to a deterministic stand-in deriving pseudo width/height from the
payload's md5.  In codec-less sandboxes (no Pillow; payloads are text
bytes) every row takes the fallback — so the oracle rows are stable —
while the same code exercises the real path wherever Pillow exists.
Every Spark-side contract (schema, batching, partitioning) is real
either way.

At 100 TB the shape matters more than the codec: binary payloads ride
in their own column (parquet keeps them out of unrelated scans via
column pruning), metadata is a narrow struct, and the decode stage is
a map-only pass with no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutils import fan_out

META_SCHEMA = "doc_id bigint, byte_len bigint, fake_width bigint, fake_height bigint"
RESIZE_SCHEMA = "doc_id bigint, out_width bigint, out_height bigint, thumb binary"
FRAMES_SCHEMA = "doc_id bigint, frame_idx bigint, frame_payload binary"


def attach_fake_payload(docs: DataFrame) -> DataFrame:
    """Stand-in media ingestion: utf-8 bytes of the text as the payload.

    Real pipelines land payloads via ``binaryFile`` scans; the column
    shape (binary + id) is identical.
    """
    return docs.withColumn("payload", F.encode(F.col("text"), "utf-8"))


def extract_meta(with_payload: DataFrame) -> DataFrame:
    """(doc_id, byte_len, fake_width, fake_height) via mapInPandas.

    Arrow delivers whole binary buffers per batch; the loop below is
    where a real decoder (resize / frame-sample / feature-extract)
    would run over each buffer.
    """

    # NB: the closure must be fully self-contained (stdlib imports
    # inside, no references to module-level helpers).  Spark pickles
    # module-level functions BY REFERENCE, and executors don't share
    # the driver's sys.path mutations — a closure that points back
    # into this package would fail to unpickle on workers whenever
    # the repo isn't on the executors' PYTHONPATH.
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io

        import pandas as _pd

        try:  # worker-side optional dependency — decide once per task
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        def dims(buf: bytes):
            if _Image is not None:
                try:
                    with _Image.open(_io.BytesIO(buf)) as img:
                        return int(img.width), int(img.height)
                except Exception:
                    pass
            h = int(_hashlib.md5(buf).hexdigest()[:15], 16)
            return h % 64 + 1, (h >> 6) % 64 + 1

        for pdf in batches:
            widths: list[int] = []
            heights: list[int] = []
            lens: list[int] = []
            for payload in pdf["payload"]:
                buf = bytes(payload)
                w, hh = dims(buf)
                lens.append(len(buf))
                widths.append(w)
                heights.append(hh)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "byte_len": lens,
                    "fake_width": widths,
                    "fake_height": heights,
                }
            )

    return fan_out(with_payload.select("doc_id", "payload")).mapInPandas(run, META_SCHEMA)


def resize_images(
    with_payload: DataFrame,
    max_side: int = 32,
) -> DataFrame:
    """Resize stage: (doc_id, out_width, out_height, thumb binary).

    A real pipeline decodes + resamples here (Pillow absent →
    deterministic fake: dims clamped to ``max_side`` preserving the
    fake aspect ratio; 'thumbnail' bytes are the md5 digest as a
    stand-in payload).  The Spark-side contract — binary in, binary
    out, map-only, no shuffle — is the real thing.
    """

    def run(batches):
        import hashlib as _hashlib
        import io as _io

        import pandas as _pd

        try:  # worker-side optional dependency — decide once per task
            from PIL import Image as _Image
        except ImportError:
            _Image = None

        for pdf in batches:
            ids, ws, hs, thumbs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                done = False
                if _Image is not None:
                    try:
                        with _Image.open(_io.BytesIO(buf)) as img:
                            img.thumbnail((max_side, max_side))
                            out = _io.BytesIO()
                            img.save(out, format="PNG")
                            ids.append(doc_id)
                            ws.append(int(img.width))
                            hs.append(int(img.height))
                            thumbs.append(out.getvalue())
                            done = True
                    except Exception:
                        done = False
                if not done:
                    h = int(_hashlib.md5(buf).hexdigest()[:15], 16)
                    w0, h0 = h % 64 + 1, (h >> 6) % 64 + 1
                    scale = min(1.0, max_side / max(w0, h0))
                    ids.append(doc_id)
                    ws.append(max(1, int(w0 * scale)))
                    hs.append(max(1, int(h0 * scale)))
                    thumbs.append(_hashlib.md5(buf).digest())
            yield _pd.DataFrame(
                {"doc_id": ids, "out_width": ws, "out_height": hs, "thumb": thumbs}
            )

    return fan_out(with_payload.select("doc_id", "payload")).mapInPandas(run, RESIZE_SCHEMA)


PHASH_SCHEMA = "doc_id bigint, phash bigint"

#: perceptual-hash geometry: 16-bit fingerprints banded 4×4 for the
#: Hamming candidate join (same family as the text SimHash path, so
#: dedup.banded_hamming_pairs serves both modalities unchanged).
PHASH_BITS = 16
#: fallback chunking granularity (chars of decoded payload per vote);
#: wired through the kernel AND the SQL oracle builder — change it in
#: one place or nowhere
PHASH_CHUNK = 16


def dhash_table(
    with_payload: DataFrame,
    bits: int = PHASH_BITS,
    use_decoder: bool = True,
) -> DataFrame:
    """(doc_id, phash) — perceptual fingerprints of binary payloads,
    the multimodal twin of ``dedup.simhash_table``: near-duplicate
    media = small Hamming distance, found by
    ``dedup.banded_hamming_pairs`` exactly as for text.

    Real-when-possible: a payload Pillow can decode gets a true dHash
    (grayscale-resample to a (bits/4+1)×4 grid; bit = left pixel
    brighter than its right neighbor — the classic difference hash,
    robust to re-encode/resize).  Anything else — Pillow absent, or
    the payload is not a decodable image (the sandbox's utf-8
    stand-ins never are) — takes the deterministic fallback: a
    ``bits``-wide SimHash vote over the decoded text's positional
    16-char chunks, seeded 'ph' with the package's portable md5 hash,
    so the correctness oracle reproduces it exactly in SQL (the
    ``multimodal_meta`` pattern).

    ``use_decoder=False`` skips the Pillow attempt entirely and
    fingerprints every payload with the deterministic fallback — the
    DECLARED queries pass this so their SQL oracles hold in ANY
    environment: with a decoder active, a text payload that happens to
    carry an image magic (Pillow's PPM/PBM plugin accepts plain text
    starting 'P1'..'P3') would get a true dHash the oracle cannot
    reproduce, and one diverging fingerprint corrupts near-pair counts
    for OTHER docs too.  Real pipelines keep the default.

    ``bits`` (multiple of 4, ≤ 60 — the md5[:15] hash width) is the
    SCALE LEVER: band-key cardinality for the downstream Hamming join
    is ``bands × 2^(bits/bands)``, so a growing corpus widens the
    fingerprint to hold band-bucket occupancy constant — exactly the
    LSH planes / IVF cells dilution pattern; the registry query pins
    the 16-bit geometry its oracle reproduces.

    Map-only Arrow pass, no shuffle; at 100 TB the fingerprint table
    is 16 bytes/row and the banded join is the only shuffle in the
    dedup composition.
    """
    if bits % 4 != 0 or not 4 <= bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in [4, 60]: {bits}")
    chunk = PHASH_CHUNK

    # self-contained closure: stdlib-only imports inside (Spark pickles
    # module functions by reference; executors don't share driver
    # sys.path — see extract_meta)
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import io as _io

        import pandas as _pd

        if use_decoder:
            try:  # worker-side optional dependency — decide once per task
                from PIL import Image as _Image
            except ImportError:
                _Image = None
        else:
            _Image = None

        n_bits = bits  # closure capture of the fingerprint width
        cols = n_bits // 4
        chunk_sz = chunk

        def real_dhash(buf: bytes):
            if _Image is None:
                return None
            try:
                with _Image.open(_io.BytesIO(buf)) as img:
                    g = img.convert("L").resize((cols + 1, 4))
                    px = list(g.getdata())  # row-major (cols+1)×4
            except Exception:
                return None
            out = 0
            k = 0
            for r in range(4):
                for c in range(cols):
                    if px[r * (cols + 1) + c] > px[r * (cols + 1) + c + 1]:
                        out |= 1 << k
                    k += 1
            return out

        def fallback_phash(buf: bytes) -> int:
            s = buf.decode("utf-8", errors="replace")
            votes = [0] * n_bits
            for j in range(0, len(s), chunk_sz):
                piece = s[j : j + chunk_sz]
                h = int(
                    _hashlib.md5(("ph:" + piece).encode("utf-8")).hexdigest()[
                        :15
                    ],
                    16,
                )
                for b in range(n_bits):
                    votes[b] += 1 if (h >> b) & 1 else -1
            return sum(1 << b for b in range(n_bits) if votes[b] > 0)

        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                buf = bytes(payload)
                h = real_dhash(buf)
                out.append(fallback_phash(buf) if h is None else h)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"].values, "phash": out})

    return fan_out(with_payload.select("doc_id", "payload")).mapInPandas(run, PHASH_SCHEMA)


def sample_frames(
    with_payload: DataFrame,
    every_n_bytes: int = 64,
    max_frames: int = 4,
) -> DataFrame:
    """Frame-sampling stage: one output row per sampled 'frame'.

    Stands in for video keyframe extraction: slices the payload every
    ``every_n_bytes`` (ffmpeg absent).  Demonstrates the 1→N exploding
    mapInPandas shape a real frame sampler has — output rows ≫ input
    rows, still map-only.
    """

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                for i in range(min(max_frames, max(1, len(buf) // every_n_bytes))):
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(buf[i * every_n_bytes : (i + 1) * every_n_bytes])
            yield _pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_payload": frames}
            )

    return fan_out(with_payload.select("doc_id", "payload")).mapInPandas(run, FRAMES_SCHEMA)


#: chromaprint-shaped audio fingerprint geometry: 32-sample frames,
#: 16 bands of 2 samples, sub-fingerprint bit b = band b's energy
#: surrogate ROSE versus the previous frame.  16-bit subfp values are
#: the equi-join key of the downstream set-overlap dedup, so BANDS is
#: the occupancy lever exactly like PHASH_BITS on the image/video
#: path (widen with corpus growth to hold bucket occupancy constant).
AUDIO_FRAME_CHARS = 32
AUDIO_BANDS = 16
AUDIO_MAX_FRAMES = 16


def audio_subfingerprints(
    with_payload: DataFrame,
    frame_chars: int = AUDIO_FRAME_CHARS,
    bands: int = AUDIO_BANDS,
    portable: bool = True,
) -> DataFrame:
    """(doc_id, frame_idx, subfp) — AUDIO near-dup fingerprints in the
    Chromaprint/Philips-robust-hash shape: the decoded sample stream
    is framed (at most ``AUDIO_MAX_FRAMES`` frames), each frame is
    split into ``bands`` bands, and bit ``b`` of a frame's
    sub-fingerprint is whether band ``b``'s energy
    surrogate ROSE relative to the SAME band one frame earlier — the
    sign-of-temporal-delta structure that makes audio fingerprints
    robust to gain/codec changes (an absolute-energy bit would flip
    under re-encoding; a delta bit only flips if the song changes).

    Decode is the STUB point (this container has no audio codecs):
    ``decode(payload, 'utf-8')`` stands in for the PCM decode a real
    cluster runs as an Arrow pass, and the per-band energy is a
    deterministic portable-md5 surrogate of the band's samples so the
    DuckDB oracle reproduces every bit; a real deployment swaps in
    FFT band energies inside the same frame/band/delta frame and
    keeps EVERYTHING downstream (the distinct sets, the
    shared-subfp equi-join, the Jaccard gate) unchanged.

    Everything below the decode is pure whole-stage-codegen JVM
    expressions — one explode over frame indices, ``2 × bands``
    column-sliced hashes per row, zero Python.  A doc with fewer than
    two full frames emits nothing (no previous frame to difference
    against), exactly as the oracle's ``range(1, nf)`` does.

    ``portable=True`` (default) uses the portable md5 hash so the
    DuckDB oracle reproduces every bit — the ORACLE-portability
    choice, not the scale path; ``portable=False`` swaps in
    ``xxhash64`` (same JVM expression shape, ~10× cheaper per call)
    for oracle-free large-scale runs.  A real deployment replaces the
    surrogate with FFT band energies — no hash at all — and every
    downstream stage is unchanged either way.
    """
    from ..functions.hashing import portable_hash64

    if frame_chars % bands != 0:
        raise ValueError(
            f"frame_chars={frame_chars} must be divisible by bands={bands}"
        )
    hash_fn = (
        (lambda c: portable_hash64(c, seed="au"))
        if portable
        else (lambda c: F.xxhash64(c))
    )
    bw = frame_chars // bands
    s = F.decode(F.col("payload"), "utf-8")
    nf = F.least(
        F.lit(AUDIO_MAX_FRAMES), (F.length(s) / frame_chars).cast("int")
    )
    # fan the narrow scan out before the explode (round 13): the
    # 2×bands md5 chain per frame row all fuses into the scan stage,
    # which on a single-row-group input is ONE task — measured 3.0 s
    # single-threaded at sf0.1, the whole query's dominant job
    frames = (
        fan_out(
            with_payload.select(
                "doc_id", s.alias("s"), nf.alias("nf")
            )
        )
        .filter(F.col("nf") >= 2)
        .select(
            "doc_id",
            "s",
            F.explode(F.sequence(F.lit(1), F.col("nf") - 1)).alias("j"),
        )
    )

    def band_hash(frame_idx, b):
        return hash_fn(
            F.col("s").substr(
                frame_idx * frame_chars + b * bw + 1, F.lit(bw)
            )
        )

    subfp = F.lit(0)
    for b in range(bands):
        subfp = subfp + F.when(
            band_hash(F.col("j"), b) > band_hash(F.col("j") - 1, b),
            F.lit(2**b),
        ).otherwise(F.lit(0))
    return frames.select(
        "doc_id",
        F.col("j").cast("bigint").alias("frame_idx"),
        subfp.cast("bigint").alias("subfp"),
    )
