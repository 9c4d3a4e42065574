"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct (modality, n_bytes, content digest, decoded
dimensions). The Spark-side machinery — schema, partition-preserving
mapInPandas over Arrow batches, batch shapes — is real and tested, and
since round 5/6 the decode itself is real too: pure-Python codecs
(``media_codecs``: zlib inflate + scanline unfilter for PNG, RIFF/PCM
for WAV, baseline JPEG Huffman+IDCT, MP4 box walk) back
``decode_media(real_codecs=True)`` and every ``m_*_real`` /
``m_frame_sample`` / ``m_features`` / ``m_resize`` registry query,
each checked against an ANALYTIC SQL oracle over deterministically
synthesized media. The remaining seams are documented and narrow:
MP4 *frame* decode (needs native codecs) and learned
feature-extraction models — progressive JPEG closed in round 7
(``media_codecs.decode_jpeg`` handles SOF2 spectral selection +
successive approximation). ``decode_media``'s default mode keeps the
digest-derived deterministic fake for opaque-blob plumbing tests.

At scale: binary payloads stay columnar in parquet, the metadata
struct supports predicate pushdown (filter by modality/size without
touching bytes), and decode parallelism is per-partition with Arrow
batch sizing bounding executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from conduit_spark.analytics import combination_pairs, ordered_result
from conduit_spark.plans import barrier
from conduit_spark.sources.tables import load_table

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def as_media(df: DataFrame, content_col: str, id_col: str, modality: str) -> DataFrame:
    """Wrap any binary/string column as a media table (pure projection)."""
    content = F.col(content_col).cast("binary")
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(modality).alias("modality"),
        content.alias("content"),
        F.length(content).cast("long").alias("n_bytes"),
        F.md5(content).alias("digest"),
    )


def decode_media(df: DataFrame, *, real_codecs: bool = False) -> DataFrame:
    """Decode media content → metadata (mapInPandas, Arrow-batched).

    ``real_codecs=True`` decodes PNG, WAV, baseline JPEG, GIF, and MP4
    container metadata for real with the pure-Python codecs in
    ``media_codecs`` (zlib inflate + scanline unfilter for PNG; RIFF
    chunk walk for WAV; Huffman + IDCT + YCbCr→RGB for JPEG; LZW +
    de-interlace + palette for GIF; ISO BMFF
    box walk for MP4): width/height are the true image/video
    dimensions, and for audio (n_frames, n_channels) fill the same
    slots. MP4 *frame* decode raises inside the task — that needs
    native codecs and remains the one documented seam (progressive
    JPEG decodes for real since round 7). The default deterministic
    fake derives width/height from the content digest — stable,
    partition-parallel, and SQL-reproducible.
    """
    if real_codecs:
        from conduit_spark.analytics.media_codecs import decode_any

        def run_real(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows: dict[str, list] = {
                    k.name: [] for k in DECODED_SCHEMA.fields
                }
                for mid, mod, c, nb in zip(
                    pdf["media_id"], pdf["modality"], pdf["content"], pdf["n_bytes"]
                ):
                    if c is None:
                        # emit the row with null decode fields, exactly
                        # like the fake path — both modes must be
                        # row-count-preserving
                        rows["media_id"].append(mid)
                        rows["modality"].append(mod)
                        rows["n_bytes"].append(nb)
                        rows["digest"].append(None)
                        rows["width"].append(None)
                        rows["height"].append(None)
                        continue
                    raw = bytes(c)
                    meta = decode_any(raw)
                    if meta["format"] == "wav":
                        # audio geometry rides the same two int32
                        # slots; clamp n_frames (a >2^31-frame capture
                        # would overflow the Arrow conversion)
                        w = min(meta["n_frames"], 2**31 - 1)
                        h = meta["n_channels"]
                    else:  # png/jpeg/mp4: true pixel geometry
                        w, h = meta["width"], meta["height"]
                    rows["media_id"].append(mid)
                    rows["modality"].append(mod)
                    rows["n_bytes"].append(nb)
                    rows["digest"].append(hashlib.md5(raw).hexdigest())
                    rows["width"].append(w)
                    rows["height"].append(h)
                yield pd.DataFrame(rows)

        return df.mapInPandas(run_real, DECODED_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [
                hashlib.md5(bytes(c)).hexdigest() if c is not None else None
                for c in pdf["content"]
            ]
            pdf_out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["n_bytes"],
                    "digest": digests,
                    "width": [
                        (int(d[0:2], 16) + 1) if d else None for d in digests
                    ],
                    "height": [
                        (int(d[2:4], 16) + 1) if d else None for d in digests
                    ],
                }
            )
            yield pdf_out

    return df.mapInPandas(run, DECODED_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("offset", LongType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame, *, n_frames: int = 4, real_codecs: bool = False
) -> DataFrame:
    """1→N frame sampling over binary media (the video keyframe-extract
    shape): each media row yields up to ``n_frames`` frames.

    ``real_codecs=True`` is the ffmpeg integration point (absent here →
    NotImplementedError). The deterministic stand-in slices the content
    into equal byte windows — the Spark-side plumbing (binary in,
    exploded binary rows out, partition-parallel, Arrow-batched) is
    exactly what a real decoder needs. The registry query
    ``m_frame_sample`` no longer uses this stand-in: it windows REAL
    decoded PCM (see :func:`m_frame_sample`); this operator remains
    for opaque blobs where no codec applies.
    """
    if real_codecs:
        raise NotImplementedError(
            "video codecs (ffmpeg) are not available in this environment; "
            "plug a decoder into sample_frames.run when they are"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "offset": [], "frame_bytes": []
            }
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                raw = bytes(content)
                width = max(1, len(raw) // n_frames)
                for k in range(n_frames):
                    off = k * width
                    if off >= len(raw):
                        break
                    out["media_id"].append(mid)
                    out["frame_idx"].append(k)
                    out["offset"].append(off)
                    out["frame_bytes"].append(raw[off : off + width])
            yield pd.DataFrame(out)

    return df.mapInPandas(run, FRAME_SCHEMA)


RESIZE_TARGET = (32, 32)

RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("target_w", IntegerType()),
        StructField("target_h", IntegerType()),
        StructField("out_n_bytes", LongType()),
        StructField("resized_digest", StringType()),
    ]
)


def resize_media(
    df: DataFrame,
    *,
    target: tuple[int, int] = RESIZE_TARGET,
    real_codecs: bool = False,
) -> DataFrame:
    """Media → resized media (the thumbnail/downscale shape).

    ``real_codecs=True`` is the PIL/ffmpeg integration point (absent
    here → NotImplementedError). The deterministic stand-in scales the
    byte length by the pixel ratio target/(w×h) (dims from the decode
    fake) and crops — binary in, binary out, partition-parallel. The
    registry query ``m_resize`` no longer uses this stand-in: it
    box-filters REAL decoded pixels (see :func:`m_resize`); this
    operator remains for opaque blobs where no codec applies.
    """
    if real_codecs:
        raise NotImplementedError(
            "image codecs (PIL) are not available in this environment; "
            "plug a resizer into resize_media.run when they are"
        )
    tw, th = target
    import math

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out: dict[str, list] = {k.name: [] for k in RESIZED_SCHEMA.fields}
        for pdf in batches:
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                raw = bytes(content)
                d = hashlib.md5(raw).hexdigest()
                w, h = int(d[0:2], 16) + 1, int(d[2:4], 16) + 1
                ratio = min(1.0, float(tw * th) / float(w * h))
                out_n = max(1, math.floor(len(raw) * ratio))
                crop = raw[:out_n]
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["target_w"].append(tw)
                out["target_h"].append(th)
                out["out_n_bytes"].append(out_n)
                out["resized_digest"].append(hashlib.md5(crop).hexdigest())
        yield pd.DataFrame(out)

    return df.mapInPandas(run, RESIZED_SCHEMA)


FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def extract_features(df: DataFrame, *, real_model: bool = False) -> DataFrame:
    """Media → embedding column (the CLIP/wav2vec feature-extract
    shape). ``real_model=True`` is the model integration point (no
    vision/audio models in this container → NotImplementedError); the
    deterministic stand-in derives ``FEATURE_DIM`` doubles from the
    content digest. The registry query ``m_features`` no longer uses
    this stand-in: it histograms REAL decoded pixels (see
    :func:`m_features`); this operator remains the opaque-blob
    fallback and the model integration seam."""
    if real_model:
        raise NotImplementedError(
            "feature-extraction models are not available in this environment"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs = []
            for content in pdf["content"]:
                if content is None:
                    embs.append(None)
                    continue
                d = hashlib.md5(bytes(content)).hexdigest()
                embs.append(
                    [int(d[j * 4 : (j + 1) * 4], 16) / 65535.0 for j in range(FEATURE_DIM)]
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "embedding": embs,
                }
            )

    return df.mapInPandas(run, FEATURES_SCHEMA)



def _spread_ids(spark: SparkSession, ids: DataFrame) -> DataFrame:
    """Round-robin-spread the slim doc_id relation across the session's
    cores before a mapInPandas decode. At fixture scale the documents
    scan is ONE parquet split, so without this every real-codec decode
    runs single-task no matter the core count (r14: m_decode_gif_real
    measured 3.6s -> 1.3s at sf0.1 on local[32]); at corpus scale the
    scan already has >= cores splits and the branch is a no-op. The
    repartition is on ids only — the heavy synthesis/decode bytes are
    produced inside the task."""
    par = spark.sparkContext.defaultParallelism
    if ids.rdd.getNumPartitions() < par:
        return ids.repartition(par)
    return ids


def m_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text as fake image bytes → decode metadata."""
    docs = load_table(spark, sf_dir, "documents")
    media = as_media(docs, "text", "doc_id", "image")
    return decode_media(media).transform(ordered_result, "media_id")


N_SAMPLE_FRAMES = 4


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec frame sampling (1→N explode): each doc synthesizes a
    deterministic WAV (:func:`_synth_wav_bytes`), the real RIFF walk +
    PCM scan decodes the actual samples, and ``N_SAMPLE_FRAMES`` equal
    windows of the DECODED stream are emitted with per-window
    statistics — the media-frame-extract shape (video *frame* decode
    needs native codecs and remains a documented seam; audio frames
    exercise the identical 1→N plumbing over real decoded media).
    Window ``k`` holds samples where ``(i·N)//n == k``; the SQL oracle
    reproduces every window analytically from the generation formula,
    so a wrong chunk walk, byte order, or window boundary cannot pass.

    Scale shape: one ``mapInPandas`` pass, output ~N× rows of bounded
    width, no shuffle beyond the presentation sort."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_wav

        for pdf in batches:
            rows = {
                "media_id": [], "frame_idx": [], "offset": [],
                "n_samples": [], "frame_mean": [], "frame_peak": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_wav(_synth_wav_bytes(did), return_samples=True)
                samples = meta["samples"]  # the REAL decoded PCM
                n = len(samples)
                for k in range(N_SAMPLE_FRAMES):
                    idx = [
                        i for i in range(n)
                        if (i * N_SAMPLE_FRAMES) // n == k
                    ]
                    if not idx:
                        continue
                    win = [samples[i] for i in idx]
                    rows["media_id"].append(did)
                    rows["frame_idx"].append(k)
                    rows["offset"].append(idx[0])
                    rows["n_samples"].append(len(win))
                    rows["frame_mean"].append(round(sum(win) / len(win), 9))
                    rows["frame_peak"].append(max(abs(s) for s in win))
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, frame_idx int, offset long, n_samples long, "
            "frame_mean double, frame_peak int",
        ),
        "media_id",
        "frame_idx",
    )


FEATURE_BINS = 8  # intensity histogram bins (256/32)


def m_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-pixel feature extraction: synthesize a deterministic PNG
    per doc, run the real zlib inflate + scanline unfilter
    (``decode_png(return_pixels=True)``), and compute an
    ``FEATURE_BINS``-bin intensity histogram plus mean intensity from
    the DECODED pixels — the CLIP-style media→vector shape with the
    model replaced by an analytic featurizer (a learned model is a
    documented seam; the decode + batch plumbing is what a real
    encoder consumes). Counts are exact integers, so the oracle check
    is bit-exact, not tolerance-based.

    The histogram is emitted as the comma-joined count string (the
    ``m_resize`` thumb pattern): round-6's ``hist array<long>`` column
    broke the driver canonicalizer's pandas sort (``unhashable type:
    'list'``) — gate queries must not emit array/map columns (lint
    enforced in scripts/gate_check.py)."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        import numpy as np

        from conduit_spark.analytics.media_codecs import decode_png

        for pdf in batches:
            rows = {
                "media_id": [], "modality": [], "n_pixels": [],
                "hist": [], "mean_intensity": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_png(_synth_png_bytes(did), return_pixels=True)
                # REAL decoded bytes; uint8 sums promote to int64 —
                # exact, so the analytic oracle stays bit-exact
                px = np.frombuffer(meta["pixels"], dtype=np.uint8)
                counts = np.bincount(
                    px // (256 // FEATURE_BINS), minlength=FEATURE_BINS
                ).astype("int64")
                rows["media_id"].append(did)
                rows["modality"].append("image")
                rows["n_pixels"].append(len(px))
                rows["hist"].append(",".join(str(int(c)) for c in counts))
                rows["mean_intensity"].append(
                    round(int(px.sum(dtype="int64")) / len(px), 9)
                )
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, modality string, n_pixels long, "
            "hist string, mean_intensity double",
        ),
        "media_id",
    )


THUMB_W, THUMB_H = 8, 8  # box-filter target (images are 16..32 × 8..20)


def m_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-pixel resize (thumbnail shape): synthesize a deterministic
    PNG per doc, decode the actual pixels, and area-downscale to
    ``THUMB_W``×``THUMB_H`` with an integer box filter — cell (ty,tx)
    is ``floor(mean)`` of source pixels where ``(r·TH)//h == ty`` and
    ``(c·TW)//w == tx``. All-integer arithmetic, and the thumbnail is
    emitted as the row-major comma-joined cell string, so the oracle
    compares every output pixel of the resize, not a summary."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        import numpy as np

        from conduit_spark.analytics.media_codecs import decode_png

        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [],
                "target_w": [], "target_h": [], "thumb": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_png(_synth_png_bytes(did), return_pixels=True)
                w, h = meta["width"], meta["height"]
                # REAL decoded pixel grid; int64 cell sums are exact
                px = np.frombuffer(
                    meta["pixels"], dtype=np.uint8
                ).reshape(h, w).astype("int64")
                ty = (np.arange(h) * THUMB_H) // h
                tx = (np.arange(w) * THUMB_W) // w
                cell = (ty[:, None] * THUMB_W + tx[None, :]).ravel()
                sums = np.bincount(
                    cell, weights=px.ravel(), minlength=THUMB_W * THUMB_H
                ).astype("int64")
                cnts = np.bincount(cell, minlength=THUMB_W * THUMB_H)
                cells = [str(int(s // c)) for s, c in zip(sums, cnts)]
                rows["media_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["target_w"].append(THUMB_W)
                rows["target_h"].append(THUMB_H)
                rows["thumb"].append(",".join(cells))
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, width int, height int, target_w int, "
            "target_h int, thumb string",
        ),
        "media_id",
    )


JPEG_BW_MOD, JPEG_BH_MOD = 3, 2  # block grid: (2+did%3) x (1+did%2) 8px blocks


def _synth_jpeg_bytes(did: int) -> bytes:
    """Deterministic grayscale baseline JPEG for ``doc_id`` whose
    DECODED pixels have a closed form: the image is a grid of 8×8
    CONSTANT blocks, block (by,bx) = ``(did*3 + 13*by + 7*bx) % 256``.
    A constant block has a DC-only DCT (DC = 8·(v−128)); with the DC
    quant step fixed at 8 the quantized coefficient is exactly v−128,
    so dequantize + IDCT reproduce every pixel EXACTLY — a lossy codec
    exercised on its lossless subspace, which is what makes a
    bit-exact SQL oracle possible (same trick as the PNG/WAV synth).
    Entropy layout: canonical DC Huffman with symbols 0..11 at 4 bits
    (code == symbol), one 2-bit AC symbol (EOB), 0xFF byte-stuffing —
    a fully legal ITU-T T.81 stream that the real decoder's marker
    walk / Huffman / IDCT path must parse.

    EVEN doc_ids emit a baseline-sequential (SOF0) stream; ODD ids a
    PROGRESSIVE (SOF2) one — DC first scan at Al=1, DC refinement at
    Al=0, then an all-EOB AC scan — so one gate row drives both
    profiles' scan machinery against the same closed-form oracle
    (progressive decode landed round 7)."""
    import struct as _s

    w = 8 * (2 + did % JPEG_BW_MOD)
    h = 8 * (1 + did % JPEG_BH_MOD)
    qt = bytes([8] + [1] * 63)
    progressive = did % 2 == 1
    blocks = [
        (did * 3 + 13 * by + 7 * bx) % 256 - 128
        for by in range(h // 8)
        for bx in range(w // 8)
    ]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _s.pack(">H", len(body) + 2) + body

    class _W:
        def __init__(self) -> None:
            self.acc = 0
            self.nbits = 0
            self.body = bytearray()

        def put(self, v: int, n: int) -> None:
            self.acc = (self.acc << n) | (v & ((1 << n) - 1))
            self.nbits += n
            while self.nbits >= 8:
                self.nbits -= 8
                b = (self.acc >> self.nbits) & 0xFF
                self.body.append(b)
                if b == 0xFF:
                    self.body.append(0x00)  # byte stuffing

        def done(self) -> bytes:
            if self.nbits:
                self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
            return bytes(self.body)

    def dc_scan(shift: int) -> bytes:
        wtr = _W()
        pred = 0
        for dc in blocks:
            diff = (dc >> shift) - pred
            pred = dc >> shift
            t = abs(diff).bit_length()
            wtr.put(t, 4)  # DC symbol: canonical code == symbol
            if t:
                wtr.put(diff if diff > 0 else diff + (1 << t) - 1, t)
            if not progressive:
                wtr.put(0, 2)  # sequential: EOB ends each block's ACs
        return wtr.done()

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + qt)
    sof = _s.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    out += seg(0xC2 if progressive else 0xC0, sof)
    out += seg(0xC4, bytes([0x00, 0, 0, 0, 12] + [0] * 12) + bytes(range(12)))
    out += seg(0xC4, bytes([0x10, 0, 1] + [0] * 14) + bytes([0x00]))
    if not progressive:
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        out += dc_scan(0)
    else:
        # scan 1: DC first, Al=1 (halved magnitudes)
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
        out += dc_scan(1)
        # scan 2: DC refinement, Ah=1 Al=0 (one bit per block)
        out += seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
        wtr = _W()
        for dc in blocks:
            wtr.put(dc & 1, 1)
        out += wtr.done()
        # scan 3: the 1..63 AC band — all zero, one EOB0 per block
        # (our minimal AC table only carries symbol 0x00)
        out += seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0]))
        wtr = _W()
        for _ in blocks:
            wtr.put(0, 2)
        out += wtr.done()
    out += b"\xff\xd9"
    return bytes(out)


def m_decode_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode under the DuckDB oracle — BOTH profiles:
    synthesize a deterministic constant-block JPEG per doc (see
    :func:`_synth_jpeg_bytes`; even doc_ids baseline SOF0, odd ids
    progressive SOF2 with DC successive approximation) and run the
    full ``media_codecs.decode_jpeg`` path — marker walk, canonical
    Huffman entropy decode, progressive scan accumulation, dequantize,
    orthonormal IDCT. The emitted stats come from the DECODED pixel
    array, so a wrong Huffman table build, DC predictor/refinement,
    zigzag, or IDCT cannot match the analytic oracle (which recomputes
    the stats from the block-value formula). Closes the "JPEG is
    pytest-golden-only" gap — PNG/WAV earned driver rows in r6, this
    is the JPEG sibling (r8 rotation candidate)."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        import numpy as np  # noqa: F401 (decode_jpeg needs it importable)

        from conduit_spark.analytics.media_codecs import decode_jpeg

        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [], "channels": [],
                "n_pixels": [], "pixel_mean": [], "pixel_min": [],
                "pixel_max": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_jpeg(_synth_jpeg_bytes(did))
                px = meta["pixels"]
                rows["media_id"].append(did)
                rows["width"].append(meta["width"])
                rows["height"].append(meta["height"])
                rows["channels"].append(meta["channels"])
                rows["n_pixels"].append(int(px.size))
                rows["pixel_mean"].append(
                    round(int(px.sum(dtype="int64")) / px.size, 9)
                )
                rows["pixel_min"].append(int(px.min()))
                rows["pixel_max"].append(int(px.max()))
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, width int, height int, channels int, "
            "n_pixels long, pixel_mean double, pixel_min int, pixel_max int",
        ),
        "media_id",
    )


PNG_W_BASE, PNG_W_MOD = 16, 17  # width  = 16 + doc_id % 17  (16..32)
PNG_H_BASE, PNG_H_MOD = 8, 13  # height =  8 + doc_id % 13  ( 8..20)


def _synth_png_bytes(did: int) -> bytes:
    """Deterministic greyscale PNG for ``doc_id``: dimensions and every
    pixel are pure functions of the id (pixel(r,c) = (did + 31r + 7c)
    mod 256), so decoded-pixel statistics have closed-form SQL
    oracles. Shared by every real-codec image query so Spark and the
    oracle agree on the generated corpus byte-for-byte."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    w = PNG_W_BASE + did % PNG_W_MOD
    h = PNG_H_BASE + did % PNG_H_MOD
    raw = bytearray()
    for r in range(h):
        raw.append(0)  # filter type None
        raw.extend((did + r * 31 + c * 7) % 256 for c in range(w))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def m_decode_png_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec decode, driver-verifiable: each doc synthesizes a
    deterministic greyscale PNG (dimensions and every pixel are pure
    functions of ``doc_id``), the pure-Python codec inflates and
    unfilters the actual IDAT stream, and the emitted pixel statistics
    are checked against the generation formula computed ANALYTICALLY
    by the SQL oracle — if the zlib inflate or scanline unfilter were
    wrong, the stats could not match. In production the bytes come
    from storage instead of the generator; the decode path is
    identical (``media_codecs.decode_png``, also reachable via
    ``decode_media(real_codecs=True)``).

    Scale shape: one ``mapInPandas`` pass, zero shuffles beyond the
    presentation sort; per-row work is bounded by the (w·h ≤ 32×20)
    synthetic geometry here and by decoded image size in production.
    """
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_png

        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [], "channels": [],
                "n_pixels": [], "pixel_mean": [], "pixel_min": [],
                "pixel_max": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                png = _synth_png_bytes(did)
                meta = decode_png(png)  # the REAL inflate+unfilter path
                rows["media_id"].append(did)
                rows["width"].append(meta["width"])
                rows["height"].append(meta["height"])
                rows["channels"].append(meta["channels"])
                rows["n_pixels"].append(meta["width"] * meta["height"])
                rows["pixel_mean"].append(round(meta["pixel_mean"], 9))
                rows["pixel_min"].append(meta["pixel_min"])
                rows["pixel_max"].append(meta["pixel_max"])
            yield pd.DataFrame(rows)

    out = docs.mapInPandas(
        run,
        "media_id long, width int, height int, channels int, "
        "n_pixels long, pixel_mean double, pixel_min int, pixel_max int",
    )
    return ordered_result(out, "media_id")


GIF_W_BASE, GIF_W_MOD = 24, 13  # width  = 24 + doc_id % 13  (24..36)
GIF_H_BASE, GIF_H_MOD = 10, 7  # height = 10 + doc_id % 7   (10..16)
GIF_COLORS = 64  # palette i -> (4i+3, (7i+11) mod 256, 255-3i)


def _synth_gif_bytes(did: int) -> bytes:
    """Deterministic 64-color GIF89a for ``doc_id``: palette entry i is
    ``(4i+3, (7i+11) mod 256, 255-3i)`` and pixel index(r,c) =
    ``(did + 3r + c//4) mod 64`` (the ``//4`` makes horizontal runs so
    the LZW dictionary genuinely builds). Even doc_ids are written
    INTERLACED (four-pass row order), odd sequential — both pixel
    statistics and the order-sensitive index checksum have closed-form
    SQL oracles, so a decoder that skipped de-interlacing or misread
    the variable-width LZW stream cannot hash-match. The encoder is
    ``media_codecs.lzw_encode`` (real dictionary LZW); the DECODER is
    additionally pinned against JDK ImageIO-produced fixtures in
    tests/fixtures/gif, so encoder and decoder cannot share a
    misreading of the spec."""
    import struct

    from conduit_spark.analytics.media_codecs import lzw_encode

    w = GIF_W_BASE + did % GIF_W_MOD
    h = GIF_H_BASE + did % GIF_H_MOD
    interlaced = did % 2 == 0
    pal = bytearray()
    for i in range(GIF_COLORS):
        pal += bytes((4 * i + 3, (7 * i + 11) % 256, 255 - 3 * i))
    rows = [
        [(did + 3 * r + c // 4) % GIF_COLORS for c in range(w)]
        for r in range(h)
    ]
    if interlaced:
        order: list[int] = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(start, h, step))
        stream = [v for r in order for v in rows[r]]
    else:
        stream = [v for row in rows for v in row]
    size_field = 5  # 2 << 5 == 64 palette entries
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | size_field, 0, 0)
    out += pal
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0
    )
    min_code = 6  # 64 literals
    out.append(min_code)
    comp = lzw_encode(stream, min_code)
    i = 0
    while i < len(comp):
        blk = comp[i : i + 255]
        out.append(len(blk))
        out += blk
        i += 255
    out += b"\x00\x3b"
    return bytes(out)


def m_decode_gif_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec GIF decode, driver-verifiable: deterministic 64-color
    GIFs (half the corpus interlaced), full LZW decompression +
    de-interlace + palette mapping in ``media_codecs.decode_gif``, and
    the emitted statistics — including an ORDER-SENSITIVE position-
    weighted index checksum, which a decoder that skips de-interlacing
    cannot reproduce — checked against the generation formulas computed
    analytically by the SQL oracle. LZW is dictionary coding, a third
    compression family next to PNG's LZ77+Huffman and JPEG's transform
    coding. Scale shape: one ``mapInPandas`` pass, zero shuffles beyond
    the presentation sort."""
    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_gif

        for pdf in batches:
            rows = {
                "media_id": [], "width": [], "height": [],
                "interlaced": [], "palette_size": [], "n_pixels": [],
                "idx_checksum": [], "pixel_mean": [], "pixel_min": [],
                "pixel_max": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_gif(_synth_gif_bytes(did), return_pixels=True)
                idx = meta["indices"]
                rows["media_id"].append(did)
                rows["width"].append(meta["width"])
                rows["height"].append(meta["height"])
                rows["interlaced"].append(bool(meta["interlaced"]))
                rows["palette_size"].append(meta["palette_size"])
                rows["n_pixels"].append(meta["width"] * meta["height"])
                rows["idx_checksum"].append(
                    sum((p + 1) * v for p, v in enumerate(idx))
                )
                rows["pixel_mean"].append(round(meta["pixel_mean"], 9))
                rows["pixel_min"].append(meta["pixel_min"])
                rows["pixel_max"].append(meta["pixel_max"])
            yield pd.DataFrame(rows)

    out = docs.mapInPandas(
        run,
        "media_id long, width int, height int, interlaced boolean, "
        "palette_size int, n_pixels long, idx_checksum long, "
        "pixel_mean double, pixel_min int, pixel_max int",
    )
    return ordered_result(out, "media_id")


WAV_FRAMES_BASE, WAV_FRAMES_MOD = 100, 97  # n_frames = 100 + doc_id % 97
WAV_RATE = 16000


def _synth_wav_bytes(did: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV for ``doc_id``: sample ``i``
    is ``((did*31 + i*17) mod 65536) - 32768`` over ``100 + did mod
    97`` frames — closed-form, so real-decode outputs have analytic
    SQL oracles. Shared by every real-codec audio query."""
    import struct

    n = WAV_FRAMES_BASE + did % WAV_FRAMES_MOD
    samples = [((did * 31 + i * 17) % 65536) - 32768 for i in range(n)]
    data = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _synth_ulaw_wav_bytes(did: int) -> bytes:
    """Deterministic G.711 μ-law WAV for ``doc_id``: the SAME sample
    formula as :func:`_synth_wav_bytes`, companded through the real
    μ-law encoder (fmt tag 7, 8 bits). The decoded output is the
    μ-law ROUNDTRIP of each formula sample — a pure per-sample
    function the SQL oracle reproduces exactly (validated over all
    65,536 inputs against audioop in tests)."""
    import struct

    from conduit_spark.analytics.media_codecs import ulaw_encode

    n = WAV_FRAMES_BASE + did % WAV_FRAMES_MOD
    data = bytes(
        ulaw_encode(((did * 31 + i * 17) % 65536) - 32768) for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 7, 1, WAV_RATE, WAV_RATE, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def m_decode_ulaw_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 μ-law decode under the DuckDB oracle: a telephony
    WAV (fmt tag 7) per doc, the RIFF walk + companding-table decode
    runs for real (round-7 codec addition next to progressive JPEG),
    and the decoded sample statistics check against the analytic
    μ-law roundtrip of the generation formula — the oracle implements
    G.711's segment/mantissa arithmetic in plain SQL (floor-shift
    emulation included: DuckDB's ``//`` truncates, it doesn't floor).
    A wrong companding table, bias, or segment boundary cannot match.
    (r8 rotation candidate)."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_wav

        for pdf in batches:
            rows = {
                "media_id": [], "codec": [], "n_frames": [],
                "sample_mean": [], "sample_peak": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_wav(_synth_ulaw_wav_bytes(did), return_samples=True)
                s = meta["samples"]
                rows["media_id"].append(did)
                rows["codec"].append(meta["codec"])
                rows["n_frames"].append(meta["n_frames"])
                rows["sample_mean"].append(round(sum(s) / len(s), 9))
                rows["sample_peak"].append(max(abs(v) for v in s))
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, codec string, n_frames long, "
            "sample_mean double, sample_peak int",
        ),
        "media_id",
    )


def _synth_alaw_wav_bytes(did: int) -> bytes:
    """A-law sibling of :func:`_synth_ulaw_wav_bytes` (fmt tag 6)."""
    import struct

    from conduit_spark.analytics.media_codecs import alaw_encode

    n = WAV_FRAMES_BASE + did % WAV_FRAMES_MOD
    data = bytes(
        alaw_encode(((did * 31 + i * 17) % 65536) - 32768) for i in range(n)
    )
    fmt = struct.pack("<HHIIHH", 6, 1, WAV_RATE, WAV_RATE, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def m_decode_alaw_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 A-law decode under the DuckDB oracle — the second
    companding law (European telephony; different segment table, XOR
    masking and 13-bit point domain than μ-law). The oracle implements
    A-law's segment/mantissa arithmetic in plain SQL, exhaustively
    validated against the real codec over all 65,536 inputs (r8
    rotation candidate next to m_decode_ulaw_real)."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_wav

        for pdf in batches:
            rows = {
                "media_id": [], "codec": [], "n_frames": [],
                "sample_mean": [], "sample_peak": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_wav(_synth_alaw_wav_bytes(did), return_samples=True)
                s = meta["samples"]
                rows["media_id"].append(did)
                rows["codec"].append(meta["codec"])
                rows["n_frames"].append(meta["n_frames"])
                rows["sample_mean"].append(round(sum(s) / len(s), 9))
                rows["sample_peak"].append(max(abs(v) for v in s))
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, codec string, n_frames long, "
            "sample_mean double, sample_peak int",
        ),
        "media_id",
    )


def m_decode_wav_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode, same construction as :func:`m_decode_png_real`:
    deterministic 16-bit mono PCM per doc, the RIFF chunk walk + PCM
    sample scan runs for real, and the decoded sample statistics check
    against the generation formula in the SQL oracle. Sample ``i`` is
    ``((doc_id * 31 + i * 17) % 65536) - 32768``."""
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_wav

        for pdf in batches:
            rows = {
                "media_id": [], "n_channels": [], "framerate": [],
                "n_frames": [], "sample_mean": [], "sample_peak": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                wav = _synth_wav_bytes(did)
                meta = decode_wav(wav)  # the REAL RIFF walk + PCM scan
                rows["media_id"].append(did)
                rows["n_channels"].append(meta["n_channels"])
                rows["framerate"].append(meta["framerate"])
                rows["n_frames"].append(meta["n_frames"])
                rows["sample_mean"].append(round(meta["sample_mean"], 9))
                rows["sample_peak"].append(meta["sample_peak"])
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, n_channels int, framerate int, n_frames long, "
            "sample_mean double, sample_peak int",
        ),
        "media_id",
    )


MP4_BRANDS = ("isom", "mp42", "iso5", "dash")


def _synth_mp4_bytes(did: int) -> bytes:
    """Deterministic ISO-BMFF container for ``doc_id``: ftyp brand,
    mvhd timescale/duration, 1–3 traks (video tkhd geometry + stsd
    fourcc, optional audio/subtitle tracks) — all closed-form in
    doc_id so the container walk's output has an analytic SQL oracle."""
    import struct

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def trak(w: int, h: int, fourcc: bytes) -> bytes:
        tkhd = box(b"tkhd", bytes(76) + struct.pack(">II", w << 16, h << 16))
        entry = struct.pack(">I", 16) + fourcc + bytes(8)
        stsd = box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
        return box(b"trak", tkhd + box(b"mdia", box(b"minf", box(b"stbl", stsd))))

    ftyp = box(
        b"ftyp", MP4_BRANDS[did % 4].encode() + bytes(4) + b"isom"
    )
    ts, dur = 1000, (did % 97 + 10) * 1000
    mvhd = box(b"mvhd", bytes(12) + struct.pack(">II", ts, dur) + bytes(80))
    video = trak(
        16 * (did % 8 + 4), 16 * (did % 6 + 3),
        b"avc1" if did % 2 == 0 else b"hev1",
    )
    traks = video
    if did % 3 >= 1:
        traks += trak(0, 0, b"mp4a")
    if did % 3 >= 2:
        traks += trak(0, 0, b"tx3g")
    return ftyp + box(b"moov", mvhd + traks)


def m_decode_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF container walk under the DuckDB oracle (VERDICT r7
    item 8 — the MP4 path previously had unit tests but no oracle row):
    a deterministic MP4 per doc (ftyp/moov/mvhd/trak/tkhd/mdia/minf/
    stbl/stsd nesting), ``decode_mp4``'s box walk extracts brand,
    duration, track count, video geometry (16.16 fixed point) and
    sample-entry fourccs, all checked against the closed-form oracle.
    FRAME decode (H.264/H.265) remains the documented unsupported seam
    (media_codecs.decode_mp4 docstring); the container plumbing —
    schema, partitioning, Arrow batching — is the real 100 TB path.
    Reference parity: multimodal metadata extraction the reference's
    AI-pipeline processors would front
    (docs/design-documents/20260724-ai-pipeline-components.md)."""
    import pandas as pd

    # r14 session 3: NO _spread_ids here — this is the family's one
    # meta-only decode (header walk, no pixel/sample work), and the
    # measured A/B (1.03s spread vs 0.54s single-task at sf0.1; the
    # round-start 0.41s floor was set by the unspread shape) shows the
    # repartition exchange + 32-task stage costs more than the
    # parallelism returns. At corpus scale the scan has >= cores
    # splits on its own, so nothing is lost.
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_mp4

        for pdf in batches:
            rows = {
                "media_id": [], "brand": [], "duration_sec": [],
                "n_tracks": [], "width": [], "height": [], "codecs": [],
            }
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_mp4(_synth_mp4_bytes(did))
                rows["media_id"].append(did)
                rows["brand"].append(meta["brand"])
                rows["duration_sec"].append(meta["duration_sec"])
                rows["n_tracks"].append(meta["n_tracks"])
                rows["width"].append(meta["width"])
                rows["height"].append(meta["height"])
                rows["codecs"].append(",".join(meta["codecs"]))
            yield pd.DataFrame(rows)

    return ordered_result(
        docs.mapInPandas(
            run,
            "media_id long, brand string, duration_sec double, "
            "n_tracks int, width int, height int, codecs string",
        ),
        "media_id",
    )


AHASH_BANDS = 4  # 16-bit bands of the 64-bit perceptual hash
AHASH_BUCKET_CAP = 100  # max fingerprints per band bucket (blowup guard)
AHASH_MAX_HAMMING = 2  # verified near-dup threshold


def _banded_hamming_pairs(
    fps: DataFrame, n_bands: int, bucket_cap: int, max_hamming: int
) -> DataFrame:
    """Shared banded near-dup tail over a checkpointed ``(media_id,
    fp_hi, fp_lo)`` 64-bit fingerprint relation (two 32-bit halves so
    SQL mirrors never touch the sign bit) — used by the image
    (:func:`m_ahash_pairs`) and audio (:func:`a_fp_pairs`) legs of the
    multimodal dedup family.

    Manku-style banding: candidates share one of ``n_bands`` 16-bit
    bands. Hot buckets are detected by a slim COUNT aggregation
    (map-side partials) and excluded via broadcast anti-join BEFORE
    any group is materialized — a degenerate banding collision must
    never reach collect_list. Pair generation is ONE groupBy per
    (band, bucket) collecting the (cap-guaranteed ≤ ``bucket_cap``)
    fingerprints, then an i<j combination explode in whole-stage
    codegen — no bucket self-join — and the O(1) hamming verify runs
    before the distinct so the dedup shuffle carries only verified
    near-dups."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(
                    F.col("fp_hi") if b >= 2 else F.col("fp_lo"),
                    (b % 2) * 16,
                )
                .bitwiseAND(F.lit(0xFFFF))
                .alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    bb = fps.select(
        "media_id", "fp_hi", "fp_lo", F.explode(bands).alias("bb")
    ).select(
        "media_id",
        "fp_hi",
        "fp_lo",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    hot = (
        bb.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("band", "bucket")
    )
    bb = bb.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    grouped = (
        bb.groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("media_id", "fp_hi", "fp_lo"))
            ).alias("g")
        )
        .filter(F.size("g") >= 2)
    )
    # r14: the i<j expansion is the shared ``combination_pairs`` helper
    # (posexplode + slice explode) — the previous nested
    # transform(sequence) lambda cost ~1.2s of Catalyst optimizer time
    # per query build and ~2x the execution time for identical rows.
    pairs = combination_pairs(grouped, "g", "a", "b").select(
        F.col("a.media_id").alias("id_a"),
        F.col("b.media_id").alias("id_b"),
        (
            F.bit_count(F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi")))
            + F.bit_count(F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo")))
        )
        .cast("bigint")
        .alias("hamming"),
    )
    return (
        pairs.filter(F.col("hamming") <= max_hamming)
        .distinct()
        .transform(ordered_result, "id_a", "id_b")
    )


def m_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate pairs via perceptual average-hash over
    REALLY-decoded pixels — the multimodal leg of the dedup family
    (text has minhash/simhash/substring; embeddings have cosine
    near-dup; this covers raw image columns, the aHash member of the
    standard aHash/dHash/pHash trio web-scale image dedup runs).

    Per image: the actual PNG decode (``decode_png(return_pixels=
    True)`` — inflate + unfilter, nothing read from the generator),
    8x8 block-mean downsample, bit = block mean > GLOBAL pixel mean
    (integer-exact: ``block_sum * w * h > total_sum * block_count`` —
    no float thresholds), packed into two 32-bit halves so the SQL
    side never touches the sign bit. Candidates share one of
    ``AHASH_BANDS`` 16-bit bands (Manku-style banding, bucket-capped
    like the simhash path — never all-pairs); verify =
    ``bit_count(xor)`` ≤ ``AHASH_MAX_HAMMING``. The oracle recomputes
    every hash ANALYTICALLY from the pixel-generation formula, so a
    wrong inflate, unfilter, block boundary, or threshold cannot
    produce matching pairs.

    Scale shape: one PARALLEL mapInPandas decode pass (the only
    Python; codec territory; numpy block sums, not per-pixel loops), a
    (doc, int, int) fingerprint relation checkpointed once, slim
    count-agg hot-bucket detection + broadcast anti-join (a degenerate
    bucket is excluded before it is ever materialized), then ONE
    groupBy per band bucket with an in-codegen i<j combination explode
    — no bucket self-join — and the O(1) hamming verify runs before
    the distinct so the dedup shuffle carries only verified near-dups.
    At corpus scale the fingerprint relation is the image count, not
    pixels, and every group is ≤ ``AHASH_BUCKET_CAP`` rows.
    """
    import numpy as np
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    # bit weight of block (i, j) = 2^(i*8 + j); uint64 sum of distinct
    # powers of two is exact (< 2^64)
    _WEIGHTS = (1 << np.arange(64, dtype=np.uint64)).reshape(8, 8)

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_png

        for pdf in batches:
            out = {"media_id": [], "fp_hi": [], "fp_lo": []}
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_png(_synth_png_bytes(did), return_pixels=True)
                w, h = meta["width"], meta["height"]
                # row-major greyscale bytes -> (h, w) int64 grid; all
                # arithmetic below is integer-exact (VERDICT r11 item 4:
                # numpy block sums replace the nested pure-Python loops
                # — bit-identical semantics, ~10x less per-pixel work)
                px = np.frombuffer(meta["pixels"], dtype=np.uint8)
                grid = px.astype(np.int64).reshape(h, w)
                total = int(grid.sum())
                r_edges = np.array([(i * h) // 8 for i in range(8)])
                c_edges = np.array([(j * w) // 8 for j in range(8)])
                # reduceat sums rows/cols [edge[k], edge[k+1]) (last
                # runs to the end) — exactly the loop's block bounds
                bs = np.add.reduceat(
                    np.add.reduceat(grid, r_edges, axis=0), c_edges, axis=1
                )
                area = np.outer(
                    np.diff(np.append(r_edges, h)),
                    np.diff(np.append(c_edges, w)),
                )
                mask = bs * (w * h) > total * area
                bits = int((_WEIGHTS * mask).sum(dtype=np.uint64))
                out["media_id"].append(did)
                out["fp_hi"].append((bits >> 32) & 0xFFFFFFFF)
                out["fp_lo"].append(bits & 0xFFFFFFFF)
            yield pd.DataFrame(out)

    # Decode in parallel: the documents scan arrives as few partitions
    # at fixture scale (one small parquet file) and the mapInPandas
    # would otherwise run single-worker; a round-robin repartition of
    # the slim doc_id relation is ~free. At corpus scale the scan is
    # already thousands of partitions and the branch is skipped.
    fps = barrier(docs.mapInPandas(
        run, "media_id long, fp_hi long, fp_lo long"
    ))
    # Banding + capped pair generation + hamming verify: the shared
    # tail (r12 restructure: groupBy + in-codegen combination explode
    # replaces the r11 bucket self-join — two shuffle legs + join down
    # to one shuffle — and the verify runs before the distinct;
    # measured 2.0s -> 1.1s at sf0.1, byte-identical output).
    return _banded_hamming_pairs(
        fps, AHASH_BANDS, AHASH_BUCKET_CAP, AHASH_MAX_HAMMING
    )


A_FP_FRAMES = 8  # time frames of the audio fingerprint grid
A_FP_LAGS = 8  # lag-difference bands (lag = band index + 1 samples)
A_FP_BANDS = 4  # 16-bit bands of the 64-bit fingerprint
A_FP_BUCKET_CAP = 50  # max fingerprints per band bucket (blowup guard)
A_FP_MAX_HAMMING = 2  # verified near-dup threshold


def a_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-duplicate pairs via spectral-band energy fingerprint
    over REALLY-decoded G.711 A-law samples — the audio leg of the
    multimodal dedup trio (text: minhash/simhash; image:
    :func:`m_ahash_pairs`; this covers raw audio columns). Reference
    precedent: the multimodal AI-pipeline design doc
    (docs/architecture-decision-records — reference
    `20260724-ai-pipeline-components.md`); fingerprint design follows
    Haitsma & Kalker's banded energy-difference scheme (ISMIR 2002),
    with a LAG-DIFFERENCE filterbank instead of an FFT so every bit is
    integer-exact and the SQL oracle can recompute it analytically.

    Per clip: the actual RIFF walk + A-law companding-table decode
    (``decode_wav`` on the fmt-tag-6 telephony WAV — nothing read from
    the generator), then an ``A_FP_FRAMES`` × ``A_FP_LAGS`` energy
    grid: band *b*'s energy in time frame *t* is the sum of
    ``|s[i] - s[i-(b+1)]|`` over the frame (lag-domain filterbank — a
    crude spectral-tilt estimator; larger lags emphasise lower
    frequencies), and bit ``(t*8+b)`` is set when the frame's band
    energy exceeds the clip's per-band mean (integer-exact cross
    multiplication: ``E[t][b] * ctot_b > total_b * cnt[t][b]`` — no
    float thresholds). Packed into two 32-bit halves; candidates share
    one of ``A_FP_BANDS`` 16-bit bands (Manku banding, bucket-capped);
    verify = ``bit_count(xor)`` ≤ ``A_FP_MAX_HAMMING``. The oracle
    re-derives every sample through the G.711 A-law roundtrip in plain
    SQL (the exhaustively-validated :func:`m_decode_alaw_real` chain,
    per-sample) and recomputes the full grid, so a wrong RIFF walk,
    companding table, frame boundary, lag indexing, or threshold
    cannot produce matching pairs.

    Scale shape: identical to :func:`m_ahash_pairs` — one PARALLEL
    mapInPandas decode pass (the only Python; codec territory; numpy
    lag diffs + slice sums, no per-sample loops), a (clip, int, int)
    fingerprint relation checkpointed once, then the shared
    :func:`_banded_hamming_pairs` tail (slim count-agg hot-bucket
    anti-join before any group materializes, one groupBy + in-codegen
    combination explode, verify before distinct). At corpus scale the
    fingerprint relation is the clip count, not samples.
    """
    import numpy as np
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_wav

        T, B = A_FP_FRAMES, A_FP_LAGS
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            if not ids:
                yield pd.DataFrame(
                    {"media_id": [], "fp_hi": [], "fp_lo": []}
                )
                continue
            # r14 (guide §4.2): the decode stays per clip (the real
            # RIFF+A-law codec IS the operator), but the fingerprint
            # math runs ONCE per batch as (N, L) matrix ops — the
            # per-clip 8x8 tiny-slice loop was ~2x the decode cost.
            # Clips are zero-padded to the batch max length; every
            # sum is taken through an exact int64 cumsum indexed by
            # each clip's own frame bounds, so padding is never read
            # and every E/C/threshold value is bit-identical to the
            # per-clip loop.
            samples = [
                np.asarray(
                    decode_wav(
                        _synth_alaw_wav_bytes(did), return_samples=True
                    )["samples"],
                    dtype=np.int64,
                )
                for did in ids
            ]
            nv = np.array([len(s) for s in samples], dtype=np.int64)
            N, L = len(ids), int(nv.max())
            S = np.zeros((N, L), dtype=np.int64)
            for j, s in enumerate(samples):
                S[j, : len(s)] = s
            # per-clip frame bounds f[t] = (t*n)//T, t = 0..T
            fmat = (np.arange(T + 1, dtype=np.int64)[None, :] * nv[:, None]) // T
            bits = np.zeros(N, dtype=np.uint64)
            for b in range(B):
                lag = b + 1
                # d[k] = |s[i] - s[i-lag]| with i = k + lag; int64 exact
                D = np.abs(S[:, lag:] - S[:, :-lag])
                Dc = np.concatenate(
                    [np.zeros((N, 1), dtype=np.int64), np.cumsum(D, axis=1)],
                    axis=1,
                )
                lo = np.maximum(fmat[:, :T], lag)
                hi = fmat[:, 1:]
                valid = hi > lo
                C = np.where(valid, hi - lo, 0)
                loi = np.minimum(lo - lag, hi - lag)  # clamp when invalid
                E = np.where(
                    valid,
                    np.take_along_axis(Dc, hi - lag, 1)
                    - np.take_along_axis(Dc, loi, 1),
                    0,
                )
                tot = E.sum(axis=1, keepdims=True)
                ctot = C.sum(axis=1, keepdims=True)
                on = E * ctot > tot * C  # (N, T) — identical comparisons
                w = (
                    np.uint64(1)
                    << (np.arange(T, dtype=np.uint64) * np.uint64(8) + np.uint64(b))
                )
                bits |= (on * w).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "fp_hi": ((bits >> np.uint64(32)) & np.uint64(0xFFFFFFFF)).astype(
                        np.int64
                    ),
                    "fp_lo": (bits & np.uint64(0xFFFFFFFF)).astype(np.int64),
                }
            )

    fps = barrier(docs.mapInPandas(
        run, "media_id long, fp_hi long, fp_lo long"
    ))
    return _banded_hamming_pairs(
        fps, A_FP_BANDS, A_FP_BUCKET_CAP, A_FP_MAX_HAMMING
    )


PHASH_BANDS = 4  # 16-bit bands of the 64-bit DCT hash
PHASH_BUCKET_CAP = 100  # max fingerprints per band bucket (blowup guard)
# Verified near-dup threshold (the classic pHash <=10/64). RECALL
# BOUND (ADVICE r13): with only 4 bands, the pigeonhole guarantee of a
# shared 16-bit band covers hamming <= 3; a pair with 4..10 differing
# bits spread across all four bands never collides in any band and is
# NOT surfaced. This is the deliberate banded-LSH trade (same class as
# every banding path here — recall is tuned by band count); the
# threshold below bounds what a surfaced candidate may differ by, not
# a guarantee that every <=10-bit pair is found. The oracle mirrors
# the same banding, so the gate pins the banded semantics exactly.
PHASH_MAX_HAMMING = 10
PHASH_CSCALE = 10_000  # fixed-point DCT basis: round(cos * 1e4)
PHASH_MSCALE = 256  # fixed-point block means: (sum * 256) // area


def _phash_cos_table() -> list[int]:
    """The 8×8 DCT-II basis as a flat row-major table of scaled
    integers ``round(cos(pi*(2i+1)*u/16) * PHASH_CSCALE)`` — computed
    once and shared VERBATIM by the numpy fingerprint and the SQL
    oracle's literal list, so both engines multiply identical
    integers and the transform is exact by construction."""
    import math

    return [
        round(math.cos(math.pi * (2 * i + 1) * u / 16) * PHASH_CSCALE)
        for u in range(8)
        for i in range(8)
    ]


_PHASH_COS = _phash_cos_table()


def m_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate pairs via the DCT perceptual hash (pHash)
    over REALLY-decoded pixels — the frequency-domain member of the
    aHash/dHash/pHash trio next to :func:`m_ahash_pairs`'s
    average-hash: a 2-D DCT-II of the downsampled grid, bits from a
    MEDIAN threshold over the non-DC coefficients. Median-of-AC
    thresholding makes the hash brightness-invariant (the DC term
    carries all uniform offset) and guarantees balanced bits, so
    random pairs sit near hamming 31/63 and the verify threshold has
    real discriminative margin — the properties that made pHash the
    standard web-scale image fingerprint.

    Adaptation for the fixture corpus: the synthetic images are
    16–32 × 8–20 px, below pHash's canonical 32×32 resize, so the DCT
    runs on the same 8×8 block-mean grid the aHash uses (the grid IS
    the low-pass downsample; the canonical pipeline's 32×32→top-left
    8×8 step reduces to it). Everything is integer fixed-point:
    block means ``(sum * PHASH_MSCALE) // area`` (floor division,
    non-negative), the DCT basis a shared ``round(cos * PHASH_CSCALE)``
    integer table (|coef| ≤ 8·8·65280·1e8 < 2^49 — no overflow on
    either engine), the threshold the exact 32nd-smallest of the 63
    AC coefficients, bit ``uv`` set on strict inequality, DC bit
    always 0. The oracle recomputes every hash ANALYTICALLY from the
    pixel-generation formula through the same integer pipeline, so a
    wrong decode, block boundary, basis value, or median rank cannot
    produce matching pairs.

    Scale shape: identical to :func:`m_ahash_pairs` — one PARALLEL
    mapInPandas decode pass (numpy block sums + two 8×8 integer
    matmuls per image), a (doc, int, int) fingerprint relation
    checkpointed once, then the shared :func:`_banded_hamming_pairs`
    tail (hot-bucket anti-join before materialization, one groupBy +
    in-codegen combination explode, verify before distinct).
    """
    import numpy as np
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    _WEIGHTS = 1 << np.arange(64, dtype=np.uint64)
    _C = np.asarray(_PHASH_COS, dtype=np.int64).reshape(8, 8)

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_png

        for pdf in batches:
            out = {"media_id": [], "fp_hi": [], "fp_lo": []}
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_png(_synth_png_bytes(did), return_pixels=True)
                w, h = meta["width"], meta["height"]
                px = np.frombuffer(meta["pixels"], dtype=np.uint8)
                grid = px.astype(np.int64).reshape(h, w)
                r_edges = np.array([(i * h) // 8 for i in range(8)])
                c_edges = np.array([(j * w) // 8 for j in range(8)])
                bs = np.add.reduceat(
                    np.add.reduceat(grid, r_edges, axis=0), c_edges, axis=1
                )
                area = np.outer(
                    np.diff(np.append(r_edges, h)),
                    np.diff(np.append(c_edges, w)),
                )
                # fixed-point means, then the exact integer DCT-II:
                # coef[u,v] = sum_ij C[u,i] * m[i,j] * C[v,j]
                m = (bs * PHASH_MSCALE) // area
                coef = (_C @ m @ _C.T).reshape(64)
                med = int(np.sort(coef[1:])[31])  # 32nd-smallest AC
                mask = coef > med
                mask[0] = False  # DC excluded (brightness invariance)
                bits = int((_WEIGHTS * mask).sum(dtype=np.uint64))
                out["media_id"].append(did)
                out["fp_hi"].append((bits >> 32) & 0xFFFFFFFF)
                out["fp_lo"].append(bits & 0xFFFFFFFF)
            yield pd.DataFrame(out)

    fps = barrier(docs.mapInPandas(
        run, "media_id long, fp_hi long, fp_lo long"
    ))
    return _banded_hamming_pairs(
        fps, PHASH_BANDS, PHASH_BUCKET_CAP, PHASH_MAX_HAMMING
    )


DHASH_BANDS = 4  # 16-bit bands of the 64-bit gradient hash
DHASH_BUCKET_CAP = 100  # max fingerprints per band bucket (blowup guard)
DHASH_MAX_HAMMING = 2  # verified near-dup threshold (the synthetic gradient field is dense at higher radii)
DHASH_MSCALE = 256  # fixed-point block means: (sum * 256) // area


def m_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate pairs via the difference hash (dHash),
    completing the classic aHash/dHash/pHash trio
    (:func:`m_ahash_pairs` / :func:`m_phash_pairs`): downsample to an
    8×9 block-mean grid and set bit ``i*8+j`` when block (i, j) is
    STRICTLY darker than its right neighbor (i, j+1) — a horizontal
    gradient-sign hash. Gradients are invariant to uniform brightness
    shifts (like pHash's DC exclusion) but cost one subtraction
    instead of a DCT, which is why dHash is the throughput choice in
    web-scale image dedup.

    All integer fixed-point: block means ``(sum * DHASH_MSCALE) //
    area`` (floor division, non-negative), bit on strict ``<``. The
    oracle recomputes every hash ANALYTICALLY from the
    pixel-generation formula through the identical 8×9 grid, so a
    wrong decode, edge boundary, or comparison direction cannot
    produce matching pairs.

    Scale shape: identical to the other two legs — one PARALLEL
    mapInPandas decode pass (numpy reduceat block sums), a (doc, int,
    int) fingerprint relation checkpointed once, then the shared
    :func:`_banded_hamming_pairs` tail.
    """
    import numpy as np
    import pandas as pd

    docs = _spread_ids(
        spark, load_table(spark, sf_dir, "documents").select("doc_id")
    )

    _WEIGHTS = (1 << np.arange(64, dtype=np.uint64)).reshape(8, 8)

    def run(batches):
        from conduit_spark.analytics.media_codecs import decode_png

        for pdf in batches:
            out = {"media_id": [], "fp_hi": [], "fp_lo": []}
            for did in pdf["doc_id"]:
                did = int(did)
                meta = decode_png(_synth_png_bytes(did), return_pixels=True)
                w, h = meta["width"], meta["height"]
                px = np.frombuffer(meta["pixels"], dtype=np.uint8)
                grid = px.astype(np.int64).reshape(h, w)
                r_edges = np.array([(i * h) // 8 for i in range(8)])
                c_edges = np.array([(j * w) // 9 for j in range(9)])
                bs = np.add.reduceat(
                    np.add.reduceat(grid, r_edges, axis=0), c_edges, axis=1
                )
                area = np.outer(
                    np.diff(np.append(r_edges, h)),
                    np.diff(np.append(c_edges, w)),
                )
                m = (bs * DHASH_MSCALE) // area  # 8x9 fixed-point means
                mask = m[:, :-1] < m[:, 1:]  # strict horizontal gradient
                bits = int((_WEIGHTS * mask).sum(dtype=np.uint64))
                out["media_id"].append(did)
                out["fp_hi"].append((bits >> 32) & 0xFFFFFFFF)
                out["fp_lo"].append(bits & 0xFFFFFFFF)
            yield pd.DataFrame(out)

    fps = barrier(docs.mapInPandas(
        run, "media_id long, fp_hi long, fp_lo long"
    ))
    return _banded_hamming_pairs(
        fps, DHASH_BANDS, DHASH_BUCKET_CAP, DHASH_MAX_HAMMING
    )


QUERIES = {
    "m_decode_stub": m_decode_stub,
    "m_decode_jpeg_real": m_decode_jpeg_real,
    "m_decode_mp4_meta": m_decode_mp4_meta,
    "m_decode_ulaw_real": m_decode_ulaw_real,
    "m_decode_alaw_real": m_decode_alaw_real,
    "m_decode_png_real": m_decode_png_real,
    "m_decode_gif_real": m_decode_gif_real,
    "m_decode_wav_real": m_decode_wav_real,
    "m_frame_sample": m_frame_sample,
    "m_features": m_features,
    "m_resize": m_resize,
    "m_ahash_pairs": m_ahash_pairs,
    "m_phash_pairs": m_phash_pairs,
    "m_dhash_pairs": m_dhash_pairs,
    "a_fp_pairs": a_fp_pairs,
}

ORACLES = {
    # everything in the container is a closed-form function of doc_id
    "m_decode_mp4_meta": """
        SELECT doc_id AS media_id,
               CASE doc_id % 4 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
                    WHEN 2 THEN 'iso5' ELSE 'dash' END AS brand,
               CAST(doc_id % 97 + 10 AS DOUBLE) AS duration_sec,
               CAST(1 + doc_id % 3 AS INT) AS n_tracks,
               CAST(16 * (doc_id % 8 + 4) AS INT) AS width,
               CAST(16 * (doc_id % 6 + 3) AS INT) AS height,
               (CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END)
               || (CASE WHEN doc_id % 3 >= 1 THEN ',mp4a' ELSE '' END)
               || (CASE WHEN doc_id % 3 >= 2 THEN ',tx3g' ELSE '' END)
                   AS codecs
        FROM documents
        ORDER BY media_id
    """,
    # G.711 μ-law roundtrip in plain SQL: floor-shift to the 14-bit
    # domain (DuckDB // truncates — the CASE emulates an arithmetic
    # shift), bias 33, segment by magnitude threshold, mantissa via
    # truncating shift, then the decoder expansion. Validated over all
    # 65,536 inputs against the real codec (and audioop) in tests.
    "m_decode_ulaw_real": f"""
        WITH dims AS (
            SELECT doc_id,
                   {WAV_FRAMES_BASE} + doc_id % {WAV_FRAMES_MOD} AS n
            FROM documents),
        s AS (
            SELECT doc_id, n,
                   ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS v
            FROM dims,
                 generate_series(0, {WAV_FRAMES_BASE + WAV_FRAMES_MOD - 2}) AS i(i)
            WHERE i.i < n),
        c AS (
            SELECT doc_id, n,
                   CASE WHEN v >= 0 THEN v // 4
                        ELSE -((-v + 3) // 4) END AS p
            FROM s),
        c2 AS (
            SELECT doc_id, n,
                   CASE WHEN p < 0 THEN -1 ELSE 1 END AS sg,
                   least(abs(p) + 33, 8191) AS a
            FROM c),
        rt AS (
            SELECT doc_id, n,
                   sg * (((((a // (2 * (1 << g))) % 16) * 8 + 132)
                          * (1 << g)) - 132) AS r
            FROM (SELECT *,
                         CASE WHEN a < 64 THEN 0 WHEN a < 128 THEN 1
                              WHEN a < 256 THEN 2 WHEN a < 512 THEN 3
                              WHEN a < 1024 THEN 4 WHEN a < 2048 THEN 5
                              WHEN a < 4096 THEN 6 ELSE 7 END AS g
                  FROM c2))
        SELECT doc_id AS media_id,
               'ulaw' AS codec,
               CAST(n AS BIGINT) AS n_frames,
               round(CAST(sum(r) AS DOUBLE) / n, 9) AS sample_mean,
               CAST(max(abs(r)) AS INT) AS sample_peak
        FROM rt
        GROUP BY doc_id, n
        ORDER BY media_id
    """,
    # G.711 A-law roundtrip in plain SQL (13-bit floor-shift domain,
    # segment by magnitude threshold incl. the >=4096 clamp to the top
    # code, per-segment decoder expansion); exhaustively validated
    # against the real codec over all 65,536 inputs.
    "m_decode_alaw_real": f"""
        WITH dims AS (
            SELECT doc_id,
                   {WAV_FRAMES_BASE} + doc_id % {WAV_FRAMES_MOD} AS n
            FROM documents),
        s AS (
            SELECT doc_id, n,
                   ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS v
            FROM dims,
                 generate_series(0, {WAV_FRAMES_BASE + WAV_FRAMES_MOD - 2}) AS i(i)
            WHERE i.i < n),
        c AS (
            SELECT doc_id, n,
                   CASE WHEN v >= 0 THEN v // 8
                        ELSE -((-v + 7) // 8) END AS p
            FROM s),
        c2 AS (
            SELECT doc_id, n,
                   CASE WHEN p >= 0 THEN 1 ELSE -1 END AS sg,
                   CASE WHEN p >= 0 THEN p ELSE -p - 1 END AS q
            FROM c),
        c3 AS (
            SELECT doc_id, n, sg, q,
                   CASE WHEN q < 32 THEN 0 WHEN q < 64 THEN 1
                        WHEN q < 128 THEN 2 WHEN q < 256 THEN 3
                        WHEN q < 512 THEN 4 WHEN q < 1024 THEN 5
                        WHEN q < 2048 THEN 6 WHEN q < 4096 THEN 7
                        ELSE 8 END AS g
            FROM c2),
        rt AS (
            SELECT doc_id, n,
                   sg * (CASE WHEN g = 0 THEN mant * 16 + 8
                              WHEN g = 1 THEN mant * 16 + 264
                              ELSE (mant * 16 + 264)
                                   * (1 << (least(g, 7) - 1)) END) AS r
            FROM (SELECT *,
                         CASE WHEN g = 0 THEN (q // 2) % 16
                              WHEN g >= 8 THEN 15
                              ELSE (q // (1 << g)) % 16 END AS mant
                  FROM c3))
        SELECT doc_id AS media_id,
               'alaw' AS codec,
               CAST(n AS BIGINT) AS n_frames,
               round(CAST(sum(r) AS DOUBLE) / n, 9) AS sample_mean,
               CAST(max(abs(r)) AS INT) AS sample_peak
        FROM rt
        GROUP BY doc_id, n
        ORDER BY media_id
    """,
    # constant-block geometry: pixel stats are 64x the block-value
    # stats (every pixel in block (by,bx) is the same v); integer sums
    # and one IEEE division keep both engines bit-identical
    "m_decode_jpeg_real": f"""
        WITH dims AS (
            SELECT doc_id,
                   8 * (2 + doc_id % {JPEG_BW_MOD}) AS w,
                   8 * (1 + doc_id % {JPEG_BH_MOD}) AS h
            FROM documents),
        blk AS (
            SELECT doc_id, w, h,
                   (doc_id * 3 + 13 * by.by + 7 * bx.bx) % 256 AS v
            FROM dims,
                 generate_series(0, {JPEG_BH_MOD - 1}) AS by(by),
                 generate_series(0, {JPEG_BW_MOD + 1}) AS bx(bx)
            WHERE by.by < h // 8 AND bx.bx < w // 8)
        SELECT doc_id AS media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               1 AS channels,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(CAST(sum(v) * 64 AS DOUBLE) / (w * h), 9) AS pixel_mean,
               CAST(min(v) AS INT) AS pixel_min,
               CAST(max(v) AS INT) AS pixel_max
        FROM blk
        GROUP BY doc_id, w, h
        ORDER BY media_id
    """,
    "m_decode_png_real": f"""
        WITH dims AS (
            SELECT doc_id,
                   {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
                   {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
            FROM documents),
        px AS (
            -- lateral bounds unsupported in generate_series: cross the
            -- max grid and filter to each image's true extent
            SELECT doc_id, w, h,
                   (doc_id + r.r * 31 + c.c * 7) % 256 AS v
            FROM dims,
                 generate_series(0, {PNG_H_BASE + PNG_H_MOD - 2}) AS r(r),
                 generate_series(0, {PNG_W_BASE + PNG_W_MOD - 2}) AS c(c)
            WHERE r.r < h AND c.c < w)
        SELECT doc_id AS media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               1 AS channels,
               CAST(w * h AS BIGINT) AS n_pixels,
               round(CAST(sum(v) AS DOUBLE) / (w * h), 9) AS pixel_mean,
               CAST(min(v) AS INT) AS pixel_min,
               CAST(max(v) AS INT) AS pixel_max
        FROM px
        GROUP BY doc_id, w, h
        ORDER BY media_id
    """,
    # GIF: palette components and indices are closed-form; the
    # position-weighted checksum is computed over ROW-MAJOR pixel order
    # (p = r*w + c), which only a correct de-interlace reproduces for
    # the even (interlaced) half of the corpus
    "m_decode_gif_real": f"""
        WITH dims AS (
            SELECT doc_id,
                   {GIF_W_BASE} + doc_id % {GIF_W_MOD} AS w,
                   {GIF_H_BASE} + doc_id % {GIF_H_MOD} AS h
            FROM documents),
        px AS (
            SELECT doc_id, w, h,
                   r.r * w + c.c + 1 AS p1,
                   (doc_id + 3 * r.r + c.c // 4) % {GIF_COLORS} AS i
            FROM dims,
                 generate_series(0, {GIF_H_BASE + GIF_H_MOD - 2}) AS r(r),
                 generate_series(0, {GIF_W_BASE + GIF_W_MOD - 2}) AS c(c)
            WHERE r.r < h AND c.c < w)
        SELECT doc_id AS media_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               doc_id % 2 = 0 AS interlaced,
               CAST({GIF_COLORS} AS INT) AS palette_size,
               CAST(w * h AS BIGINT) AS n_pixels,
               CAST(sum(p1 * i) AS BIGINT) AS idx_checksum,
               round(CAST(sum((4 * i + 3) + (7 * i + 11) % 256
                             + (255 - 3 * i)) AS DOUBLE) / (3 * w * h), 9)
                   AS pixel_mean,
               CAST(min(least(4 * i + 3, (7 * i + 11) % 256,
                              255 - 3 * i)) AS INT) AS pixel_min,
               CAST(max(greatest(4 * i + 3, (7 * i + 11) % 256,
                                 255 - 3 * i)) AS INT) AS pixel_max
        FROM px
        GROUP BY doc_id, w, h
        ORDER BY media_id
    """,
    "m_decode_wav_real": f"""
        WITH dims AS (
            SELECT doc_id,
                   {WAV_FRAMES_BASE} + doc_id % {WAV_FRAMES_MOD} AS n
            FROM documents),
        s AS (
            SELECT doc_id, n,
                   ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS v
            FROM dims,
                 generate_series(0, {WAV_FRAMES_BASE + WAV_FRAMES_MOD - 2}) AS i(i)
            WHERE i.i < n)
        SELECT doc_id AS media_id,
               1 AS n_channels,
               {WAV_RATE} AS framerate,
               CAST(n AS BIGINT) AS n_frames,
               round(CAST(sum(v) AS DOUBLE) / n, 9) AS sample_mean,
               CAST(max(abs(v)) AS INT) AS sample_peak
        FROM s
        GROUP BY doc_id, n
        ORDER BY media_id
    """,
    "m_decode_stub": """
        SELECT doc_id AS media_id,
               'image' AS modality,
               length(text) AS n_bytes,
               md5(text) AS digest,
               CAST(('0x' || substr(md5(text), 1, 2)) AS INT) + 1 AS width,
               CAST(('0x' || substr(md5(text), 3, 2)) AS INT) + 1 AS height
        FROM documents ORDER BY media_id
    """,
    # The three real-codec shape queries below reproduce the Spark
    # side's DECODED-media outputs analytically from the generation
    # formulas — a wrong inflate/unfilter/RIFF-walk on the Spark side
    # cannot match them.
    "m_frame_sample": f"""
        WITH dims AS (
            SELECT doc_id, {WAV_FRAMES_BASE} + doc_id % {WAV_FRAMES_MOD} AS n
            FROM documents),
        s AS (
            SELECT doc_id, n, i.i AS i,
                   ((doc_id * 31 + i.i * 17) % 65536) - 32768 AS v
            FROM dims,
                 generate_series(0, {WAV_FRAMES_BASE + WAV_FRAMES_MOD - 2}) AS i(i)
            WHERE i.i < n)
        SELECT doc_id AS media_id,
               CAST((i * {N_SAMPLE_FRAMES}) // n AS INT) AS frame_idx,
               CAST(min(i) AS BIGINT) AS "offset",
               CAST(count(*) AS BIGINT) AS n_samples,
               round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS frame_mean,
               CAST(max(abs(v)) AS INT) AS frame_peak
        FROM s
        GROUP BY doc_id, n, (i * {N_SAMPLE_FRAMES}) // n
        ORDER BY media_id, frame_idx
    """,
    "m_features": f"""
        WITH dims AS (
            SELECT doc_id,
                   {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
                   {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
            FROM documents),
        px AS (
            SELECT doc_id, w, h,
                   (doc_id + r.r * 31 + c.c * 7) % 256 AS v
            FROM dims,
                 generate_series(0, {PNG_H_BASE + PNG_H_MOD - 2}) AS r(r),
                 generate_series(0, {PNG_W_BASE + PNG_W_MOD - 2}) AS c(c)
            WHERE r.r < h AND c.c < w),
        cnt AS (
            SELECT doc_id, v // {256 // FEATURE_BINS} AS bin,
                   count(*) AS c
            FROM px GROUP BY doc_id, v // {256 // FEATURE_BINS}),
        bins AS (
            SELECT d.doc_id, b.b AS bin, coalesce(cnt.c, 0) AS c
            FROM dims d
            CROSS JOIN generate_series(0, {FEATURE_BINS - 1}) AS b(b)
            LEFT JOIN cnt ON cnt.doc_id = d.doc_id AND cnt.bin = b.b),
        stats AS (
            SELECT doc_id, CAST(w * h AS BIGINT) AS n_pixels,
                   round(CAST(sum(v) AS DOUBLE) / (w * h), 9) AS m
            FROM px GROUP BY doc_id, w, h)
        SELECT bins.doc_id AS media_id, 'image' AS modality,
               stats.n_pixels,
               string_agg(CAST(bins.c AS VARCHAR), ',' ORDER BY bins.bin) AS hist,
               stats.m AS mean_intensity
        FROM bins JOIN stats ON stats.doc_id = bins.doc_id
        GROUP BY bins.doc_id, stats.n_pixels, stats.m
        ORDER BY media_id
    """,
    "m_resize": f"""
        WITH dims AS (
            SELECT doc_id,
                   {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
                   {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
            FROM documents),
        px AS (
            SELECT doc_id, w, h, r.r AS r, c.c AS c,
                   (doc_id + r.r * 31 + c.c * 7) % 256 AS v
            FROM dims,
                 generate_series(0, {PNG_H_BASE + PNG_H_MOD - 2}) AS r(r),
                 generate_series(0, {PNG_W_BASE + PNG_W_MOD - 2}) AS c(c)
            WHERE r.r < h AND c.c < w),
        cells AS (
            SELECT doc_id, w, h,
                   (r * {THUMB_H}) // h AS ty,
                   (c * {THUMB_W}) // w AS tx,
                   sum(v) // count(*) AS cv
            FROM px
            GROUP BY doc_id, w, h, (r * {THUMB_H}) // h, (c * {THUMB_W}) // w)
        SELECT doc_id AS media_id,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               {THUMB_W} AS target_w, {THUMB_H} AS target_h,
               string_agg(CAST(cv AS VARCHAR), ',' ORDER BY ty, tx) AS thumb
        FROM cells
        GROUP BY doc_id, w, h
        ORDER BY media_id
    """,
}

# image near-dup pairs: hashes recomputed ANALYTICALLY from the pixel
# formula pixel(r,c) = (did + 31r + 7c) mod 256, then the same band
# join + bucket cap + bit_count(xor) verify as the Spark side
ORACLES["m_ahash_pairs"] = f"""
    WITH dims AS (
        SELECT doc_id AS did,
               {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
               {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
        FROM documents),
    blocks AS (
        SELECT did, w, h, ij,
               ((ij // 8) * h) // 8 AS r0, (((ij // 8) + 1) * h) // 8 AS r1,
               ((ij % 8) * w) // 8 AS c0, (((ij % 8) + 1) * w) // 8 AS c1
        FROM dims CROSS JOIN unnest(generate_series(0, 63)) AS t(ij)),
    bsum AS (
        SELECT did, w, h, ij, (r1 - r0) * (c1 - c0) AS bc,
               list_sum(list_transform(generate_series(r0, r1 - 1), r ->
                   list_sum(list_transform(generate_series(c0, c1 - 1), c ->
                       (did + 31 * r + 7 * c) % 256)))) AS s
        FROM blocks),
    tot AS (SELECT did, sum(s) AS total FROM bsum GROUP BY did),
    bits AS (
        SELECT bsum.did, bsum.ij,
               CASE WHEN bsum.s * bsum.w * bsum.h
                         > tot.total * bsum.bc THEN 1 ELSE 0 END AS bit
        FROM bsum JOIN tot USING (did)),
    hs AS (
        SELECT did,
               CAST(sum(CASE WHEN ij >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (ij - 32))
                             ELSE 0 END) AS BIGINT) AS hi,
               CAST(sum(CASE WHEN ij < 32
                             THEN bit * (CAST(1 AS BIGINT) << ij)
                             ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY did),
    bands AS (
        SELECT did, hi, lo, bnd,
               CASE WHEN bnd >= 2 THEN (hi >> ((bnd % 2) * 16)) & 65535
                    ELSE (lo >> ((bnd % 2) * 16)) & 65535 END AS bucket
        FROM hs CROSS JOIN unnest([0, 1, 2, 3]) AS u(bnd)),
    hot AS (
        SELECT bnd, bucket FROM bands GROUP BY bnd, bucket
        HAVING count(*) > {AHASH_BUCKET_CAP}),
    bb AS (SELECT bands.* FROM bands ANTI JOIN hot USING (bnd, bucket)),
    cand AS (
        SELECT DISTINCT x.did AS id_a, y.did AS id_b,
               x.hi AS ha, x.lo AS la, y.hi AS hb, y.lo AS lb
        FROM bb x JOIN bb y
          ON x.bnd = y.bnd AND x.bucket = y.bucket AND x.did < y.did)
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
               AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
          <= {AHASH_MAX_HAMMING}
    ORDER BY id_a, id_b
"""

# DCT perceptual-hash pairs: pixels re-derived from the generation
# formula, then the same integer pipeline as the numpy side — fixed-
# point block means, the SHARED scaled-cos literal table (the exact
# integers _PHASH_COS holds), the 32nd-smallest-AC median, strict-
# inequality bits, and the banded tail — so a wrong decode, basis
# value, or median rank cannot produce matching pairs.
ORACLES["m_phash_pairs"] = f"""
    WITH ctab AS (SELECT {_PHASH_COS} AS ct),
    dims AS (
        SELECT doc_id AS did,
               {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
               {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
        FROM documents),
    blocks AS (
        SELECT did, w, h, ij,
               ((ij // 8) * h) // 8 AS r0, (((ij // 8) + 1) * h) // 8 AS r1,
               ((ij % 8) * w) // 8 AS c0, (((ij % 8) + 1) * w) // 8 AS c1
        FROM dims CROSS JOIN unnest(generate_series(0, 63)) AS t(ij)),
    bsum AS (
        SELECT did, w, h, ij, (r1 - r0) * (c1 - c0) AS bc,
               list_sum(list_transform(generate_series(r0, r1 - 1), r ->
                   list_sum(list_transform(generate_series(c0, c1 - 1), c ->
                       (did + 31 * r + 7 * c) % 256)))) AS s
        FROM blocks),
    ml AS (
        SELECT did,
               list((s * {PHASH_MSCALE}) // bc ORDER BY ij) AS ml
        FROM bsum GROUP BY did),
    coefs AS (
        SELECT did, uv,
               list_sum(list_transform(generate_series(0, 63), k ->
                   ml[k + 1]
                   * ct[(uv // 8) * 8 + (k // 8) + 1]
                   * ct[(uv % 8) * 8 + (k % 8) + 1])) AS cf
        FROM ml CROSS JOIN ctab
             CROSS JOIN unnest(generate_series(0, 63)) AS t(uv)),
    med AS (
        SELECT did, list_sort(list(cf))[32] AS med
        FROM coefs WHERE uv > 0 GROUP BY did),
    bits AS (
        SELECT coefs.did, coefs.uv AS ij,
               CASE WHEN coefs.uv > 0 AND coefs.cf > med.med
                    THEN 1 ELSE 0 END AS bit
        FROM coefs JOIN med USING (did)),
    hs AS (
        SELECT did,
               CAST(sum(CASE WHEN ij >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (ij - 32))
                             ELSE 0 END) AS BIGINT) AS hi,
               CAST(sum(CASE WHEN ij < 32
                             THEN bit * (CAST(1 AS BIGINT) << ij)
                             ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY did),
    bands AS (
        SELECT did, hi, lo, bnd,
               CASE WHEN bnd >= 2 THEN (hi >> ((bnd % 2) * 16)) & 65535
                    ELSE (lo >> ((bnd % 2) * 16)) & 65535 END AS bucket
        FROM hs CROSS JOIN unnest([0, 1, 2, 3]) AS u(bnd)),
    hot AS (
        SELECT bnd, bucket FROM bands GROUP BY bnd, bucket
        HAVING count(*) > {PHASH_BUCKET_CAP}),
    bb AS (SELECT bands.* FROM bands ANTI JOIN hot USING (bnd, bucket)),
    cand AS (
        SELECT DISTINCT x.did AS id_a, y.did AS id_b,
               x.hi AS ha, x.lo AS la, y.hi AS hb, y.lo AS lb
        FROM bb x JOIN bb y
          ON x.bnd = y.bnd AND x.bucket = y.bucket AND x.did < y.did)
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
               AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
          <= {PHASH_MAX_HAMMING}
    ORDER BY id_a, id_b
"""

# Difference-hash pairs: the same analytic pixel re-derivation over an
# 8x9 block grid, fixed-point means, strict horizontal-gradient bits,
# and the banded tail — a wrong edge boundary or comparison direction
# cannot produce matching pairs.
ORACLES["m_dhash_pairs"] = f"""
    WITH dims AS (
        SELECT doc_id AS did,
               {PNG_W_BASE} + doc_id % {PNG_W_MOD} AS w,
               {PNG_H_BASE} + doc_id % {PNG_H_MOD} AS h
        FROM documents),
    blocks AS (
        SELECT did, w, h, ij,
               ((ij // 9) * h) // 8 AS r0, (((ij // 9) + 1) * h) // 8 AS r1,
               ((ij % 9) * w) // 9 AS c0, (((ij % 9) + 1) * w) // 9 AS c1
        FROM dims CROSS JOIN unnest(generate_series(0, 71)) AS t(ij)),
    means AS (
        SELECT did, ij,
               (list_sum(list_transform(generate_series(r0, r1 - 1), r ->
                   list_sum(list_transform(generate_series(c0, c1 - 1), c ->
                       (did + 31 * r + 7 * c) % 256))))
                * {DHASH_MSCALE}) // ((r1 - r0) * (c1 - c0)) AS m
        FROM blocks),
    bits AS (
        SELECT a.did, (a.ij // 9) * 8 + (a.ij % 9) AS ij,
               CASE WHEN a.m < b.m THEN 1 ELSE 0 END AS bit
        FROM means a JOIN means b
          ON a.did = b.did AND b.ij = a.ij + 1
        WHERE a.ij % 9 < 8),
    hs AS (
        SELECT did,
               CAST(sum(CASE WHEN ij >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (ij - 32))
                             ELSE 0 END) AS BIGINT) AS hi,
               CAST(sum(CASE WHEN ij < 32
                             THEN bit * (CAST(1 AS BIGINT) << ij)
                             ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY did),
    bands AS (
        SELECT did, hi, lo, bnd,
               CASE WHEN bnd >= 2 THEN (hi >> ((bnd % 2) * 16)) & 65535
                    ELSE (lo >> ((bnd % 2) * 16)) & 65535 END AS bucket
        FROM hs CROSS JOIN unnest([0, 1, 2, 3]) AS u(bnd)),
    hot AS (
        SELECT bnd, bucket FROM bands GROUP BY bnd, bucket
        HAVING count(*) > {DHASH_BUCKET_CAP}),
    bb AS (SELECT bands.* FROM bands ANTI JOIN hot USING (bnd, bucket)),
    cand AS (
        SELECT DISTINCT x.did AS id_a, y.did AS id_b,
               x.hi AS ha, x.lo AS la, y.hi AS hb, y.lo AS lb
        FROM bb x JOIN bb y
          ON x.bnd = y.bnd AND x.bucket = y.bucket AND x.did < y.did)
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
               AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
          <= {DHASH_MAX_HAMMING}
    ORDER BY id_a, id_b
"""

# Audio fingerprint near-dup pairs: every decoded sample is re-derived
# through the exhaustively-validated G.711 A-law roundtrip chain
# (m_decode_alaw_real's CTEs, carrying the sample index), then the
# full 8x8 lag-band energy grid, the per-band mean threshold, the
# 64-bit pack, and the banded-pairs tail are recomputed in plain SQL —
# all integer arithmetic, so a wrong companding table, frame boundary,
# lag indexing, or threshold cannot produce matching pairs.
ORACLES["a_fp_pairs"] = f"""
    WITH dims AS (
        SELECT doc_id AS did,
               {WAV_FRAMES_BASE} + doc_id % {WAV_FRAMES_MOD} AS n
        FROM documents),
    s AS (
        SELECT did, n, i.i AS i,
               ((did * 31 + i.i * 17) % 65536) - 32768 AS v
        FROM dims,
             generate_series(0, {WAV_FRAMES_BASE + WAV_FRAMES_MOD - 2}) AS i(i)
        WHERE i.i < n),
    c AS (
        SELECT did, n, i,
               CASE WHEN v >= 0 THEN v // 8
                    ELSE -((-v + 7) // 8) END AS p
        FROM s),
    c2 AS (
        SELECT did, n, i,
               CASE WHEN p >= 0 THEN 1 ELSE -1 END AS sg,
               CASE WHEN p >= 0 THEN p ELSE -p - 1 END AS q
        FROM c),
    c3 AS (
        SELECT did, n, i, sg, q,
               CASE WHEN q < 32 THEN 0 WHEN q < 64 THEN 1
                    WHEN q < 128 THEN 2 WHEN q < 256 THEN 3
                    WHEN q < 512 THEN 4 WHEN q < 1024 THEN 5
                    WHEN q < 2048 THEN 6 WHEN q < 4096 THEN 7
                    ELSE 8 END AS g
        FROM c2),
    rt AS (
        SELECT did, n, i,
               sg * (CASE WHEN g = 0 THEN mant * 16 + 8
                          WHEN g = 1 THEN mant * 16 + 264
                          ELSE (mant * 16 + 264)
                               * (1 << (least(g, 7) - 1)) END) AS r
        FROM (SELECT *,
                     CASE WHEN g = 0 THEN (q // 2) % 16
                          WHEN g >= 8 THEN 15
                          ELSE (q // (1 << g)) % 16 END AS mant
              FROM c3)),
    rl AS (SELECT did, n, list(r ORDER BY i) AS rl FROM rt GROUP BY did, n),
    -- energy grid: frame t covers sample indices [(t*n)//8, ((t+1)*n)//8);
    -- band b sums |s[i] - s[i-(b+1)]| over the frame (i >= b+1); rl is
    -- 1-indexed, so sample i is rl[i+1] and s[i-(b+1)] is rl[i-b]
    e AS (
        SELECT did, b.b AS b, t.t AS t,
               coalesce(list_sum(list_transform(
                   generate_series(greatest((t.t * n) // 8, b.b + 1),
                                   ((t.t + 1) * n) // 8 - 1),
                   i -> abs(rl[i + 1] - rl[i - b.b]))), 0) AS en,
               greatest(((t.t + 1) * n) // 8
                        - greatest((t.t * n) // 8, b.b + 1), 0) AS cnt
        FROM rl,
             generate_series(0, {A_FP_LAGS - 1}) AS b(b),
             generate_series(0, {A_FP_FRAMES - 1}) AS t(t)),
    tot AS (SELECT did, b, sum(en) AS tote, sum(cnt) AS totc
            FROM e GROUP BY did, b),
    bits AS (
        SELECT e.did, e.t * 8 + e.b AS ij,
               CASE WHEN e.en * tot.totc > tot.tote * e.cnt
                    THEN 1 ELSE 0 END AS bit
        FROM e JOIN tot USING (did, b)),
    hs AS (
        SELECT did,
               CAST(sum(CASE WHEN ij >= 32
                             THEN bit * (CAST(1 AS BIGINT) << (ij - 32))
                             ELSE 0 END) AS BIGINT) AS hi,
               CAST(sum(CASE WHEN ij < 32
                             THEN bit * (CAST(1 AS BIGINT) << ij)
                             ELSE 0 END) AS BIGINT) AS lo
        FROM bits GROUP BY did),
    bands AS (
        SELECT did, hi, lo, bnd,
               CASE WHEN bnd >= 2 THEN (hi >> ((bnd % 2) * 16)) & 65535
                    ELSE (lo >> ((bnd % 2) * 16)) & 65535 END AS bucket
        FROM hs CROSS JOIN unnest([0, 1, 2, 3]) AS u(bnd)),
    hot AS (
        SELECT bnd, bucket FROM bands GROUP BY bnd, bucket
        HAVING count(*) > {A_FP_BUCKET_CAP}),
    bb AS (SELECT bands.* FROM bands ANTI JOIN hot USING (bnd, bucket)),
    cand AS (
        SELECT DISTINCT x.did AS id_a, y.did AS id_b,
               x.hi AS ha, x.lo AS la, y.hi AS hb, y.lo AS lb
        FROM bb x JOIN bb y
          ON x.bnd = y.bnd AND x.bucket = y.bucket AND x.did < y.did)
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
               AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb))
          <= {A_FP_MAX_HAMMING}
    ORDER BY id_a, id_b
"""
