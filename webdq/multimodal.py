"""Multimodal (image/audio/video) column plumbing + pure-numpy codecs.

Media travel as opaque ``binary`` columns with typed metadata — the
pages table's ``html`` column is the text-modality instance of the
same pattern. The Spark-side machinery here is REAL and tested:
schemas, partition-preserving ``mapInPandas`` batch transforms, Arrow
batch shapes, deterministic outputs.

Codecs: the container has no PIL/libvips/ffmpeg, so the REAL decoders
are pure numpy/python — binary PPM (P6) images, BASELINE JPEG
(``webdq.jpegcodec``: full huffman + dequant + IDCT + chroma
upsampling), PNG (``webdq.pngcodec``: chunk walk + zlib inflate +
scanline unfiltering), RIFF/WAVE PCM16 audio, and uncompressed-RGB
RIFF/AVI video — every image/audio/video format the contract names
decodes for real, each validated against third-party files and/or a
value-exact DuckDB oracle (q37/q48/q53). Unknown magic yields zeroed
features; swapping any ``_decode_rgb`` branch for PIL/ffmpeg changes
nothing else. Test media come from the query fixture's documents table
(``*_media_from_documents``) or the AVI writer (``synth_avi_media``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .storage import read_table

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("mean_byte", T.DoubleType(), True),
        T.StructField("byte_hist", T.ArrayType(T.FloatType()), True),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)


def _hist16(body: np.ndarray) -> np.ndarray:
    hist = np.bincount(body >> 4, minlength=16).astype(np.float32)
    s = hist.sum()
    return hist / s if s else hist


def _decode_ppm(payload: bytes) -> np.ndarray:
    """REAL binary-PPM (P6) parser, pure numpy: ASCII header
    'P6 <w> <h> <maxval>' (any whitespace, # comments allowed), one
    whitespace byte, then w·h·3 raw RGB bytes (any tail is ignored).
    A header that does not parse or a short body raises ValueError."""
    import re

    m = re.match(rb"P6\s+(?:#[^\n]*\n\s*)*(\d+)\s+(\d+)\s+(\d+)\s", payload)
    if not m:
        raise ValueError("P6 payload without a parsable header")
    w, h = int(m.group(1)), int(m.group(2))
    body = payload[m.end() : m.end() + w * h * 3]
    if len(body) < w * h * 3:
        raise ValueError(f"P6 {w}x{h} body has {len(body)} of {w * h * 3} bytes")
    return np.frombuffer(body, dtype=np.uint8).reshape(h, w, 3)


def _decode_rgb(payload: bytes) -> np.ndarray | None:
    """(h, w, 3) uint8 pixels of a P6, baseline-JPEG or PNG payload via
    the real codecs — the one image dispatcher. None for a NULL, short
    (< 8 bytes) or foreign-magic payload; a payload whose magic matches
    but whose body is malformed raises (ValueError, JpegDecodeError,
    PngDecodeError, ...), never returns plausible wrong pixels."""
    if payload is None or len(payload) < 8:
        return None
    payload = bytes(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"\xff\xd8":
        from .jpegcodec import decode_jpeg

        return decode_jpeg(payload)
    if payload[:4] == b"\x89PNG":
        from .pngcodec import decode_png

        return decode_png(payload)
    return None


def _image_features(payload: bytes) -> tuple[int, int, int, float, np.ndarray]:
    rgb = _decode_rgb(payload)
    if rgb is None:
        return 0, 0, 0, 0.0, np.zeros(16, dtype=np.float32)
    body = rgb.reshape(-1)
    return int(rgb.shape[1]), int(rgb.shape[0]), 3, float(body.mean()) if len(body) else 0.0, _hist16(body)


def decode_image_features(df: DataFrame) -> DataFrame:
    """payload → (width, height, channels, mean_byte, 16-bin byte
    histogram) via ``mapInPandas`` (iterator of Arrow batches; constant
    memory). PPM (P6), baseline JPEG and PNG all decode for real
    (pure numpy/python); foreign payloads yield zeroed features and a
    malformed body under a matching magic fails the task."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [_image_features(p) for p in b["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"].to_numpy(),
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "channels": [r[2] for r in rows],
                    "mean_byte": [r[3] for r in rows],
                    "byte_hist": [r[4] for r in rows],
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, IMAGE_FEATURES_SCHEMA)


# ------------------------------------------------------------------ PPM

def ppm_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """REAL binary-PPM image payloads derived deterministically from
    the driver's documents table, built entirely with Spark
    expressions: header 'P6\\n{w:04d} {h:04d}\\n255\\n' + raw RGB body
    whose bytes cycle md5(text). Size varies per doc (w ∈ 4..16,
    h ∈ 4..14) so the decoder's header parse is exercised for real;
    every field of the decode output is independently recomputable
    from (doc_id, md5(text)) — the q37 DuckDB oracle does exactly
    that."""
    d = read_table(spark, sf_dir, "documents")
    w = (F.col("doc_id") % 13 + 4).cast("int")
    h = (F.floor(F.col("doc_id") / 13) % 11 + 4).cast("int")
    body_len = (w * h * 3).cast("int")
    # 42 md5 repeats = 672 bytes ≥ max body (16*14*3)
    body = F.expr("substring(unhex(repeat(md5(text), 42)), 1, ((doc_id % 13 + 4) * (CAST(floor(doc_id / 13) AS BIGINT) % 11 + 4) * 3))")
    header = F.concat(
        F.lit("P6\n"),
        F.lpad(w.cast("string"), 4, "0"),
        F.lit(" "),
        F.lpad(h.cast("string"), 4, "0"),
        F.lit("\n255\n"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.concat(F.encode(header, "UTF-8"), body).alias("payload"),
        F.create_map(F.lit("source"), F.lit("documents-ppm")).alias("meta"),
    )


def jpeg_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG payloads built per document inside
    ``mapInPandas``: each doc encodes a flat-color image whose RGB and
    dimensions are deterministic functions of doc_id. Flat colors in
    [16, 239] at quality 98 survive the full DCT/quant/huffman
    roundtrip BYTE-EXACTLY (DC quant step 1 ⇒ channel error < 0.5
    before the final rounding — verified in tests), so every decode
    output field is recomputable by DuckDB from doc_id alone: the q48
    oracle drives the entire encoder+decoder through a value-exact
    gate. Non-8-multiple dims exercise the block edge-padding path."""
    from .jpegcodec import encode_jpeg

    d = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for did in b["doc_id"]:
                did = int(did)
                w = 8 + did % 9
                h = 8 + (did // 9) % 7
                rgb = np.array(
                    [did % 224 + 16, (did * 7) % 224 + 16, (did * 13) % 224 + 16],
                    dtype=np.uint8,
                )
                img = np.broadcast_to(rgb, (h, w, 3))
                payloads.append(encode_jpeg(img, quality=98))
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"].to_numpy(),
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [{"source": "documents-jpeg"}] * len(b),
                }
            )

    return d.mapInPandas(gen, MEDIA_SCHEMA)


def png_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """REAL PNG payloads built per document inside ``mapInPandas``:
    each doc encodes an RGB byte-ramp pattern (pixel i =
    (doc_id·31 + i) mod 256) at doc_id-derived dims. PNG is LOSSLESS,
    so decode output is exactly the pattern — the q53 DuckDB oracle
    recomputes the mean with a list comprehension over the same
    arithmetic, value-checking the whole encoder+inflate+unfilter+
    decode path on non-trivial images."""
    from .pngcodec import encode_png

    d = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for did in b["doc_id"]:
                did = int(did)
                w = 5 + did % 8
                h = 4 + (did // 8) % 6
                idx = np.arange(h * w * 3, dtype=np.int64)
                img = ((did * 31 + idx) % 256).astype(np.uint8).reshape(h, w, 3)
                payloads.append(encode_png(img))
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"].to_numpy(),
                    "media_type": "image",
                    "payload": payloads,
                    "meta": [{"source": "documents-png"}] * len(b),
                }
            )

    return d.mapInPandas(gen, MEDIA_SCHEMA)


# ------------------------------------------------------------------ WAV

def _wav_chunks(payload: bytes | None) -> tuple[int, int, int, bytes] | None:
    """Shared RIFF/WAVE chunk walk → (sample_rate, n_channels, bits,
    raw data bytes), or None for non-WAV payloads. The SINGLE place
    WAV container parsing lives (used by both ``decode_audio_features``
    and ``resample_audio``'s ``_wav_pcm``). TOTAL over arbitrary
    bytes: a truncated 'fmt ' chunk returns None instead of raising
    struct.error, and a 'data' size field that overruns the payload is
    clipped by the slice — untrusted shards must never kill a task."""
    import struct

    if payload is None or len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, rate, n_ch, bits = 12, 0, 0, 0
    data = b""
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (sz,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"fmt ":
            if pos + 24 > len(payload):
                return None
            _, n_ch, rate, _, _, bits = struct.unpack("<HHIIHH", payload[pos + 8 : pos + 24])
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz % 2)
    if not rate or not n_ch:
        return None
    return rate, n_ch, bits, data


def _decode_wav(payload: bytes) -> tuple[int, int, int, float, float]:
    """Pure-numpy RIFF/WAVE PCM16 parser: walks the chunk list to
    'fmt ' and 'data' (the real container layout, not a fixed offset)."""
    dec = _wav_chunks(bytes(payload) if payload is not None else None)
    if dec is None:
        return 0, 0, 0, 0.0, 0.0
    rate, n_ch, bits, data = dec
    if bits != 16:
        return 0, 0, 0, 0.0, 0.0
    # clip odd-length data (truncated tail) so frombuffer can't raise
    pcm = np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2").astype(np.float64) / 32768.0
    n_samples = len(pcm) // n_ch
    dur = n_samples / rate
    rms = float(np.sqrt((pcm**2).mean())) if len(pcm) else 0.0
    return rate, n_ch, n_samples, dur, rms


def decode_audio_features(df: DataFrame) -> DataFrame:
    """payload → (sample_rate, n_channels, n_samples, duration_s, rms)
    via ``mapInPandas`` — real WAV parsing, no audio library needed."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [_decode_wav(bytes(p) if p is not None else None) for p in b["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": b["media_id"].to_numpy(),
                    "sample_rate": [r[0] for r in rows],
                    "n_channels": [r[1] for r in rows],
                    "n_samples": [r[2] for r in rows],
                    "duration_s": [r[3] for r in rows],
                    "rms": [r[4] for r in rows],
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, AUDIO_FEATURES_SCHEMA)


# ------------------------------------------------------------------ AVI
# Real video container: uncompressed 24-bit RGB ('DIB ') RIFF/AVI.
# A byte-valid writer built with struct/numpy and an independent
# chunk-walking parser, no ffmpeg.
# Layout (public AVI RIFF form): RIFF('AVI ', LIST('hdrl', avih,
# LIST('strl', strh, strf)), LIST('movi', '00db' frames...)). Frames
# are bottom-up BGR rows padded to 4 bytes (the DIB rule).

def _avi_frame_bytes(media_id: int, frame_no: int, w: int, h: int) -> np.ndarray:
    """Deterministic BGR bottom-up padded frame (the synth pixel rule:
    byte = (id*31 + frame*7 + index) % 256 over the padded row grid)."""
    row_bytes = (w * 3 + 3) // 4 * 4
    idx = np.arange(h * row_bytes, dtype=np.int64)
    return ((media_id * 31 + frame_no * 7 + idx) % 256).astype(np.uint8)


def synth_avi_media(spark, n: int, partitions: int = 8) -> DataFrame:
    """Byte-valid uncompressed-RGB AVI payloads at 10 fps, generated
    deterministically per media_id inside ``mapInPandas`` — parseable
    by any AVI reader that handles the standard 'DIB ' form."""
    import struct

    fps = 10

    def build_one(mid: int) -> bytes:
        w = 8 + mid % 8
        h = 6 + mid % 5
        nf = 2 + mid % 7
        row_bytes = (w * 3 + 3) // 4 * 4
        frame_sz = row_bytes * h
        frames = [_avi_frame_bytes(mid, f, w, h).tobytes() for f in range(nf)]

        def chunk(cid: bytes, body: bytes) -> bytes:
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        def list_chunk(ltype: bytes, body: bytes) -> bytes:
            return chunk(b"LIST", ltype + body)

        avih = chunk(
            b"avih",
            struct.pack(
                "<10I", 1_000_000 // fps, frame_sz * fps, 0, 0x10, nf, 0, 1, frame_sz, w, h
            )
            + b"\x00" * 16,
        )
        strh = chunk(
            b"strh",
            b"vids"
            + b"DIB "
            + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, nf, frame_sz, 0, 0)
            + struct.pack("<4H", 0, 0, w, h),
        )
        strf = chunk(
            b"strf", struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_sz, 0, 0, 0, 0)
        )
        hdrl = list_chunk(b"hdrl", avih + list_chunk(b"strl", strh + strf))
        movi = list_chunk(b"movi", b"".join(chunk(b"00db", fr) for fr in frames))
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame(
                {
                    "media_id": b["id"].to_numpy(),
                    "media_type": "video",
                    "payload": [build_one(int(mid)) for mid in b["id"]],
                    "meta": [{"source": "synth-avi"}] * len(b),
                }
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, MEDIA_SCHEMA)


def _parse_avi(payload: bytes) -> list[bytes] | None:
    """Pure-python RIFF/AVI chunk walker: recursive LIST descent to the
    'movi' '00db'/'00dc' frame chunks. Returns the frames in stream
    order, or None when the payload is not an AVI."""
    import struct

    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (sz,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, min(body + sz, end))
            elif cid in (b"00db", b"00dc"):
                frames.append(bytes(payload[body : body + sz]))
            pos = body + sz + (sz % 2)

    walk(12, len(payload))
    return frames


def sample_frames_avi(df: DataFrame, every: int = 2) -> DataFrame:
    """REAL video frame sampling over AVI payloads: parse the
    container per row inside ``mapInPandas`` (constant memory — one
    payload decoded at a time per Arrow batch) and emit every
    ``every``-th frame as (media_id, frame_no, frame). Non-AVI
    payloads yield no rows. Swapping ``_parse_avi`` for an ffmpeg call
    changes nothing else — the operator shape (schema, batching,
    partitioning) is the production one."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            mids: list[int] = []
            fnos: list[int] = []
            blobs: list[bytes] = []
            for mid, p in zip(b["media_id"], b["payload"]):
                frames = _parse_avi(bytes(p)) if p is not None else None
                for i in range(0, len(frames or []), every):
                    mids.append(int(mid))
                    fnos.append(i)
                    blobs.append(frames[i])
            yield pd.DataFrame(
                {
                    "media_id": np.array(mids, dtype=np.int64),
                    "frame_no": np.array(fnos, dtype=np.int32),
                    "frame": blobs,
                }
            )

    return df.select("media_id", "payload").mapInPandas(gen, FRAME_SCHEMA)


def _encode_ppm(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(img, dtype=np.uint8).tobytes()


def resize_images(
    df: DataFrame,
    out_w: int,
    out_h: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize image payloads (P6/JPEG/PNG in, P6 out so the decode /
    feature operators compose downstream) — the third member of the
    multimodal plumbing set (decode / feature-extract / RESIZE /
    frame-sample). Arrow ``mapInPandas``, pure numpy per batch.

    Nearest neighbour: src index = floor(dst · src_dim / out_dim) in
    INTEGER arithmetic — fully engine-replayable, which is what lets the
    q80 oracle recompute the resized image's statistics arithmetically
    from the deterministic source pattern (up- AND down-sampling).
    Undecodable payloads — foreign, or a matching magic over a
    truncated / progressive / 16-bit body — yield (NULL payload, 0×0):
    total function, no task failure on a corrupt shard."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"output dims must be positive, got {out_w}x{out_h}")
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(payload_col, T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    img = _decode_rgb(payload)
                except Exception:  # malformed body: the documented NULL row
                    img = None
                if img is None:
                    rows.append((mid, None, 0, 0))
                    continue
                h, w = img.shape[:2]
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                out = img[ys][:, xs]
                rows.append((mid, _encode_ppm(out), out_w, out_h))
            yield pd.DataFrame(rows, columns=[id_col, payload_col, "width", "height"])

    return df.select(id_col, payload_col).mapInPandas(gen, schema)

def _wav_pcm(payload: bytes) -> tuple[int, np.ndarray] | None:
    """(sample_rate, int16 mono samples) via the shared ``_wav_chunks``
    walk, or None for undecodable/non-PCM16-mono payloads."""
    dec = _wav_chunks(payload)
    if dec is None:
        return None
    rate, n_ch, bits, data = dec
    if n_ch != 1 or bits != 16:
        return None
    return rate, np.frombuffer(data[: len(data) // 2 * 2], dtype="<i2")


def _encode_wav(pcm: np.ndarray, rate: int) -> bytes:
    import struct

    data = np.ascontiguousarray(pcm, dtype="<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def wav_media_from_documents(spark, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE PCM16 payloads derived deterministically from
    the driver's documents table: n_samples = 100 + doc_id % 200,
    samples cycle the 16 md5(text) bytes as little-endian int16 pairs
    (the audio twin of ``ppm_media_from_documents``'s pixel cycle) —
    every decoded statistic is recomputable from (doc_id, md5(text))
    by pure arithmetic, which is what gives audio ops a value-exact
    oracle (q81)."""
    import hashlib

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            payloads = []
            for did, text in zip(b["doc_id"], b["text"]):
                digest = hashlib.md5((text or "").encode("utf-8")).digest()
                n_samp = 100 + int(did) % 200
                raw = (digest * ((2 * n_samp) // 16 + 1))[: 2 * n_samp]
                pcm = np.frombuffer(raw, dtype="<i2")
                payloads.append(_encode_wav(pcm, 8000))
            yield pd.DataFrame(
                {
                    "media_id": b["doc_id"].to_numpy(),
                    "media_type": "audio",
                    "payload": payloads,
                    "meta": [{"source": "documents-wav"}] * len(b),
                }
            )

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(gen, MEDIA_SCHEMA)


def resample_audio(
    df: DataFrame,
    out_rate: int,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Sample-rate conversion for PCM16-mono WAV payloads (decode →
    nearest-sample resample → WAV re-encode, Arrow ``mapInPandas``) —
    the audio member of the resize family. INTEGER index arithmetic:
    n_out = (n_in · out_rate) // in_rate, out[i] = in[(i · in_rate) //
    out_rate] — engine-replayable, so the q81 oracle recomputes the
    resampled stream's statistics arithmetically (the standard
    production resampler would be windowed-sinc; nearest is the
    deterministic baseline, as for image resize).
    Undecodable/non-PCM16-mono payloads yield (NULL, 0) — total, no
    task failure."""
    if out_rate <= 0:
        raise ValueError(f"out_rate must be positive, got {out_rate}")
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(payload_col, T.BinaryType()),
            T.StructField("sample_rate", T.IntegerType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload in zip(b[id_col], b[payload_col]):
                dec = _wav_pcm(bytes(payload) if payload is not None else None)
                if dec is None:
                    rows.append((mid, None, 0))
                    continue
                in_rate, pcm = dec
                n_out = (len(pcm) * out_rate) // in_rate
                idx = (np.arange(n_out) * in_rate) // out_rate
                rows.append((mid, _encode_wav(pcm[idx], out_rate), out_rate))
            yield pd.DataFrame(rows, columns=[id_col, payload_col, "sample_rate"])

    return df.select(id_col, payload_col).mapInPandas(gen, schema)

FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("mean_byte", T.DoubleType(), True),
    ]
)


def frame_features(df: DataFrame) -> DataFrame:
    """Per-sampled-frame statistics (media_id, frame_no, n_bytes,
    mean_byte) over ``sample_frames_avi`` output — the
    feature-extraction step that follows frame sampling in a video
    pipeline. A ≤frame-size integer byte sum is exact in doubles, so
    the mean is engine-replayable (the q82 oracle)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, fno, fr in zip(b["media_id"], b["frame_no"], b["frame"]):
                body = np.frombuffer(bytes(fr), dtype=np.uint8)
                rows.append(
                    (int(mid), int(fno), len(body), float(body.mean()) if len(body) else 0.0)
                )
            yield pd.DataFrame(
                {
                    "media_id": np.array([r[0] for r in rows], dtype=np.int64),
                    "frame_no": np.array([r[1] for r in rows], dtype=np.int32),
                    "n_bytes": np.array([r[2] for r in rows], dtype=np.int64),
                    "mean_byte": np.array([r[3] for r in rows], dtype=np.float64),
                }
            )

    return df.select("media_id", "frame_no", "frame").mapInPandas(gen, FRAME_FEATURES_SCHEMA)
