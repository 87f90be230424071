"""Pure-python/numpy PNG codec (stdlib zlib does the inflate).

Decoder: non-interlaced 8-bit-depth PNG — grayscale (0), RGB (2),
palette (3), gray+alpha (4), RGBA (6). Chunk walk → concatenated IDAT
inflate → per-scanline unfiltering (None/Sub/Up/Average/Paeth per the
PNG spec §9); Sub is vectorized as a per-channel cumulative sum mod
256, Up as a running row add, Average/Paeth stay per-pixel loops
(our encoder never emits them; third-party files may). 16-bit depth
and Adam7 interlace raise — documented seam.

Encoder (fixture generator + roundtrip oracle): 8-bit RGB or
grayscale, filter 0 on every row, one zlib-deflated IDAT. PNG is
LOSSLESS, so encode→decode is byte-exact for arbitrary images — which
makes the q53 oracle stronger than JPEG's flat-color trick: DuckDB
recomputes decode statistics of non-trivial deterministic patterns.

Public format: RFC 2083 / ISO 15948.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngDecodeError(ValueError):
    pass


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """Decode to (h, w, 3) uint8 RGB: palette expanded, grayscale
    replicated, alpha dropped (feature extraction reads color)."""
    if payload[: len(_SIG)] != _SIG:
        raise PngDecodeError("not a PNG (bad signature)")
    pos = len(_SIG)
    n = len(payload)
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if depth != 8:
                raise NotImplementedError(f"{depth}-bit PNG unsupported (8-bit only)")
            if interlace != 0:
                raise NotImplementedError("Adam7 interlaced PNG unsupported")
            if color not in _CHANNELS:
                raise PngDecodeError(f"bad color type {color}")
            ihdr = (w, h, color)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise PngDecodeError("no IHDR")
    w, h, color = ihdr
    ch = _CHANNELS[color]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise PngDecodeError("truncated pixel data")
    raw = raw[: h * (stride + 1)].reshape(h, stride + 1)
    filters = raw[:, 0]
    rows = raw[:, 1:].astype(np.int32)
    recon = np.zeros((h, stride), dtype=np.int32)
    for y in range(h):
        f = int(filters[y])
        line = rows[y]
        up = recon[y - 1] if y else np.zeros(stride, dtype=np.int32)
        if f == 0:
            recon[y] = line
        elif f == 1:  # Sub: per-channel prefix sum mod 256
            v = line.reshape(w, ch)
            recon[y] = np.cumsum(v, axis=0).reshape(-1) % 256
        elif f == 2:  # Up
            recon[y] = (line + up) % 256
        elif f == 3:  # Average
            out = recon[y]
            for i in range(stride):
                left = out[i - ch] if i >= ch else 0
                out[i] = (line[i] + ((left + up[i]) >> 1)) % 256
        elif f == 4:  # Paeth
            out = recon[y]
            for i in range(stride):
                left = out[i - ch] if i >= ch else 0
                ul = up[i - ch] if i >= ch else 0
                out[i] = (line[i] + _paeth(int(left), int(up[i]), int(ul))) % 256
        else:
            raise PngDecodeError(f"bad filter type {f} on row {y}")
    px = recon.astype(np.uint8).reshape(h, w, ch)
    if color == 3:
        if plte is None:
            raise PngDecodeError("palette image without PLTE")
        return plte[px[:, :, 0]]
    if color == 0:
        return np.repeat(px, 3, axis=2)
    if color == 4:
        return np.repeat(px[:, :, :1], 3, axis=2)
    if color == 6:
        return px[:, :, :3].copy()
    return px  # color == 2 (RGB)


def encode_png(img: np.ndarray) -> bytes:
    """Encode (h, w, 3) uint8 RGB or (h, w) grayscale: filter 0 rows,
    one IDAT deflated at zlib level 6. Lossless —
    decode_png(encode_png(x)) == x."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    color = 0 if gray else 2
    body = img.reshape(h, -1)
    scan = np.zeros((h, body.shape[1] + 1), dtype=np.uint8)
    scan[:, 1:] = body
    idat = zlib.compress(scan.tobytes(), 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    return (
        _SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
