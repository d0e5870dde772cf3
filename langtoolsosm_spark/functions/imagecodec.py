"""From-scratch image codecs + perceptual hash (pure NumPy + stdlib zlib).

The engine's input table carries encoded image bytes
(``BASELINE.json:input_hint``: columns bytes/w/h/fmt/phash). No imaging
libraries exist in the sandbox, so codecs are written from scratch:

* ``raw``  — trivial header + uint8 RGB pixels (lossless)
* ``bmp``  — minimal 24-bit Windows BMP (lossless, row-padded)
* ``png``  — real PNG: signature/IHDR/IDAT(zlib, filter 0)/IEND (lossless)
* ``dctq`` — 8x8 block DCT + quantization + zlib (lossy, PSNR >= 40 dB —
  verified by tests per the per-row invariant in BASELINE.json)

All functions operate on whole arrays / byte buffers; at the Spark
boundary they run inside the ``per_image`` ``mapInArrow`` kernel over
Arrow batches (see operators/images.py), never per-row Python UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

FORMATS = ("raw", "bmp", "png", "dctq")
LOSSLESS = {"raw", "bmp", "png"}

_RAW_MAGIC = b"IMR1"


# ---------------------------------------------------------------------------
# raw
# ---------------------------------------------------------------------------

def encode_raw(px: np.ndarray) -> bytes:
    h, w, c = px.shape
    assert c == 3 and px.dtype == np.uint8
    return _RAW_MAGIC + struct.pack("<HHB", w, h, c) + px.tobytes()


def decode_raw(buf: bytes) -> np.ndarray:
    assert buf[:4] == _RAW_MAGIC, "not an IMR1 buffer"
    w, h, c = struct.unpack("<HHB", buf[4:9])
    return np.frombuffer(buf[9:], dtype=np.uint8).reshape(h, w, c).copy()


# ---------------------------------------------------------------------------
# bmp (24-bit, bottom-up, BGR, 4-byte row padding)
# ---------------------------------------------------------------------------

def encode_bmp(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    img_size = (row + pad) * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = px[::-1, :, ::-1]  # bottom-up, BGR
    if pad:
        rows = np.zeros((h, row + pad), dtype=np.uint8)
        rows[:, :row] = bgr.reshape(h, row)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + body


def decode_bmp(buf: bytes) -> np.ndarray:
    assert buf[:2] == b"BM", "not a BMP buffer"
    off = struct.unpack("<I", buf[10:14])[0]
    w, h = struct.unpack("<ii", buf[18:26])
    bpp = struct.unpack("<H", buf[28:30])[0]
    assert bpp == 24
    row = w * 3
    pad = (4 - row % 4) % 4
    rows = np.frombuffer(buf[off : off + (row + pad) * h], dtype=np.uint8).reshape(
        h, row + pad
    )
    bgr = rows[:, :row].reshape(h, w, 3)
    return bgr[::-1, :, ::-1].copy()


# ---------------------------------------------------------------------------
# png (8-bit RGB, filter 0 on write; filters 0-4 supported on read)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.zeros((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(buf: bytes) -> np.ndarray:
    assert buf[:8] == _PNG_SIG, "not a PNG buffer"
    pos = 8
    w = h = None
    idat = b""
    while pos < len(buf):
        (ln,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", data[:10])
            assert depth == 8 and ctype == 2, "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, 1 + w * 3)
    stride = w * 3
    out = np.empty((h, stride), dtype=np.uint8)
    for y in range(h):
        f = raw[y, 0]
        line = raw[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if f == 0:
            out[y] = line.astype(np.uint8)
        elif f == 2:  # up
            out[y] = ((line + prev) & 0xFF).astype(np.uint8)
        elif f in (1, 3, 4):  # sub / average / paeth need sequential scan
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = cur[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
            out[y] = cur.astype(np.uint8)
        else:
            raise ValueError(f"unsupported PNG filter {f}")
    return out.reshape(h, w, 3).copy()


# ---------------------------------------------------------------------------
# dctq — lossy 8x8 block DCT with light quantization (PSNR >= 40 dB)
# ---------------------------------------------------------------------------

def _dct_basis(n: int = 8) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    basis = np.cos((2 * i + 1) * k * np.pi / (2 * n)) * np.sqrt(2.0 / n)
    basis[0] = np.sqrt(1.0 / n)
    return basis


_B8 = _dct_basis(8)
# gentle quant table: DC fine, HF coarser — tuned so PSNR stays >= 40 dB
_QTAB = (1.0 + np.add.outer(np.arange(8), np.arange(8)) * 0.8).astype(np.float64)


def _blockify(ch: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = ch.shape
    ph, pw = (-h) % 8, (-w) % 8
    ch = np.pad(ch, ((0, ph), (0, pw)), mode="edge")
    H, W = ch.shape
    blocks = ch.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    return blocks.reshape(-1, 8, 8), H, W


def encode_dctq(px: np.ndarray) -> bytes:
    h, w, c = px.shape
    coefs = []
    for ci in range(c):
        blocks, H, W = _blockify(px[:, :, ci].astype(np.float64) - 128.0)
        d = _B8 @ blocks @ _B8.T  # (N,8,8) DCT-II per block
        q = np.round(d / _QTAB).astype(np.int16)
        coefs.append(q)
    payload = zlib.compress(np.concatenate(coefs).tobytes(), 6)
    return b"DCQ1" + struct.pack("<HHB", w, h, c) + payload


def decode_dctq(buf: bytes) -> np.ndarray:
    assert buf[:4] == b"DCQ1", "not a DCQ1 buffer"
    w, h, c = struct.unpack("<HHB", buf[4:9])
    H, W = h + (-h) % 8, w + (-w) % 8
    nblk = (H // 8) * (W // 8)
    q = np.frombuffer(zlib.decompress(buf[9:]), dtype=np.int16).reshape(c * nblk, 8, 8)
    out = np.empty((h, w, c), dtype=np.uint8)
    for ci in range(c):
        d = q[ci * nblk : (ci + 1) * nblk].astype(np.float64) * _QTAB
        blocks = _B8.T @ d @ _B8
        ch = blocks.reshape(H // 8, W // 8, 8, 8).transpose(0, 2, 1, 3).reshape(H, W)
        out[:, :, ci] = np.clip(np.round(ch + 128.0), 0, 255).astype(np.uint8)[:h, :w]
    return out


# ---------------------------------------------------------------------------
# dispatch
# ---------------------------------------------------------------------------

_ENC = {"raw": encode_raw, "bmp": encode_bmp, "png": encode_png, "dctq": encode_dctq}
_DEC = {"raw": decode_raw, "bmp": decode_bmp, "png": decode_png, "dctq": decode_dctq}


def encode(px: np.ndarray, fmt: str) -> bytes:
    return _ENC[fmt](px)


def decode(buf: bytes, fmt: str) -> np.ndarray:
    return _DEC[fmt](bytes(buf))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


# ---------------------------------------------------------------------------
# perceptual hash — 32x32 grayscale DCT, low-freq 8x8, median threshold
# ---------------------------------------------------------------------------

_B32 = _dct_basis(32)


def _resize_gray_32(px: np.ndarray) -> np.ndarray:
    """Area-ish resample of an RGB image to 32x32 grayscale (float64)."""
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    return gray[np.ix_(ys, xs)]


def phash64(px: np.ndarray) -> int:
    """64-bit pHash; deterministic, pure NumPy. Matches the ``phash``
    column contract of the input table (BASELINE.json:input_hint)."""
    g = _resize_gray_32(px)
    d = _B32 @ g @ _B32.T
    low = d[:8, :8].copy()
    low[0, 0] = 0.0  # drop DC
    med = np.median(low)
    bits = (low > med).ravel()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    # fold to signed int64 for parquet LongType
    return v - (1 << 64) if v >= (1 << 63) else v


def phash64_batch(frames: np.ndarray) -> np.ndarray:
    """Batched ``phash64`` over a (n, h, w, 3) uint8 tensor: one batched
    matmul pair for ALL frames' DCTs (same 32x32 GEMM per slice as the
    scalar path, so results are bit-identical — parity-tested) instead of
    a per-frame Python call. Returns int64[n]."""
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError(f"expected (n, h, w, 3), got {frames.shape}")
    n, h, w, _ = frames.shape
    if n == 0:
        return np.empty(0, dtype=np.int64)
    gray = frames.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    g = gray[:, ys[:, None], xs[None, :]]  # (n, 32, 32)
    d = (_B32 @ g) @ _B32.T  # batched: B32 @ g_i @ B32.T per frame
    low = d[:, :8, :8].reshape(n, 64).copy()
    low[:, 0] = 0.0  # drop DC
    med = np.median(low, axis=1)
    bits = low > med[:, None]
    weights = (np.uint64(1) << np.arange(63, -1, -1, dtype=np.uint64))
    v = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return v.view(np.int64)


def phash_hamming(a: int, b: int) -> int:
    return bin((a & (1 << 64) - 1) ^ (b & (1 << 64) - 1)).count("1")
