"""Minimal pure-Python PNG codec (stdlib zlib only — no PIL in this env).

The media store keeps rendered page images as real PNG bytes in a
``binary`` column; executors decode them inside the Arrow UDF. Supports
8-bit grayscale (color type 0) and 8-bit RGB (color type 2), which is all
the fixture generator emits; the decoder handles all five standard scanline
filters so externally produced PNGs of those color types also work.

Reference parity note: the reference reads PNGs via AWT ImageIcon/ImageIO
(/root/reference/src/main/java/com/uddernetworks/newocr/utils/OCRUtils.java:31-37,
train/ImageReadMethod.java:18-67). Decoder choice does not affect
recognition semantics — binarization (OCRUtils.java:188-195) happens after.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .limits import check_pixels

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """Encode a (h, w) uint8 grayscale or (h, w, 3) uint8 RGB array as PNG."""
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8 array, got {img.dtype}")
    if img.ndim == 2:
        color_type = 0
        h, w = img.shape
        raw = img
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type = 2
        h, w = img.shape[:2]
        raw = img
    else:
        raise ValueError(f"expected (h,w) or (h,w,3), got {img.shape}")

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 (None) per scanline
    scanlines = np.concatenate(
        [np.zeros((h, 1), np.uint8), raw.reshape(h, -1)], axis=1
    ).tobytes()
    idat = zlib.compress(scanlines, 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(data: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filters. data is (h, 1+stride) raw inflated bytes."""
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = data[y, 0]
        line = data[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ftype == 0:
            res = line
        elif ftype == 1:  # Sub
            res = line.copy()
            for x in range(bpp, stride):
                res[x] = (res[x] + res[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            res = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            res = line.copy()
            for x in range(stride):
                a = res[x - bpp] if x >= bpp else 0
                res[x] = (res[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            res = line.copy()
            for x in range(stride):
                a = int(res[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                res[x] = (res[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = res.astype(np.uint8)
    return out


def decode_png(buf: bytes) -> np.ndarray:
    """Decode PNG bytes → (h, w) uint8 grayscale or (h, w, 3) uint8 RGB.
    Every chunk CRC is checked; a bad or missing CRC, or no IEND, is a ValueError."""
    if bytes(buf[:8]) != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    color_type = bit_depth = None
    idat = bytearray()
    n = len(buf)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", buf, pos)
        end = pos + 8 + length
        chunk, crc = bytes(buf[pos + 4 : end]), bytes(buf[end : end + 4])
        pos = end + 4
        if len(crc) < 4 or zlib.crc32(chunk) != int.from_bytes(crc, "big"):
            raise ValueError(f"PNG chunk {chunk[:4]!r}: CRC missing or wrong")
        tag, payload = chunk[:4], chunk[4:]
        if tag == b"IHDR":
            w, h, bit_depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if bit_depth != 8 or color_type not in (0, 2) or interlace != 0:
                raise ValueError(
                    f"unsupported PNG: depth={bit_depth} color={color_type} interlace={interlace}"
                )
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    else:
        raise ValueError("PNG cut short: no IEND chunk")
    if w is None:
        raise ValueError("missing IHDR")
    check_pixels(w, h)
    channels = 1 if color_type == 0 else 3
    stride = w * channels
    # inflate at most the h * (1 + stride) bytes the header declares, so a
    # small stream cannot expand into an unbounded buffer
    size = h * (1 + stride)
    inflater = zlib.decompressobj()
    data = inflater.decompress(bytes(idat), size)
    if len(data) < size:
        raise ValueError(f"PNG data too short: {len(data)} of {size} bytes")
    if inflater.unconsumed_tail:
        raise ValueError(f"PNG data longer than the {size} bytes its header declares")
    raw = np.frombuffer(data, dtype=np.uint8).reshape(h, 1 + stride)
    if bool((raw[:, 0] != 0).any()):
        pixels = _unfilter(raw, h, stride, channels)
    else:  # fast path: all filter-0 (what encode_png emits)
        pixels = raw[:, 1:]
    return pixels.reshape(h, w) if channels == 1 else pixels.reshape(h, w, 3)
