"""Minimal pure-Python BMP codec (uncompressed 8-bit grayscale and 24-bit
BGR, the two classic DIB layouts).

Second image container alongside PNG — the analogue of the reference's
multiple image read strategies (`train/ImageReadMethod.java:18-67` offers
IMAGEIO / IMAGE_ICON / IMAGEIO_STREAM). Decoder choice never affects
recognition semantics; binarization happens downstream either way.
"""

from __future__ import annotations

import struct

import numpy as np

from .limits import check_pixels

_FILE_HDR = "<2sIHHI"  # magic, file size, res1, res2, pixel offset
_INFO_HDR = "<IiiHHIIiiII"  # BITMAPINFOHEADER


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode (h, w) uint8 grayscale (8-bit palette) or (h, w, 3) RGB."""
    img = np.asarray(img)
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8 array, got {img.dtype}")
    h, w = img.shape[:2]
    if img.ndim == 2:
        bpp = 8
        row = np.ascontiguousarray(img[::-1])  # bottom-up rows
        stride = (w + 3) & ~3
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, :w] = row
        palette = b"".join(struct.pack("<BBBB", i, i, i, 0) for i in range(256))
        pix_off = 14 + 40 + len(palette)
    elif img.ndim == 3 and img.shape[2] == 3:
        bpp = 24
        bgr = np.ascontiguousarray(img[::-1, :, ::-1])
        stride = (w * 3 + 3) & ~3
        padded = np.zeros((h, stride), dtype=np.uint8)
        padded[:, : w * 3] = bgr.reshape(h, w * 3)
        palette = b""
        pix_off = 14 + 40
    else:
        raise ValueError(f"unsupported shape {img.shape}")
    data = padded.tobytes()
    file_hdr = struct.pack(_FILE_HDR, b"BM", pix_off + len(data), 0, 0, pix_off)
    info_hdr = struct.pack(
        _INFO_HDR, 40, w, h, 1, bpp, 0, len(data), 2835, 2835,
        256 if bpp == 8 else 0, 0,
    )
    return file_hdr + info_hdr + palette + data


def decode_bmp(buf: bytes) -> np.ndarray:
    """Decode an uncompressed 8-bit-paletted-gray or 24-bit BMP."""
    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP")
    pix_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", buf, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    compression = struct.unpack_from("<I", buf, 30)[0]
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    flip = h > 0
    h = abs(h)
    check_pixels(w, h)
    if bpp == 8:
        stride = (w + 3) & ~3
        raw = np.frombuffer(buf, np.uint8, stride * h, pix_off).reshape(h, stride)
        # resolve through the palette's blue channel (gray palettes: B==G==R)
        pal_off = 14 + hdr_size
        pal = np.frombuffer(buf, np.uint8, min(1024, pix_off - pal_off), pal_off)
        lut = pal.reshape(-1, 4)[:, 0]
        img = lut[raw[:, :w]]
    elif bpp == 24:
        stride = (w * 3 + 3) & ~3
        raw = np.frombuffer(buf, np.uint8, stride * h, pix_off).reshape(h, stride)
        img = raw[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    else:
        raise ValueError(f"unsupported BMP bpp {bpp}")
    return np.ascontiguousarray(img[::-1] if flip else img)


def decode_image(buf: bytes) -> np.ndarray:
    """Magic-byte dispatch: PNG or BMP → uint8 array. The single decode
    entry the OCR UDF uses, so media columns can mix containers."""
    from .png import decode_png

    if buf[:2] == b"BM":
        return decode_bmp(bytes(buf))
    return decode_png(buf)
