"""Windows BMP (BITMAPINFOHEADER, BI_RGB) — writer and parser from the
public format layout. The uncompressed raster preview format of the K4
tile sink (``sinks.write_raster_tiles(fmt="bmp")``): 24-bit BGR and
8-bit grayscale-palette profiles, 4-byte-aligned bottom-up rows.

Declared limits: no RLE4/RLE8 compression, no BITFIELDS, no V4/V5
headers, no top-down (negative height) images — the parser rejects
instead of guessing.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["encode_bmp", "decode_bmp"]

_GRAY_PALETTE = b"".join(struct.pack("<BBBB", i, i, i, 0)
                         for i in range(256))


def encode_bmp(img: np.ndarray) -> bytes:
    """(h, w) uint8 grayscale -> 8-bit palette BMP; (h, w, 3) uint8
    RGB -> 24-bit BI_RGB (stored BGR, bottom-up, rows padded to 4)."""
    if img.dtype != np.uint8:
        raise ValueError("uint8 only")
    h, w = img.shape[0], img.shape[1]
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("shape must be (h,w) or (h,w,3)")
    bpp = 8 if gray else 24
    palette = _GRAY_PALETTE if gray else b""
    row = w * bpp // 8
    body = np.zeros((h, (row + 3) & ~3), dtype=np.uint8)
    if gray:
        body[:, :w] = img[::-1]  # bottom-up
    else:  # bottom-up, RGB -> BGR; one plane at a time is the fast copy
        bgr = body[:, :row].reshape(h, w, 3)
        for c in range(3):
            bgr[:, :, c] = img[::-1, :, 2 - c]
    data = body.tobytes()
    off = 14 + 40 + len(palette)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(data),
                       2835, 2835, 256 if gray else 0, 0)
    return hdr + info + palette + data


def decode_bmp(blob: bytes) -> np.ndarray:
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", blob, 10)[0]
    (isize, w, h, planes, bpp, comp, _sz, _xr, _yr, nclr,
     _imp) = struct.unpack_from("<IiiHHIIiiII", blob, 14)
    if isize != 40:
        raise NotImplementedError("BITMAPINFOHEADER only")
    if comp != 0:
        raise NotImplementedError("BI_RGB only")
    if h <= 0 or planes != 1:
        raise NotImplementedError("bottom-up single-plane only")
    if bpp not in (8, 24):
        raise NotImplementedError(f"{bpp}-bit BMP unsupported")
    row = w * bpp // 8
    rows = np.frombuffer(blob, np.uint8, ((row + 3) & ~3) * h,
                         off).reshape(h, -1)[::-1, :row]  # bottom-up
    if bpp == 24:
        return rows.reshape(h, w, 3)[:, :, ::-1].copy()  # BGR -> RGB
    n = nclr or 256
    pal = np.frombuffer(blob, np.uint8, n * 4, 54).reshape(n, 4)
    if not (pal[:, 0] == pal[:, 1]).all() \
            or not (pal[:, 1] == pal[:, 2]).all():
        raise NotImplementedError("non-grayscale palette")
    return pal[rows, 0]
