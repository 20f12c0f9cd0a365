"""BMP: roundtrip (odd widths exercise row padding), profile rejects, and
one byte-golden file written out by hand from the format layout."""

import numpy as np
import pytest

from imagery_utils_spark.sources.bmp import decode_bmp, encode_bmp


def _grad(h, w, rgb=False):
    y, x = np.mgrid[0:h, 0:w]
    g = ((x * 5 + y * 11) % 256).astype(np.uint8)
    if rgb:
        return np.stack([g, 255 - g, (g // 2)], axis=-1).astype(np.uint8)
    return g


@pytest.mark.parametrize("w", [1, 2, 3, 4, 5, 17])
def test_gray_roundtrip_padding(w):
    img = _grad(7, w)
    out = decode_bmp(encode_bmp(img))
    assert out.shape == img.shape and (out == img).all()


@pytest.mark.parametrize("w", [1, 3, 4, 13])
def test_rgb_roundtrip_padding(w):
    img = _grad(5, w, rgb=True)
    out = decode_bmp(encode_bmp(img))
    assert out.shape == img.shape and (out == img).all()


def test_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG whatever")
    blob = bytearray(encode_bmp(_grad(4, 4)))
    blob[30:34] = (1).to_bytes(4, "little")  # compression = RLE8
    with pytest.raises(NotImplementedError, match="BI_RGB"):
        decode_bmp(bytes(blob))


def test_deterministic():
    img = _grad(9, 9, rgb=True)
    assert encode_bmp(img) == encode_bmp(img)


def test_rgb_bytes_golden():
    """2x3 RGB -> 54-byte header, then rows bottom-up, each pixel stored
    B, G, R and each 9-byte row padded with zeros to 12."""
    img = np.arange(1, 19, dtype=np.uint8).reshape(2, 3, 3)
    expected = bytes.fromhex(
        "424d" "4e000000" "00000000" "36000000"  # 'BM', 78 B file, body at 54
        "28000000" "03000000" "02000000"          # 40 B info, w 3, h 2
        "0100" "1800" "00000000" "18000000"       # 1 plane, 24 bpp, BI_RGB, 24 B
        "130b0000" "130b0000" "00000000" "00000000"  # 2835 px/m, no palette
        "0c0b0a" "0f0e0d" "121110" "000000"       # image row 1
        "030201" "060504" "090807" "000000")      # image row 0
    assert encode_bmp(img) == expected
    assert (decode_bmp(expected) == img).all()
