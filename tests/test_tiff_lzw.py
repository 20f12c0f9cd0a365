"""TIFF-variant LZW tests — MSB packing goldens, early-change width
boundaries, 4094 reset, KwKwK, GeoTIFF integration."""

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from imagery_utils_spark.sources.tiff_lzw import (
    tiff_lzw_decode, tiff_lzw_encode)


def test_msb_packing_golden_empty_stream():
    """Clear(256)@9 then EOI(257)@9, MSB-first:
    100000000 100000001 (+6 pad) = 0x80 0x40 0x40."""
    assert tiff_lzw_encode(b"") == b"\x80\x40\x40"


def test_roundtrips_across_resets_and_widths():
    rng = np.random.RandomState(0)
    for data in [
        b"hello world",
        bytes(rng.randint(0, 256, 60000).astype(np.uint8)),
        bytes(rng.randint(0, 256, 200000).astype(np.uint8)),  # >1 reset
        bytes((np.arange(60000) % 5).astype(np.uint8)),
        bytes(np.repeat(np.arange(256, dtype=np.uint8), 500)),
        b"\x01\x02" * 1000 + b"\x01\x01\x01\x01",             # KwKwK
    ]:
        assert tiff_lzw_decode(tiff_lzw_encode(data), len(data)) == data


def test_compression_actually_compresses():
    data = bytes((np.arange(100000) % 9).astype(np.uint8))
    assert len(tiff_lzw_encode(data)) < len(data) // 20


def test_truncation_and_size_mismatch_rejected():
    enc = tiff_lzw_encode(b"abcabcabc")
    with pytest.raises(ValueError):
        tiff_lzw_decode(enc[:2], 9)
    with pytest.raises(ValueError):
        tiff_lzw_decode(enc, 8)


def test_early_change_width_golden():
    """Pins the early-change rule the roundtrip tests cannot see (any
    symmetric rule roundtrips): 2000 random bytes emit codes at 9, 10,
    11 and 12 bits, so an encoder that widens one code late (GIF's
    rule) changes the stream after the first switch."""
    data = bytes(np.random.RandomState(2).randint(
        0, 256, 2000).astype(np.uint8))
    assert hashlib.sha256(tiff_lzw_encode(data)).hexdigest() == (
        "9d709cddd5d009c83fd938b956e59c560f03ac3e9190b85c6ca4ab99c3f78bd5")


def test_geotiff_lzw_strip_roundtrip():
    from imagery_utils_spark.sources.geotiff import (
        decode_geotiff, encode_geotiff)
    rng = np.random.RandomState(3)
    for arr in [rng.randint(0, 256, (17, 23)).astype(np.uint8),
                rng.randint(0, 65535, (9, 11)).astype(np.uint16),
                rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)]:
        blob = encode_geotiff(arr, -10.0, 40.0, -9.0, 41.0,
                              epsg=32628, compress="lzw")
        out, gt, epsg = decode_geotiff(blob)
        assert (out == arr).all()
        assert epsg == 32628
        assert abs(gt[0] - -10.0) < 1e-12 and abs(gt[3] - 41.0) < 1e-12
    # tag value is the spec's 5
    import struct
    (ifd_off,) = struct.unpack_from("<I", blob, 4)
    (n,) = struct.unpack_from("<H", blob, ifd_off)
    comp = {struct.unpack_from("<HHII", blob, ifd_off + 2 + 12 * i)[0]:
            struct.unpack_from("<HHII", blob, ifd_off + 2 + 12 * i)[3]
            for i in range(n)}[259]
    assert comp == 5


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=4000))
def test_property_roundtrip(data):
    assert tiff_lzw_decode(tiff_lzw_encode(data), len(data)) == data


def test_geotiff_lzw_predictor2_roundtrip_and_wins():
    """PREDICTOR=2 + LZW: roundtrip exact for gray/uint16/RGB, and on
    smooth gradients the differenced stream compresses far better."""
    from imagery_utils_spark.sources.geotiff import (
        decode_geotiff, encode_geotiff)
    rng = np.random.RandomState(5)
    for arr in [rng.randint(0, 256, (13, 19)).astype(np.uint8),
                rng.randint(0, 65535, (7, 9)).astype(np.uint16),
                rng.randint(0, 256, (6, 8, 3)).astype(np.uint8)]:
        blob = encode_geotiff(arr, 0.0, 0.0, 1.0, 1.0,
                              compress="lzw", predictor=2)
        out, _gt, _e = decode_geotiff(blob)
        assert (out == arr).all()
    # smooth ramp: gradient image, predictor turns it into constant runs
    ramp = (np.arange(200)[None, :] + np.arange(100)[:, None]) % 256
    ramp = ramp.astype(np.uint8)
    plain = encode_geotiff(ramp, 0, 0, 1, 1, compress="lzw")
    pred = encode_geotiff(ramp, 0, 0, 1, 1, compress="lzw", predictor=2)
    assert len(pred) < len(plain) // 2
    # deflate + predictor also roundtrips
    blob = encode_geotiff(ramp, 0, 0, 1, 1, compress="deflate",
                          predictor=2)
    out, _gt, _e = decode_geotiff(blob)
    assert (out == ramp).all()


def test_tail_boundary_fuzz():
    """Regression for the tail desync class (encoder never adds after
    its final code, so next_code-driven widths miss the decoder's
    pre-EOI widen): 3000 seeded random streams across alphabet sizes."""
    import random
    rng = random.Random(11)
    for _ in range(3000):
        n = rng.randint(0, 600)
        alpha = rng.choice([2, 3, 5, 256])
        d = bytes(rng.randint(0, alpha - 1) for _ in range(n))
        assert tiff_lzw_decode(tiff_lzw_encode(d), len(d)) == d
