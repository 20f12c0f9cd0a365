"""Property-based hardening for the round-4 kernels: the engine and its
independent oracle implementations must agree on ARBITRARY dyadic inputs,
not just the battery fixtures; the BMP and GeoTIFF codecs must roundtrip
any image exactly."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import independent_oracles as IO
from imagery_utils_spark.core.geom import wrap_geometry_180
from imagery_utils_spark.operators.footprint import _dp_simplify

# dyadic coordinates: i / 4 over a modest integer range keeps every cross
# product / interpolation exact in float64
dyadic = st.integers(-2000, 2000).map(lambda i: i / 4.0)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(dyadic, dyadic), min_size=3, max_size=40),
       st.sampled_from([0.25, 0.5, 1.0, 2.0]))
def test_dp_simplify_engine_equals_recursive_oracle(pts, tol):
    kept_engine = [tuple(p) for p in _dp_simplify(np.asarray(pts, float), tol)]
    kept_oracle = [pts[i] for i in IO._dp_recursive(pts, tol)]
    assert kept_engine == kept_oracle


def _crossing_ring(x_w, ys):
    """Alternate one west (positive, near 180) and one east longitude whose
    shifted x-run is EXACTLY 64 (power of two) so every crossing
    interpolation is float-exact; ys vary freely (dyadic)."""
    x_e = x_w - 296.0  # shifted: x_w + 64
    return [(x_w if i % 2 == 0 else x_e, y) for i, y in enumerate(ys)]


@settings(max_examples=150, deadline=None)
@given(
    st.integers(0, 15).map(lambda i: 128.0 + 4 * i),
    st.lists(st.integers(-256, 256).map(lambda i: i / 4.0), min_size=4,
             max_size=10),
)
def test_wrap_engine_equals_fraction_oracle_exact(x_w, ys):
    """Power-of-two runs: the engine's float wrap must be BIT-identical to
    the exact-rational oracle."""
    ring = _crossing_ring(x_w, ys)
    try:
        oracle = IO._wrap_exact(ring)
    except ZeroDivisionError:
        return
    engine = [p.tolist() for p in wrap_geometry_180(np.asarray(ring, float))]
    assert engine == [[list(pt) for pt in part] for part in oracle]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 12).map(lambda i: 124.0 + 4 * i), min_size=1,
             max_size=4),
    st.lists(st.integers(0, 12).map(lambda i: -172.0 + 4 * i), min_size=1,
             max_size=4),
    st.lists(st.integers(-64, 64).map(float), min_size=4, max_size=10),
)
def test_wrap_engine_matches_fraction_oracle_approx(xs_west, xs_east, ys):
    """Arbitrary (non-power-of-two) runs: same structure and vertex order,
    crossings within 1e-9 of the exact-rational value."""
    ring = []
    for i, y in enumerate(ys):
        x = xs_west[i % len(xs_west)] if i % 2 == 0 else xs_east[i % len(xs_east)]
        ring.append((x, y))
    try:
        oracle = IO._wrap_exact(ring)
    except ZeroDivisionError:
        return
    engine = wrap_geometry_180(np.asarray(ring, float))
    assert len(engine) == len(oracle)
    for ep, op in zip(engine, oracle):
        assert len(ep) == len(op)
        for (ex, ey), (ox, oy) in zip(ep.tolist(), op):
            assert ex == ox and abs(ey - oy) < 1e-9


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 10 ** 6),
       st.booleans())
def test_bmp_roundtrip_exact(w, h, seed, gray):
    from imagery_utils_spark.sources.bmp import decode_bmp, encode_bmp

    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    arr = rng.integers(0, 256, size=shape).astype(np.uint8)
    back = decode_bmp(encode_bmp(arr))
    assert back.shape == arr.shape and (back == arr).all()


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 30), st.integers(1, 30), st.integers(0, 10 ** 6),
       st.sampled_from([None, "deflate"]), st.booleans())
def test_geotiff_roundtrip_exact(w, h, seed, compress, sixteen):
    from imagery_utils_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.default_rng(seed)
    if sixteen:
        arr = rng.integers(0, 65536, size=(h, w)).astype(np.uint16)
    else:
        arr = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    out, gtf, epsg = decode_geotiff(
        encode_geotiff(arr, 0.0, 0.0, float(w), float(h), epsg=3413,
                       compress=compress))
    assert (out == arr).all() and epsg == 3413
    assert gtf[1] == 1.0 and gtf[5] == -1.0
