"""Property-based spot checks (SURVEY §5.4): distance kernel laws, cell
covering, tag-algebra laws — hypothesis-driven, numpy/pure-python only
(no Spark session needed, so these run in milliseconds)."""

import numpy as np
from hypothesis import given, settings, strategies as st

from gtfs_osm_sync_spark.functions import cells, geo
from gtfs_osm_sync_spark.operators.pip import point_in_ring_np
from gtfs_osm_sync_spark.synth import wkb_polygon
from gtfs_osm_sync_spark.operators.pip import parse_wkb_polygon

lat_st = st.floats(min_value=-80, max_value=80, allow_nan=False, width=64)
lon_st = st.floats(min_value=-179.5, max_value=179.5, allow_nan=False, width=64)


@settings(max_examples=200, deadline=None)
@given(lat_st, lon_st, lat_st, lon_st)
def test_haversine_laws(lat1, lon1, lat2, lon2):
    a = geo.haversine_m_np(np.array([lat1]), np.array([lon1]), np.array([lat2]), np.array([lon2]))[0]
    b = geo.haversine_m_np(np.array([lat2]), np.array([lon2]), np.array([lat1]), np.array([lon1]))[0]
    assert a == b  # symmetry (identical op order -> bit-equal)
    assert a >= 0.0
    assert a <= np.pi * geo.EARTH_RADIUS_M + 1e-6  # bounded by half circumference
    same = geo.haversine_m_np(np.array([lat1]), np.array([lon1]), np.array([lat1]), np.array([lon1]))[0]
    assert same == 0.0


@settings(max_examples=100, deadline=None)
@given(lat_st, lon_st, lat_st, lon_st)
def test_vincenty_close_to_haversine(lat1, lon1, lat2, lon2):
    v = geo.vincenty_m_np(np.array([lat1]), np.array([lon1]), np.array([lat2]), np.array([lon2]))[0]
    h = geo.haversine_m_np(np.array([lat1]), np.array([lon1]), np.array([lat2]), np.array([lon2]))[0]
    assert np.isfinite(v) and v >= 0
    # ellipsoid vs sphere flattening bound
    assert abs(v - h) <= 0.006 * max(v, 1.0)


@settings(max_examples=200, deadline=None)
@given(lat_st, lon_st)
def test_s2_cell_contains_its_point(lat, lon):
    c = cells.s2_cell_np(np.array([lat]), np.array([lon]), 15)
    clat, clon = cells.s2_cell_center_latlon(c, 15)
    d = geo.haversine_m_np(np.array([lat]), np.array([lon]), clat, clon)[0]
    assert d < 300.0  # within level-15 cell extent


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-170, max_value=170, allow_nan=False),
            st.floats(min_value=-80, max_value=80, allow_nan=False),
        ),
        min_size=3,
        max_size=8,
    ),
    st.floats(min_value=-80, max_value=80, allow_nan=False),
    st.floats(min_value=-170, max_value=170, allow_nan=False),
)
def test_pip_wkb_roundtrip_consistency(coords, plat, plon):
    """WKB encode/decode is lossless and PIP agrees between the decoded
    ring and the original coordinate list."""
    ring = parse_wkb_polygon(wkb_polygon(coords))
    direct = np.array(coords + [coords[0]], dtype=float)
    a = point_in_ring_np(np.array([plat]), np.array([plon]), ring)[0]
    b = point_in_ring_np(np.array([plat]), np.array([plon]), direct)[0]
    assert a == b


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(st.text(min_size=1, max_size=6), st.text(max_size=8), max_size=5),
    st.dictionaries(st.text(min_size=1, max_size=6), st.text(max_size=8), max_size=5),
)
def test_tag_merge_laws_pure(new, old):
    """Pure-python replicas of the tag-merge laws (the Spark expressions
    are pinned by truth-table tests; these check the algebraic laws)."""
    # keep-existing: old wins; result keys = union
    keep = {**{k: v for k, v in new.items() if k not in old}, **old}
    assert set(keep) == set(new) | set(old)
    for k in old:
        assert keep[k] == old[k]
    # overwrite: new wins with '' -> 'none' sentinel
    sent = {k: (v if v != "" else "none") for k, v in new.items()}
    over = {**old, **sent}
    for k in new:
        assert over[k] == (new[k] if new[k] != "" else "none")
    # idempotence
    assert {**over, **sent} == over


# ---- codec round-trip laws (the hand-rolled real formats) ----------------

_img_st = st.tuples(
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=0, max_value=2**31 - 1),
)


def _rand_img(h, w, seed):
    return (
        np.random.default_rng(seed).integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    )


@settings(max_examples=60, deadline=None)
@given(_img_st)
def test_png_roundtrip_identity(hw):
    from gtfs_osm_sync_spark.functions.codecs import png_decode, png_encode

    img = _rand_img(*hw)
    assert np.array_equal(png_decode(png_encode(img)), img)


@settings(max_examples=60, deadline=None)
@given(_img_st)
def test_lossy_roundtrip_bounded_error(hw):
    from gtfs_osm_sync_spark.functions.codecs import (
        _JPGQ_STEP,
        decode_lossy,
        encode_lossy,
        psnr,
    )

    img = _rand_img(*hw)
    out = decode_lossy(encode_lossy(img))
    assert out.shape == img.shape
    err = np.abs(out.astype(np.int16) - img.astype(np.int16))
    assert err.max() <= _JPGQ_STEP  # quantizer bound
    p = psnr(img, out)
    assert p >= 40.0  # the north-rule lossy floor (inf when identical)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=800),
    st.sampled_from([1, 2, 4]),
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_roundtrip_quantization_bound(n, sw, sr, seed):
    from gtfs_osm_sync_spark.operators.media import decode_wav, encode_wav, wav_info

    x = (np.random.default_rng(seed).random(n) * 2.0 - 1.0).astype(np.float32)
    data = encode_wav(x, sr, sampwidth=sw)
    got, got_sr = decode_wav(data)
    assert got_sr == sr and len(got) == n
    assert wav_info(data) == (sr, n, 1, sw)
    # error bound of the standard (libsndfile) convention: encode scales
    # by 2^(n-1)-1 (or 127 for u8), decode divides by 2^(n-1) — the
    # asymmetry shrinks by up to 1/D and rounding adds 0.5/D, so
    # |err| <= 1.5/D
    bound = 1.5 / float(2 ** (8 * sw - 1))
    assert np.abs(got.astype(np.float64) - np.clip(x, -1, 1)).max() <= bound


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=8),
    st.sampled_from([5.0, 24.0, 30.0]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_avi_roundtrip_frames_exact(n_frames, h, w, fps, seed):
    from gtfs_osm_sync_spark.operators.media import (
        avi_info,
        decode_avi_frames,
        encode_avi,
    )

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8) for _ in range(n_frames)
    ]
    data = encode_avi(frames, fps)
    got_fps, got_nf, got_w, got_h = avi_info(data)
    assert (got_nf, got_w, got_h) == (n_frames, w, h)
    assert abs(got_fps - fps) < 0.01
    got = decode_avi_frames(data, list(range(n_frames)))
    for a, b in zip(got, frames):
        assert np.array_equal(a, b)  # Motion-PNG: lossless frames


@settings(max_examples=200, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=1, max_value=9))
def test_hex_cell_center_fixpoint_and_parent_containment(lat, lon, res):
    """The grid laws the pyramid and all ring covers rely on: a cell's
    center re-encodes to the SAME cell at its own res (center fixpoint),
    unpack inverts the packing, and hex_parent_np(c) is exactly the
    res-1 cell containing c's center (the aperture-7 parent relation)."""
    c = cells.hex_cell_np(np.array([lat]), np.array([lon]), res)
    r2, q, r = cells.hex_cell_unpack(c)
    assert int(r2[0]) == res
    clat, clon = cells.hex_cell_center_latlon(c)
    again = cells.hex_cell_np(clat, clon, res)
    assert int(again[0]) == int(c[0])
    if res >= 2:
        parent = cells.hex_parent_np(c)
        pres, _, _ = cells.hex_cell_unpack(parent)
        assert int(pres[0]) == res - 1
        assert int(parent[0]) == int(cells.hex_cell_np(clat, clon, res - 1)[0])
