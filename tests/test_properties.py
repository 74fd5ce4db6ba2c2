"""Property-based tests (hypothesis) for the pure kernels: invariants
that hold for ALL inputs, not just the fixture points.

Spark stays out of these — the kernels under test are the plain-Python/
numpy functions the Arrow-batched stages call, so hypothesis can push
thousands of cases per second through them.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from openskidata_processor_spark.pipeline.enrichment import geohash_encode
from openskidata_processor_spark.sources import terrain as tr
from openskidata_processor_spark.sources.fetch import geohash_decode
from test_terrain import encode_png


@settings(max_examples=200, deadline=None)
@given(st.floats(-180, 180), st.floats(-90, 90))
def test_geohash_roundtrip_property(lon, lat):
    """decode(encode(p)) stays within half a precision-10 cell of p."""
    gh = geohash_encode(lon, lat, 10)
    dlat, dlon = geohash_decode(gh)
    assert abs(dlat - lat) <= 90 / (2 ** 25) + 1e-9
    assert abs(dlon - lon) <= 180 / (2 ** 25) + 1e-9


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 8), st.integers(1, 8),
    st.lists(st.sampled_from([0, 1, 2]), min_size=8, max_size=8),
    st.randoms(use_true_random=False),
)
def test_png_codec_roundtrip_property(w, h, filters, rnd):
    """encode→decode is the identity for any 8-bit RGB image under any
    mix of the filter types the encoder supports."""
    arr = np.array([[rnd.randrange(256) for _ in range(w * 3)]
                    for _ in range(h)], dtype=np.uint8).reshape(h, w, 3)
    png = encode_png(arr, filters=filters[:h])
    assert np.array_equal(tr.decode_png_rgb(png), arr)


@settings(max_examples=200, deadline=None)
@given(st.floats(-180, 180), st.floats(-85, 85), st.integers(0, 14))
def test_mercator_tile_bounds_property(lon, lat, zoom):
    """Tile coordinates always land inside the zoom's grid and pixel
    offsets inside the tile."""
    tx, ty, px, py = tr.lonlat_to_tile_pixel(lon, lat, zoom, 256)
    n = 1 << zoom
    # tx == n is reachable for lon within 1 ulp of 180 (float rounding at
    # the antimeridian); interpolation_setup's modulo wrap handles it
    assert 0 <= tx <= n
    assert 0 <= ty <= n
    assert -1e-9 <= px < 256 + 1e-9
    assert -1e-9 <= py < 256 + 1e-9


@settings(max_examples=200, deadline=None)
@given(st.floats(-179.99, 179.99), st.floats(-84.9, 84.9),
       st.integers(1, 12))
def test_interpolation_corners_property(lon, lat, zoom):
    """Every interior point gets exactly 4 corners, each with pixel
    coordinates inside its tile and tile ids inside the world."""
    tx, ty, px, py = tr.lonlat_to_tile_pixel(lon, lat, zoom, 256)
    setup = tr.interpolation_setup(tx, ty, px, py, zoom, 256)
    if setup is None:
        return  # world edge — allowed
    corners, fx, fy = setup
    n = 1 << zoom
    assert len(corners) == 4 and 0 <= fx < 1 and 0 <= fy < 1
    for cx, cy, lx, ly in corners:
        assert 0 <= cx < n and 0 <= cy < n
        assert 0 <= lx < 256 and 0 <= ly < 256


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 255), st.integers(0, 255), st.integers(0, 255))
def test_terrain_decode_inverse_property(r, g, b):
    """The mapbox decode is the exact inverse of the test encoder's
    channel packing (the reference's published formula)."""
    elev = tr.decode_elevation(r, g, b, "mapbox")
    v = (r << 16) | (g << 8) | b
    assert abs(elev - (-10000.0 + v * 0.1)) < 1e-12
    # terrarium decode is monotone in the packed value
    assert tr.decode_elevation(r, g, b, "terrarium") == \
        r * 256 + g + b / 256.0 - 32768


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(-32768, 32767), min_size=0, max_size=512),
       st.sampled_from([8000, 16000, 44100]))
def test_wav_codec_roundtrip_property(samples, rate):
    """WAV encode→decode is the identity for any int16 sample buffer."""
    from training_catalog.operators.multimodal import (
        decode_wav_pcm16, encode_wav_pcm16)
    s = np.array(samples, dtype=np.int16)
    out_rate, out = decode_wav_pcm16(encode_wav_pcm16(s, rate))
    assert out_rate == rate
    assert np.array_equal(out, s)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(1, 40), min_size=1, max_size=60),
       st.integers(10, 100))
def test_next_fit_packing_invariants(weights, budget):
    """Next-fit invariants on the OPERATOR's own recurrence (the exact
    function pack_sequences runs per shard): bin ids are contiguous and
    monotone in scan order; a bin only exceeds the budget when it holds a
    single oversized document; a new bin opens only because the previous
    could not take the document."""
    from training_catalog.operators.packing import next_fit_bins
    bins = next_fit_bins(weights, budget)
    assert bins[0] == 0
    # monotone, steps of ≤ 1
    for a, b in zip(bins, bins[1:]):
        assert b in (a, a + 1)
    fills = {}
    for w, b in zip(weights, bins):
        fills[b] = fills.get(b, 0) + w
    for b, f in fills.items():
        members = [w for w, bb in zip(weights, bins) if bb == b]
        assert f <= budget or len(members) == 1
    # a new bin opens only because the previous could not take the doc
    for i in range(1, len(weights)):
        if bins[i] != bins[i - 1]:
            prev_fill = sum(w for w, b in zip(weights[:i], bins[:i])
                            if b == bins[i - 1])
            assert prev_fill + weights[i] > budget


# ---------------------------------------------------------------------------
# Geometry kernels (functions/geometry.py) — the pure-Python cores the
# Arrow-batched spatial stages call.
# ---------------------------------------------------------------------------

_lon = st.floats(-179, 179, allow_nan=False)
_lat = st.floats(-85, 85, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(_lon, _lat, _lon, _lat, _lon, _lat)
def test_haversine_is_a_metric(x1, y1, x2, y2, x3, y3):
    from openskidata_processor_spark.functions.geometry import (
        haversine_point_km)
    a, b, c = [x1, y1], [x2, y2], [x3, y3]
    assert haversine_point_km(a, a) == 0.0
    dab = haversine_point_km(a, b)
    assert dab >= 0.0
    assert abs(dab - haversine_point_km(b, a)) < 1e-9
    # triangle inequality (great-circle distance is a metric)
    assert dab <= haversine_point_km(a, c) + haversine_point_km(c, b) + 1e-6


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.floats(10.0, 10.2), st.floats(46.0, 46.2)),
                min_size=2, max_size=8),
       st.floats(0.05, 3.0))
def test_points_along_line_invariants(pts, interval):
    """Endpooints always included; consecutive samples never farther apart
    (crow-flies) than the sampling interval by more than interpolation
    slack; every sample stays inside the line's bbox."""
    from openskidata_processor_spark.functions.geometry import (
        haversine_point_km, points_along_geometry)
    coords = [[x, y] for x, y in pts]
    geom = {"type": "LineString", "coordinates": coords}
    out = points_along_geometry(geom, interval)
    assert out, "sampler returned nothing"
    r9 = lambda p: (round(p[0], 9), round(p[1], 9))
    assert r9(out[0]) == r9(coords[0])
    assert r9(out[-1]) in {r9(c) for c in coords} | {r9(out[-1])}
    # last original vertex survives dedupe somewhere in the output
    assert r9(coords[-1]) in {r9(p) for p in out}
    xs = [c[0] for c in coords]; ys = [c[1] for c in coords]
    for p in out:
        assert min(xs) - 1e-9 <= p[0] <= max(xs) + 1e-9
        assert min(ys) - 1e-9 <= p[1] <= max(ys) + 1e-9
    for p, q in zip(out, out[1:]):
        assert haversine_point_km(p, q) <= interval * 1.01 + 1e-6


@settings(max_examples=150, deadline=None)
@given(st.integers(3, 10), st.floats(0.01, 0.5), st.floats(0, 6.28),
       st.integers(0, 9))
def test_point_in_convex_ring(n, radius, phase, rot):
    """Center of a convex ring is inside; far points are outside; the
    verdict is invariant to which vertex starts the ring."""
    import math as m

    from openskidata_processor_spark.functions.geometry import point_in_ring
    cx, cy = 11.0, 47.0
    ring = [[cx + radius * m.cos(phase + 2 * m.pi * i / n),
             cy + radius * m.sin(phase + 2 * m.pi * i / n)]
            for i in range(n)]
    rotated = ring[rot % n:] + ring[:rot % n]
    assert point_in_ring(cx, cy, ring)
    assert point_in_ring(cx, cy, rotated)
    assert not point_in_ring(cx + 3 * radius, cy, ring)
    assert not point_in_ring(cx, cy - 3 * radius, rotated)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(st.floats(-10, 10), st.floats(40, 50)),
                min_size=1, max_size=12),
       st.floats(0.01, 1.0))
def test_covering_cells_cover_every_vertex(pts, cell):
    import math as m

    from openskidata_processor_spark.functions.geometry import covering_cells
    geom = {"type": "MultiPoint", "coordinates": [[x, y] for x, y in pts]}
    cells = set(covering_cells(geom, cell))
    for x, y in pts:
        assert (m.floor(x / cell), m.floor(y / cell)) in cells
    xs = sorted({c[0] for c in cells}); ys = sorted({c[1] for c in cells})
    # bbox cover is a full rectangle of cells
    assert len(cells) == len(xs) * len(ys)
    assert xs == list(range(xs[0], xs[-1] + 1))
    assert ys == list(range(ys[0], ys[-1] + 1))


@settings(max_examples=150, deadline=None)
@given(st.floats(10.0, 10.05), st.floats(46.0, 46.05),
       st.lists(st.tuples(st.floats(10.0, 10.05), st.floats(46.0, 46.05)),
                min_size=2, max_size=6))
def test_snap_point_never_worse_than_vertices(px, py, pts):
    """The snapped position is at least as close (geodesically, up to the
    equirectangular approximation's slack) as the nearest line VERTEX."""
    from openskidata_processor_spark.functions.geometry import (
        haversine_point_km, snap_point_to_line)
    coords = [[x, y] for x, y in pts]
    geom = {"type": "LineString", "coordinates": coords}
    snapped = snap_point_to_line([px, py], geom)
    d_snap = haversine_point_km([px, py], snapped)
    d_best_vertex = min(haversine_point_km([px, py], c) for c in coords)
    assert d_snap <= d_best_vertex * 1.001 + 1e-9


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.floats(-180, 180), st.floats(-90, 90)),
                min_size=3, max_size=12, unique=True))
def test_centroid_excludes_ring_closer(ring_pts):
    """For any polygon ring, the centroid equals the plain mean of the
    ring WITHOUT its closing duplicate (turf's excludeWrapCoord), and is
    invariant to whether the input ring is explicitly closed."""
    from openskidata_processor_spark.functions.geometry import centroid

    open_ring = [list(p) for p in ring_pts]
    closed_ring = open_ring + [open_ring[0]]
    open_poly = {"type": "Polygon", "coordinates": [open_ring]}
    closed_poly = {"type": "Polygon", "coordinates": [closed_ring]}

    expect = [sum(p[0] for p in open_ring) / len(open_ring),
              sum(p[1] for p in open_ring) / len(open_ring)]
    got_closed = centroid(closed_poly)
    got_open = centroid(open_poly)
    assert got_closed == got_open
    assert abs(got_closed[0] - expect[0]) < 1e-9
    assert abs(got_closed[1] - expect[1]) < 1e-9


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.floats(-180, 180), st.floats(-90, 90)),
                min_size=2, max_size=12))
def test_centroid_linestring_keeps_every_vertex(pts):
    """LineStrings average ALL vertices including duplicates — the wrap
    exclusion applies only to polygon rings (turf coordEach)."""
    from openskidata_processor_spark.functions.geometry import centroid

    coords = [list(p) for p in pts]
    got = centroid({"type": "LineString", "coordinates": coords})
    assert abs(got[0] - sum(c[0] for c in coords) / len(coords)) < 1e-9
    assert abs(got[1] - sum(c[1] for c in coords) / len(coords)) < 1e-9


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(["DE", "US", "CZ", "JP", "XX", "XK", None]),
       st.one_of(st.none(), st.text(max_size=12)),
       st.one_of(st.none(), st.text(max_size=12)),
       st.one_of(st.none(), st.text(max_size=12)))
def test_enhance_photon_total_and_consistent(code, state, county, city):
    """enhance_photon never raises, returns None exactly for missing/
    unknown country codes (except Kosovo), and any returned iso3166_2 is
    '<country>-<region>' for a region actually in the db."""
    from openskidata_processor_spark.sources.fetch import (DEFAULT_REGION_DB,
                                                           enhance_photon)

    props = {k: v for k, v in [("countrycode", code), ("state", state),
                               ("county", county), ("city", city)]
             if v is not None}
    out = enhance_photon(props)
    if code is None or (code not in DEFAULT_REGION_DB and code != "XK"):
        assert out is None
        return
    assert out is not None
    assert out["locality"] == city
    if code == "XK":
        assert out["iso3166_1"] == "XK" and out["iso3166_2"] is None
        return
    assert out["iso3166_1"] == code
    if out["iso3166_2"] is not None:
        prefix, riso = out["iso3166_2"].split("-", 1)
        assert prefix == code
        entry = next(r for r in DEFAULT_REGION_DB[code]["regions"]
                     if r["iso"] == riso)
        assert out["region"] == entry["name"]
        assert entry["name"] in (state, county)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 2 ** 62), st.integers(1, 2 ** 31)),
             min_size=1, max_size=16),
    st.integers(1, 2 ** 40),
)
def test_energy_bits_matches_exact_rational(windows, n):
    """The audio fingerprint's window compare must equal exact rational
    arithmetic (sa/nw > st/n) at ANY magnitude — including far past the
    int64 product range where the pre-fix numpy path silently wrapped."""
    from fractions import Fraction

    import numpy as np

    from training_catalog.operators.multimodal import \
        _energy_bits

    sa = np.array([w[0] for w in windows], dtype=np.int64)
    nw = np.array([w[1] for w in windows], dtype=np.int64)
    stot = int(sa.sum())
    got = _energy_bits(sa, nw, stot, n)
    want = 0
    for k, (a, w) in enumerate(windows):
        if Fraction(a, w) > Fraction(stot, n):
            want |= 1 << k
    assert got == want
