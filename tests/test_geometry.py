"""Geometry kernel property tests (SURVEY.md §5 item 4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gtfs_to_geojson_spark import geometry as g


def test_hull_contains_all_points():
    rng = np.random.default_rng(42)
    for _ in range(20):
        pts = rng.uniform(-1, 1, (rng.integers(3, 200), 2))
        h = g.convex_hull(pts)
        if h is None:
            continue
        assert np.all(g.points_in_ring(pts[:, 0], pts[:, 1], h))
        assert g.signed_area(h) >= 0  # CCW


def test_hull_degenerate():
    assert g.convex_hull(np.asarray([[0, 0], [1, 1]])) is None
    assert g.convex_hull(np.asarray([[0, 0], [1, 1], [2, 2], [3, 3]])) is None
    assert g.convex_hull(np.asarray([[0, 0], [0, 0], [0, 0]])) is None


def test_hull_mergeable():
    """hull(hull(A) ∪ hull(B)) == hull(A ∪ B) — the two-phase agg."""
    rng = np.random.default_rng(1)
    a = rng.uniform(0, 1, (100, 2))
    b = rng.uniform(0.5, 1.5, (100, 2))
    direct = g.convex_hull(np.vstack([a, b]))
    ha, hb = g.convex_hull(a), g.convex_hull(b)
    merged = g.convex_hull(np.vstack([ha[:-1], hb[:-1]]))
    assert np.allclose(direct, merged)


def test_rdp_endpoints_and_tolerance():
    rng = np.random.default_rng(5)
    line = np.cumsum(rng.uniform(-1, 1, (200, 2)), axis=0)
    out = g.simplify_line(line, 0.5)
    assert np.array_equal(out[0], line[0]) and np.array_equal(out[-1], line[-1])
    assert len(out) <= len(line)
    # zero tolerance keeps everything (no coincident points here)
    assert len(g.simplify_line(line, 0.0)) == len(line)


def test_buffer_point_radius_and_containment():
    ring = g.buffer_point(37.7, -122.4, 400, steps=64)
    d = g.haversine_m(37.7, -122.4, ring[:, 1], ring[:, 0])
    assert np.allclose(d, 400, rtol=0.02)
    assert g.points_in_ring([-122.4], [37.7], ring)[0]


def test_buffer_line_contains_line():
    rng = np.random.default_rng(9)
    pts = np.cumsum(rng.uniform(-0.003, 0.003, (30, 2)), axis=0) + [-122.4, 37.7]
    caps = g.buffer_line(pts, 300)
    polys = [[r] for r in caps]
    assert np.all(g.points_in_multipolygon(pts[:, 0], pts[:, 1], polys))
    # midpoints of segments too
    mids = 0.5 * (pts[:-1] + pts[1:])
    assert np.all(g.points_in_multipolygon(mids[:, 0], mids[:, 1], polys))


def test_union_area_monotone():
    """union area ≥ max input area; ≤ sum of areas."""
    rng = np.random.default_rng(3)
    rings = [
        g.buffer_point(37.7 + rng.uniform(-0.01, 0.01), -122.4 + rng.uniform(-0.01, 0.01), 400, steps=16)
        for _ in range(40)
    ]
    merged, ok = g.union_or_parts(rings)
    assert ok
    area_u = sum(g.signed_area(r) for r in merged)
    areas = [abs(g.signed_area(r)) for r in rings]
    assert area_u >= max(areas) - 1e-15
    assert area_u <= sum(areas) + 1e-15


def test_union_disjoint_identity():
    a = np.asarray([[0, 0], [1, 0], [1, 1], [0, 1]], float)
    out = g.polygon_union([a, a + 10.0])
    assert len(out) == 2
    assert all(abs(abs(g.signed_area(r)) - 1.0) < 1e-12 for r in out)


def test_union_with_hole():
    r1 = np.asarray([[0, 0], [3, 0], [3, 1], [0, 1]], float)
    r2 = np.asarray([[0, 2], [3, 2], [3, 3], [0, 3]], float)
    r3 = np.asarray([[0, 0], [1, 0], [1, 3], [0, 3]], float)
    r4 = np.asarray([[2, 0], [3, 0], [3, 3], [2, 3]], float)
    out = g.polygon_union([r1, r2, r3, r4])
    sa = sorted(g.signed_area(r) for r in out)
    assert len(out) == 2
    assert abs(sa[0] + 1.0) < 1e-9  # hole, CW
    assert abs(sa[1] - 9.0) < 1e-9  # outer, CCW


def test_union_containment_preserved():
    """Any point inside some input ring is inside the union outers
    (and respects holes via even-odd) — the row-set contract."""
    rng = np.random.default_rng(17)
    rings = [
        g.buffer_point(37.7 + rng.uniform(-0.005, 0.005), -122.4 + rng.uniform(-0.005, 0.005), 350, steps=12)
        for _ in range(25)
    ]
    merged, ok = g.union_or_parts(rings)
    assert ok
    probe_lon = rng.uniform(-122.41, -122.39, 400)
    probe_lat = rng.uniform(37.69, 37.71, 400)
    in_parts = g.points_in_multipolygon(probe_lon, probe_lat, [[r] for r in rings])
    in_union = g.points_in_polygon(probe_lon, probe_lat, merged)
    # allow boundary-epsilon flips only
    disagree = in_parts != in_union
    assert disagree.mean() < 0.01


def test_pip_edge_cases():
    sq = np.asarray([[0, 0], [1, 0], [1, 1], [0, 1]], float)
    assert g.points_in_ring([0.5], [0.5], sq)[0]
    assert g.points_in_ring([0.0], [0.5], sq)[0]  # on edge = inside
    assert g.points_in_ring([0.0], [0.0], sq)[0]  # corner
    assert not g.points_in_ring([1.0001], [0.5], sq)[0]
    hole = np.asarray([[0.25, 0.25], [0.75, 0.25], [0.75, 0.75], [0.25, 0.75]], float)
    assert not g.points_in_polygon([0.5], [0.5], [sq, hole])[0]


def test_point_segment_distance():
    seg_a = np.asarray([[-122.41, 37.70]])
    seg_b = np.asarray([[-122.39, 37.70]])
    # point directly above the middle, ~1110 m north
    d = g.point_segments_dist_m(37.71, -122.40, seg_a, seg_b)
    assert abs(d[0] - 0.01 * g.EARTH_M_PER_DEG_LAT) < 2.0
    # beyond endpoint clamps to endpoint distance
    d2 = g.point_segments_dist_m(37.70, -122.45, seg_a, seg_b)
    assert d2[0] > 3000


def test_bbox_polygon_shape():
    p = g.bbox_polygon(-1, -2, 3, 4)
    assert p.shape == (5, 2)
    assert np.array_equal(p[0], p[-1])
    assert g.signed_area(p) > 0


def _annulus_with_island():
    """400 buffers of 300 m on a 1.5 km circle around (-122.40, 37.75)
    enclose an open disc; one more buffer 700 m east of the centre is an
    island inside it. Every salted partial of the ring encloses the disc
    too. Returns (centres, grid bounds, a point that must stay open, a
    point that must stay covered)."""
    cx, cy = -122.40, 37.75
    dlat = 1500.0 / 111_320.0
    dlon = dlat / np.cos(np.radians(cy))
    th = np.linspace(0, 2 * np.pi, 400, endpoint=False)
    island = (cx + dlon * 700 / 1500, cy)
    ring = np.column_stack([cx + dlon * np.cos(th), cy + dlat * np.sin(th)])
    return np.vstack([ring, [island]]), (cx - 0.03, cy - 0.02, cx + 0.03, cy + 0.02), (cx, cy), island


def _blob():
    """One dense blob (hot cell) plus a few scattered buffers."""
    rng = np.random.default_rng(7)
    return np.concatenate(
        [
            np.column_stack(
                [rng.uniform(-122.30, -122.28, 120), rng.uniform(37.78, 37.80, 120)]
            ),
            np.column_stack([rng.uniform(-122.5, -122.4, 10), rng.uniform(37.70, 37.75, 10)]),
        ]
    ), (-122.52, 37.69, -122.26, 37.81), None, None


@pytest.mark.parametrize(
    "fixture,salts", [("blob", [30]), ("annulus", [300, 100])], ids=["blob", "annulus"]
)
def test_dissolve_salted_matches_unsalted(spark, fixture, salts):
    """Salted partial unions (grouped-map skew path) must cover the
    same region as the single-level union — row-set semantics, checked
    by point containment over a sample grid — with the same rings: a
    hole that every partial encloses stays open, once, and an island
    inside it stays covered."""
    import numpy as np
    import pandas as pd

    from gtfs_to_geojson_spark import geometry as geom
    from gtfs_to_geojson_spark.operators import geoagg

    centers, (x0, y0, x1, y1), open_pt, covered_pt = {"blob": _blob, "annulus": _annulus_with_island}[fixture]()
    polys_list = [
        [geom.buffer_point(lat, lon, 300.0, steps=12).tolist()] for lon, lat in centers
    ]
    polys = spark.createDataFrame(
        pd.DataFrame({"polygon": polys_list}),
        schema="polygon array<array<array<double>>>",
    )
    unsalted = [r["polygon"] for r in geoagg.dissolve_polygons(polys, cell_res=8, salt_target_rows=None).collect()]
    assert unsalted

    gx, gy = np.meshgrid(np.linspace(x0, x1, 60), np.linspace(y0, y1, 60))
    px, py = gx.ravel(), gy.ravel()

    def contains(parts, x=px, y=py):
        return geom.points_in_multipolygon(
            np.atleast_1d(x), np.atleast_1d(y), [[np.asarray(r) for r in poly] for poly in parts]
        )

    def ring_counts(parts):
        return sorted(len(poly) for poly in parts)

    if open_pt is not None:
        assert not contains(unsalted, *open_pt)[0]
        assert contains(unsalted, *covered_pt)[0]
    for salt in salts:
        salted = [r["polygon"] for r in geoagg.dissolve_polygons(polys, cell_res=8, salt_target_rows=salt).collect()]
        assert salted
        a, b = contains(unsalted), contains(salted)
        # identical coverage away from ring boundaries (vertex order may
        # differ between association orders; allow a tiny epsilon band)
        assert (a == b).mean() > 0.995
        if open_pt is not None:
            assert ring_counts(salted) == ring_counts(unsalted), salt
            assert not contains(salted, *open_pt)[0], salt
            assert contains(salted, *covered_pt)[0], salt


@pytest.mark.parametrize("cell_res", [None, 12])
def test_dissolve_keeps_no_hole_another_cell_fills(spark, cell_res):
    """Every vertex of a buffered line lies inside the dissolved union:
    in an outer ring and in none of that polygon's holes. On this feed
    at res 12 one cell's union of its two buffers encloses a hole that
    a neighbouring cell's buffer covers (vertex 25 of SH001_1)."""
    from gtfs_to_geojson_spark import synth
    from gtfs_to_geojson_spark.operators import formats, geoagg
    from gtfs_to_geojson_spark.operators.filters import BaseQuery, one_group, trip_facts
    from gtfs_to_geojson_spark.plans.run_spec import RunSpec
    from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas

    pdf = synth.make_gtfs_feed(seed=1008, n_routes=3, n_stops=40, trips_per_route=4, stops_per_trip=8, shape_pts=16)
    feed = feed_from_pandas(spark, pdf)
    buffers = formats._line_buffers(feed, RunSpec(), trip_facts(feed, BaseQuery(), one_group(spark))).select("polygon")
    parts = [[np.asarray(r) for r in row["polygon"]] for row in geoagg.dissolve_polygons(buffers, cell_res=cell_res).collect()]
    assert any(len(p) > 1 for p in parts)  # the union has holes to check against
    used = pdf["shapes"][pdf["shapes"]["shape_id"].isin(pdf["trips"]["shape_id"])]
    for x, y in used[["shape_pt_lon", "shape_pt_lat"]].to_numpy():
        px, py = np.asarray([x]), np.asarray([y])
        assert any(
            g.points_in_ring(px, py, p[0])[0] and not any(g.points_in_ring(px, py, h)[0] for h in p[1:])
            for p in parts
        ), (x, y)


# ---------------------------------------------------------------------------
# Boolean overlay: intersection / difference (extends G5's machinery)
# ---------------------------------------------------------------------------


def _sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64)


def _area(rings):
    return sum(g.signed_area(r) for r in rings)


def test_intersection_difference_basic():
    A, B = [_sq(0, 0, 4, 4)], [_sq(2, 2, 6, 6)]
    assert abs(_area(g.polygon_intersection(A, B)) - 4.0) < 1e-9
    assert abs(_area(g.polygon_difference(A, B)) - 12.0) < 1e-9


def test_intersection_disjoint_and_nested():
    A = [_sq(0, 0, 4, 4)]
    assert g.polygon_intersection(A, [_sq(10, 10, 11, 11)]) == []
    # nested subtrahend -> outer ring + CW hole
    hole = g.polygon_difference(A, [_sq(1, 1, 2, 2)])
    assert abs(_area(hole) - 15.0) < 1e-9
    assert len(hole) == 2 and min(g.signed_area(r) for r in hole) < 0
    # subtrahend covers minuend
    assert g.polygon_difference(A, [_sq(-1, -1, 5, 5)]) == []


def test_overlay_inclusion_exclusion_random():
    rng = np.random.default_rng(17)
    for _ in range(25):
        pa = g.convex_hull(rng.uniform(0, 10, (12, 2)))
        pb = g.convex_hull(rng.uniform(3, 13, (12, 2)))
        try:
            au = _area(g.polygon_union([pa, pb]))
            ai = _area(g.polygon_intersection([pa], [pb]))
            ad = _area(g.polygon_difference([pa], [pb]))
        except g.UnionError:
            continue
        assert abs((au + ai) - (g.signed_area(pa) + g.signed_area(pb))) < 1e-6
        assert abs(ad - (g.signed_area(pa) - ai)) < 1e-6


def test_clip_polygons_spark(spark):
    import pandas as pd

    from gtfs_to_geojson_spark.operators import geoagg

    polys = spark.createDataFrame(
        pd.DataFrame(
            {
                "pid": [0, 1],
                "polygon": [
                    [_sq(0, 0, 4, 4).tolist()],
                    [_sq(10, 10, 11, 11).tolist()],
                ],
            }
        ),
        schema="pid long, polygon array<array<array<double>>>",
    )
    clip = [_sq(2, 2, 6, 6).tolist()]
    out = geoagg.clip_polygons(polys, clip, op="intersection").toPandas()
    # disjoint row dropped; overlapping row clipped to the 2x2 square
    assert list(out["pid"]) == [0] and list(out["clip_status"]) == ["clipped"]
    ring = np.asarray([[float(c[0]), float(c[1])] for c in out["polygon"][0][0]])
    assert abs(g.signed_area(ring) - 4.0) < 1e-9
    out_d = geoagg.clip_polygons(polys, clip, op="difference").toPandas()
    assert sorted(out_d["pid"]) == [0, 1]
    a0 = _area(
        [
            np.asarray([[float(c[0]), float(c[1])] for c in r])
            for r in out_d.set_index("pid").loc[0, "polygon"]
        ]
    )
    assert abs(a0 - 12.0) < 1e-9


def test_overlay_robust_on_overlapping_sides():
    """Sides whose own rings overlap are unioned first; inclusion-
    exclusion |A| = |A∩B| + |A−B| holds exactly across random
    buffer-like clusters (no fallbacks, no area violations)."""
    rng = np.random.default_rng(0)
    for _ in range(60):
        k = rng.integers(2, 10)
        rings = []
        for _ in range(k):
            cx, cy = rng.uniform(0, 10, 2)
            r = rng.uniform(0.5, 2.0)
            ang = np.linspace(0, 2 * np.pi, 16, endpoint=False)
            rings.append(np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1))
        a, b = rings[: k // 2 or 1], rings[k // 2 or 1 :] or [rings[0]]
        ai = _area(g.polygon_intersection(a, b))
        ad = _area(g.polygon_difference(a, b))
        aa = (
            _area(g.polygon_union(a))
            if len(a) > 1
            else g.signed_area(g.close_ring(a[0]))
        )
        assert abs(aa - (ai + ad)) < 1e-6


def test_overlay_holed_inputs_preserved():
    """Hole-bearing sides (outers CCW, holes CW — the overlays' own
    output format) keep their holes: clipping a donut must not
    silently fill it (ADVICE r1, _normalize_side orientation bug)."""
    A = [_sq(0, 0, 4, 4)]
    donut = g.polygon_difference(A, [_sq(1, 1, 3, 3)])  # area 16-4=12, 2 rings
    assert abs(_area(donut) - 12.0) < 1e-9
    # B strictly inside the hole -> empty intersection (was: 1x1 square)
    inner = [_sq(1.5, 1.5, 2.5, 2.5)]
    assert g.polygon_intersection(donut, inner) == []
    # B covering everything -> intersection is the donut itself, hole intact
    cover = [_sq(-1, -1, 5, 5)]
    got = g.polygon_intersection(donut, cover)
    assert abs(_area(got) - 12.0) < 1e-9
    assert min(g.signed_area(r) for r in got) < 0  # CW hole survives
    # half-clip: clip window overlapping outer and hole
    half = g.polygon_intersection(donut, [_sq(0, 0, 2, 4)])
    assert abs(_area(half) - (8.0 - 2.0)) < 1e-9
    # difference with holed minuend: donut minus a bite off the rim
    bite = g.polygon_difference(donut, [_sq(-1, -1, 1, 1)])
    assert abs(_area(bite) - (12.0 - 1.0)) < 1e-9
    # holed SUBTRAHEND: A - donut = the hole region + nothing outside
    back = g.polygon_difference([_sq(0, 0, 4, 4)], donut)
    assert abs(_area(back) - 4.0) < 1e-9


def test_overlay_holed_input_roundtrip_chain():
    """Output of one overlay feeds the next (the composition the bug
    broke): ((A - H1) - H2) ∩ W with exact inclusion-exclusion."""
    A = [_sq(0, 0, 8, 8)]
    s1 = g.polygon_difference(A, [_sq(1, 1, 3, 3)])
    s2 = g.polygon_difference(s1, [_sq(5, 5, 7, 7)])
    assert abs(_area(s2) - (64.0 - 4.0 - 4.0)) < 1e-9
    w = g.polygon_intersection(s2, [_sq(0, 0, 4, 8)])
    # left half: 32 minus the full first hole (2x2), second hole untouched
    assert abs(_area(w) - (32.0 - 4.0)) < 1e-9


def test_overlay_holed_side_crossing_rings_raises():
    """A hole-bearing side whose rings properly cross is not a planar
    boundary set — explicit UnionError (fallback contract), never a
    silent wrong area."""
    import pytest

    bad = [g.close_ring(_sq(0, 0, 4, 4)), g.close_ring(_sq(2, 2, 6, 6))[::-1]]
    with pytest.raises(g.UnionError):
        g.polygon_intersection(bad, [_sq(0, 0, 10, 10)])
