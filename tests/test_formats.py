"""Golden end-to-end format tests — contracts pinned from the
reference's examples/*.geojson shapes (FIXTURES.md §3, SURVEY.md §5)."""

import json
import os

import numpy as np
import pytest

from gtfs_to_geojson_spark import geometry as g
from gtfs_to_geojson_spark.operators.filters import BaseQuery
from gtfs_to_geojson_spark.operators import formats as fmt
from gtfs_to_geojson_spark.plans.run_spec import RunSpec


CFG = RunSpec(coordinate_precision=5, buffer_size_meters=400)
Q = BaseQuery()


def _features(df):
    return [json.loads(r["feature_json"]) for r in df.collect()]


def test_stops_format(feed, feed_pd):
    feats = _features(fmt.fmt_stops(feed, CFG, Q))
    stops_pd = feed_pd["stops"]
    st_pd = feed_pd["stop_times"]
    used = set(st_pd["stop_id"])
    # orphans excluded
    emitted = {f["properties"]["stop_id"] for f in feats}
    orphans = set(stops_pd["stop_id"]) - used
    regular_orphans = {
        s for s in orphans
        if stops_pd.set_index("stop_id").loc[s, "location_type"] != 1
    }
    assert emitted.isdisjoint(regular_orphans)
    for f in feats:
        assert f["geometry"]["type"] == "Point"
        assert len(f["geometry"]["coordinates"]) == 2
        p = f["properties"]
        assert "stop_id" in p and "routes" in p
        # parent stations carry empty routes (examples/stops.geojson)
        if p.get("location_type") == 1:
            assert p["routes"] == []
        else:
            assert len(p["routes"]) >= 1
            for r in p["routes"]:
                assert "route_id" in r
                if r.get("route_color"):
                    assert r["route_color"].startswith("#")
        # null properties dropped (F5)
        assert all(v is not None for v in p.values())
        # precision 5 (G1)
        for c in f["geometry"]["coordinates"]:
            assert round(c, 5) == c


def test_lines_format_shapes_present(feed, feed_pd):
    feats = _features(fmt.fmt_lines(feed, CFG, Q))
    # routes with shapes (ri % 4 != 3) → 9 of 12
    assert len(feats) == 9
    for f in feats:
        assert f["geometry"]["type"] == "MultiLineString"
        coords = f["geometry"]["coordinates"]
        assert len(coords) >= 1
        p = f["properties"]
        assert "route_id" in p
    # point order matches shape_pt_sequence despite shuffled input rows
    sh = feed_pd["shapes"]
    one = sh[sh.shape_id == "SH000_0"].sort_values("shape_pt_sequence")
    want_first = [round(one.iloc[0]["shape_pt_lon"], 5), round(one.iloc[0]["shape_pt_lat"], 5)]
    f0 = next(f for f in feats if f["properties"]["route_id"] == "R000")
    lines = {tuple(ln[0]) for ln in f0["geometry"]["coordinates"]}
    assert tuple(want_first) in lines


def test_lines_format_stop_derived_fallback(spark, feed):
    """Remove all shapes → LineString per route from toposorted stops
    (reference geojson-utils.ts:209-253)."""
    feed2 = dict(feed)
    feed2["shapes"] = feed["shapes"].limit(0)
    feed2["trips"] = feed["trips"].withColumn(
        "shape_id", feed["trips"]["shape_id"].cast("string") * None
    ) if False else feed["trips"].selectExpr(
        "trip_id", "route_id", "service_id", "direction_id", "trip_headsign",
        "cast(null as string) as shape_id",
    )
    feats = _features(fmt.fmt_lines(feed2, CFG, Q))
    assert len(feats) > 0
    for f in feats:
        assert f["geometry"]["type"] == "LineString"
        assert len(f["geometry"]["coordinates"]) >= 2


def test_lines_and_stops_union(feed):
    n_lines = fmt.fmt_lines(feed, CFG, Q).count()
    n_stops = fmt.fmt_stops(feed, CFG, Q).count()
    n_both = fmt.fmt_lines_and_stops(feed, CFG, Q).count()
    assert n_both == n_lines + n_stops  # A12 (examples/lines-and-stops)


def test_envelope_format(feed, feed_pd):
    feats = _features(fmt.fmt_envelope(feed, CFG, Q))
    assert len(feats) == 1
    f = feats[0]
    assert f["geometry"]["type"] == "Polygon"
    assert list(f["properties"].keys()) == ["agency_name"]
    ring = f["geometry"]["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[-1]
    # envelope really bounds every shape point of shaped routes
    sh = feed_pd["shapes"]
    lons, lats = sh["shape_pt_lon"], sh["shape_pt_lat"]
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    assert min(xs) <= lons.min() + 1e-5 and max(xs) >= lons.max() - 1e-5
    assert min(ys) <= lats.min() + 1e-5 and max(ys) >= lats.max() - 1e-5


def test_convex_format(feed, feed_pd):
    feats = _features(fmt.fmt_convex(feed, CFG, Q))
    assert len(feats) == 1
    f = feats[0]
    assert f["geometry"]["type"] == "Polygon"
    assert list(f["properties"].keys()) == ["agency_name"]
    ring = np.asarray(f["geometry"]["coordinates"][0])
    # hull contains all used stops (within rounding tolerance)
    st = feed_pd["stop_times"]
    stops = feed_pd["stops"].set_index("stop_id")
    used = stops.loc[sorted(set(st["stop_id"]))]
    grown = ring.mean(axis=0) + (ring - ring.mean(axis=0)) * 1.001
    inside = g.points_in_ring(used["stop_lon"].to_numpy(), used["stop_lat"].to_numpy(), grown)
    assert inside.all()


def test_convex_degenerate(spark, feed):
    """<3 distinct points → empty result (reference warns + null)."""
    feed2 = dict(feed)
    feed2["stops"] = feed["stops"].limit(2)
    out = fmt.fmt_convex(feed2, CFG, Q)
    assert out.count() == 0


def test_stops_buffer_format(feed):
    feats = _features(fmt.fmt_stops_buffer(feed, CFG, Q))
    assert len(feats) > 0
    for f in feats[:10]:
        assert f["geometry"]["type"] == "Polygon"
        ring = np.asarray(f["geometry"]["coordinates"][0])
        cx, cy = ring[:-1, 0].mean(), ring[:-1, 1].mean()
        # contains its center; radius ≈ 400m
        assert g.points_in_ring([cx], [cy], ring)[0]
        d = g.haversine_m(cy, cx, ring[:, 1], ring[:, 0])
        assert np.all(d < 520) and np.all(d > 290)  # 5-decimal rounding wiggle
        assert "stop_id" in f["properties"]


def test_lines_buffer_contains_line(feed):
    feats = _features(fmt.fmt_lines_buffer(feed, CFG, Q))
    assert len(feats) > 0
    by_route = {f["properties"]["route_id"]: f for f in feats}
    sample = list(by_route.values())[0]
    assert sample["geometry"]["type"] == "Polygon"


def test_dissolved_formats(feed):
    sd = _features(fmt.fmt_stops_dissolved(feed, CFG, Q))
    assert len(sd) >= 1
    for f in sd:
        assert f["geometry"]["type"] == "Polygon"
        assert list(f["properties"].keys()) == ["agency_name"]
    ld = _features(fmt.fmt_lines_dissolved(feed, CFG, Q))
    assert len(ld) >= 1
    # dissolve merges: fewer features than inputs
    n_buffers = fmt.fmt_stops_buffer(feed, CFG, Q).count()
    assert len(sd) < n_buffers


def test_output_types_and_sink(spark, feed, tmp_path):
    from gtfs_to_geojson_spark.plans import pipeline

    # agency → 1 file
    s1 = pipeline.run(spark, feed, RunSpec(output_format="stops", output_type="agency",
                                           coordinate_precision=5, out_dir=str(tmp_path / "a")))
    assert s1["files"] == 1
    # shape → one per distinct shape_id
    s2 = pipeline.run(spark, feed, RunSpec(output_format="lines", output_type="shape",
                                           coordinate_precision=5, out_dir=str(tmp_path / "s")))
    n_shapes = feed["trips"].filter("shape_id is not null").select("shape_id").distinct().count()
    assert s2["files"] == n_shapes
    # every emitted file parses as a FeatureCollection
    for d in (tmp_path / "a", tmp_path / "s"):
        for fn in os.listdir(d):
            if fn.endswith(".geojson"):
                gj = json.load(open(d / fn))
                assert gj["type"] == "FeatureCollection"


def test_date_window_filters_services(spark, feed):
    """F1/F2: a window matching only some services shrinks output."""
    from gtfs_to_geojson_spark.operators.filters import service_window, BaseQuery

    svc = service_window(feed["calendar"], "20260301", "20260315")
    assert svc is not None
    ids = {r[0] for r in svc.collect()}
    assert "SVC4" not in ids  # 2025-only service excluded
    q2 = BaseQuery(service_ids=svc)
    n_all = fmt.fmt_stops(feed, CFG, Q).count()
    n_win = fmt.fmt_stops(feed, CFG, q2).count()
    assert 0 < n_win <= n_all


def _pipeline_jobs(spark, feed, out_dir):
    """Spark jobs one ``route``-output run submits, counted on this
    thread's job group."""
    from gtfs_to_geojson_spark.plans import pipeline

    sc = spark.sparkContext
    group = f"route-jobs-{os.path.basename(out_dir)}"
    sc.setJobGroup(group, "route output job count")
    try:
        stats = pipeline.run(spark, feed, RunSpec(output_format="lines", output_type="route",
                                                  coordinate_precision=5, out_dir=out_dir))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return stats, len(sc.statusTracker().getJobIdsForGroup(group))


def test_route_output_jobs_do_not_grow_with_groups(spark, tmp_path):
    """Route output is one plan per run: a feed with 3× the routes (and
    files) runs the same number of Spark jobs, up to AQE's timing (a
    stage that another stage's empty result would have pruned may
    already have started; one such job came and went between runs),
    and the run leaves no feed table persisted. The per-group fan-out
    this replaced ran more than ten jobs per extra file."""
    from gtfs_to_geojson_spark import synth
    from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas

    small = feed_from_pandas(spark, synth.make_gtfs_feed(n_routes=4))
    large = feed_from_pandas(spark, synth.make_gtfs_feed(n_routes=12))
    s_small, jobs_small = _pipeline_jobs(spark, small, str(tmp_path / "small"))
    s_large, jobs_large = _pipeline_jobs(spark, large, str(tmp_path / "large"))
    assert s_large["files"] > 2 * s_small["files"] > 2
    assert jobs_small > 0
    assert abs(jobs_large - jobs_small) <= 2, (jobs_small, jobs_large)
    for feed in (small, large):
        assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk
                       for df in feed.values() if df is not None)


@pytest.fixture(scope="module")
def group_feed(spark):
    """Small feed for per-group equivalence, trips on three routes:
    R003 has no shapes (the stop-derived fallback); R002 mixes a null
    and non-null direction_id, so its null-direction group shares trips
    with its direction-0 group; R004 has one trip over 2 stops (convex
    writes an empty file for it)."""
    import pandas as pd

    from gtfs_to_geojson_spark import synth
    from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas

    f = synth.make_gtfs_feed(n_routes=4, n_stops=30, trips_per_route=3, stops_per_trip=5, shape_pts=8)
    f["trips"] = f["trips"][f["trips"].route_id.isin(["R002", "R003"])]
    f["stop_times"] = f["stop_times"][f["stop_times"].trip_id.isin(f["trips"].trip_id)]
    r = f["routes"].iloc[[0]].assign(route_id="R004", route_short_name="9")
    f["routes"] = pd.concat([f["routes"], r], ignore_index=True)
    t = f["trips"].iloc[[0]].assign(trip_id="T004_0", route_id="R004", direction_id=0,
                                     trip_headsign="Shuttle", shape_id="SH004_0")
    f["trips"] = pd.concat([f["trips"], t], ignore_index=True)
    st = pd.DataFrame({"trip_id": ["T004_0"] * 2, "stop_id": ["S0001", "S0002"],
                       "stop_sequence": [1, 2]})
    f["stop_times"] = pd.concat([f["stop_times"], st], ignore_index=True)
    stops = f["stops"].set_index("stop_id")
    sh = pd.DataFrame({
        "shape_id": ["SH004_0"] * 2,
        "shape_pt_lat": stops.loc[["S0001", "S0002"], "stop_lat"].to_numpy(),
        "shape_pt_lon": stops.loc[["S0001", "S0002"], "stop_lon"].to_numpy(),
        "shape_pt_sequence": [0, 1],
        "shape_dist_traveled": [0.0, 1.0],
    })
    f["shapes"] = pd.concat([f["shapes"], sh], ignore_index=True)
    return feed_from_pandas(spark, f)


def _canon(features) -> list[str]:
    return sorted(json.dumps(f, sort_keys=True) for f in features)


@pytest.mark.parametrize("name", sorted(fmt.FORMATS))
def test_grouped_files_match_one_group_calls(spark, group_feed, tmp_path, name):
    """Every file of a route/shape run holds exactly the features of
    the one-group call ``fmt(feed, cfg, q.with_eq(...))`` for its group."""
    from gtfs_to_geojson_spark.plans import pipeline

    trips = group_feed["trips"].toPandas()
    for otype in ("route", "shape"):
        cfg = RunSpec(output_format=name, output_type=otype, coordinate_precision=5,
                      out_dir=str(tmp_path / otype))
        q = pipeline.build_base_query(group_feed, cfg)
        names, table = pipeline._groups(spark, group_feed, cfg, q, "x")
        stats = pipeline.run(spark, group_feed, cfg)
        assert [o["filename"] for o in stats["outputs"]] == names
        keys = [c for c in table.columns if c != "_group"]
        groups = {r["_group"]: {k: r[k] for k in keys} for r in table.collect()}
        if otype == "route":
            assert {"route_id": "R002", "direction_id": None} in groups.values()
            assert {"route_id": "R002", "direction_id": 0} in groups.values()
            assert {"route_id": "R003", "direction_id": 0} in groups.values()
            assert {"route_id": "R004", "direction_id": 0} in groups.values()
            assert not trips[trips.route_id == "R003"].shape_id.notna().any()
        empty = 0
        for g, eq in groups.items():
            with open(tmp_path / otype / names[g]) as fh:
                got = json.load(fh)["features"]
            want = _features(fmt.FORMATS[name](group_feed, cfg, q.with_eq(**eq)))
            assert _canon(got) == _canon(want), (otype, names[g])
            empty += not got
            if name == "lines-and-stops":
                kinds = [f["geometry"]["type"] == "Point" for f in got]
                assert kinds == sorted(kinds), names[g]  # lines before stops
        if name == "convex":
            assert empty >= 1  # R004 / SH004_0: 2 distinct stops


def test_route_output_type_concurrent_deterministic(spark, feed, tmp_path):
    """Route output writes one file per (route, direction); two runs
    must produce identical filename sets and identical bytes
    (deterministic naming + per-group content)."""
    from gtfs_to_geojson_spark.plans import pipeline

    spec = lambda d: RunSpec(output_format="lines", output_type="route",
                             coordinate_precision=5, out_dir=str(tmp_path / d))
    s1 = pipeline.run(spark, feed, spec("r1"))
    s2 = pipeline.run(spark, feed, spec("r2"))
    f1 = sorted(f for f in os.listdir(tmp_path / "r1") if f.endswith(".geojson"))
    f2 = sorted(f for f in os.listdir(tmp_path / "r2") if f.endswith(".geojson"))
    assert f1 == f2 and len(f1) > 1
    assert s1["files"] == len(f1)
    for fn in f1:
        assert (tmp_path / "r1" / fn).read_bytes() == (tmp_path / "r2" / fn).read_bytes()
    # stats order matches task order (deterministic log.json)
    assert [o["filename"] for o in s1["outputs"]] == [o["filename"] for o in s2["outputs"]]
