"""Spatial joins J6–J9 validated against brute-force oracles
(FIXTURES.md §4), plus the image pipeline end-to-end invariants."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gtfs_to_geojson_spark import cells, images as I
from gtfs_to_geojson_spark import geometry as g
from gtfs_to_geojson_spark.operators import multimodal, spatial


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(42)
    n = 400
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n),
            "lon": rng.uniform(-122.52, -122.35, n),
            "lat": rng.uniform(37.70, 37.84, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def boxes_df(spark):
    rng = np.random.default_rng(7)
    n = 25
    cx = rng.uniform(-122.50, -122.37, n)
    cy = rng.uniform(37.71, 37.83, n)
    hw = rng.uniform(0.002, 0.02, n)
    hh = rng.uniform(0.002, 0.02, n)
    pdf = pd.DataFrame(
        {
            "box_id": np.arange(n),
            "min_lon": cx - hw,
            "max_lon": cx + hw,
            "min_lat": cy - hh,
            "max_lat": cy + hh,
        }
    )
    return spark.createDataFrame(pdf), pdf


def test_point_in_envelope_exact(points_df, boxes_df):
    (pdf_s, pdf), (bdf_s, bdf) = points_df, boxes_df
    got = {
        (r["point_id"], r["box_id"])
        for r in spatial.point_in_envelope_join(pdf_s, bdf_s, res=12).collect()
    }
    want = set()
    for _, b in bdf.iterrows():
        m = (
            (pdf.lon >= b.min_lon) & (pdf.lon <= b.max_lon)
            & (pdf.lat >= b.min_lat) & (pdf.lat <= b.max_lat)
        )
        want |= {(int(p), int(b.box_id)) for p in pdf.point_id[m]}
    assert got == want


def test_point_in_envelope_edge_inclusive(spark):
    p = spark.createDataFrame(
        pd.DataFrame({"point_id": [0, 1, 2], "lon": [-122.40, -122.39, -122.30], "lat": [37.75, 37.76, 37.75]})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"box_id": [0], "min_lon": [-122.40], "max_lon": [-122.39], "min_lat": [37.75], "max_lat": [37.76]})
    )
    got = {(r["point_id"]) for r in spatial.point_in_envelope_join(p, b, res=12).collect()}
    assert got == {0, 1}  # on-edge inclusive, outside excluded


def test_point_in_polygon_exact(spark, points_df):
    (pdf_s, pdf) = points_df
    # concave polygon (L-shape) + triangle
    L = [[-122.48, 37.72], [-122.42, 37.72], [-122.42, 37.75], [-122.45, 37.75],
         [-122.45, 37.80], [-122.48, 37.80], [-122.48, 37.72]]
    T = [[-122.40, 37.76], [-122.36, 37.76], [-122.38, 37.82], [-122.40, 37.76]]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0, 1], "polygon": [[L], [T]]}),
        schema="poly_id long, polygon array<array<array<double>>>",
    )
    got = {
        (r["point_id"], r["poly_id"])
        for r in spatial.point_in_polygon_join(pdf_s, polys, res=12).collect()
    }
    want = set()
    for pid, rings in [(0, [np.asarray(L)]), (1, [np.asarray(T)])]:
        inside = g.points_in_polygon(pdf.lon.to_numpy(), pdf.lat.to_numpy(), rings)
        want |= {(int(p), pid) for p in pdf.point_id[inside]}
    assert got == want


def test_knn_matches_bruteforce(spark, points_df):
    (pdf_s, pdf) = points_df
    rng = np.random.default_rng(3)
    nt = 30
    tgt_pd = pd.DataFrame(
        {
            "target_id": np.arange(nt),
            "t_lon": rng.uniform(-122.52, -122.35, nt),
            "t_lat": rng.uniform(37.70, 37.84, nt),
        }
    )
    tgt = spark.createDataFrame(tgt_pd)
    # brute force with the same metric
    want = set()
    for _, p in pdf.iterrows():
        d = g.haversine_m(p.lat, p.lon, tgt_pd.t_lat.to_numpy(), tgt_pd.t_lon.to_numpy())
        j = int(np.lexsort((tgt_pd.target_id.to_numpy(), d))[0])
        want.add((int(p.point_id), int(tgt_pd.target_id[j])))
    # both physical strategies must produce the identical exact answer;
    # the 12-point side (under half the targets) runs the grid with the
    # points replicated
    for few in (False, True):
        pts = pdf_s.filter(F.col("point_id") < 12) if few else pdf_s
        for strategy in ("broadcast", "grid"):
            got = {
                (r["point_id"], r["target_id"])
                for r in spatial.knn_join(
                    pts, tgt, res=14, k=1, strategy=strategy
                ).collect()
            }
            assert got == {w for w in want if not few or w[0] < 12}, (strategy, few)


def test_knn_antimeridian_and_high_latitude(spark):
    """ADVICE r2 hazards: (a) neighbor-cell x ranges must WRAP at the
    antimeridian — a point at lon 179.9° whose true nearest target is
    at −179.9° must find it; (b) the resolution guarantee must hold at
    coarse res / high latitude where cos drifts over the searched rows.
    All strategies vs brute force, at the hazard-maximizing res."""
    rng = np.random.default_rng(11)
    n_p, n_t = 120, 60
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n_p),
            # half straddle the antimeridian, half sit at high latitude
            "lon": np.where(
                np.arange(n_p) % 2 == 0,
                np.where(rng.random(n_p) < 0.5, 1, -1) * rng.uniform(179.2, 180.0, n_p),
                rng.uniform(-30.0, 30.0, n_p),
            ),
            "lat": np.where(
                np.arange(n_p) % 2 == 0,
                rng.uniform(-60.0, 60.0, n_p),
                np.where(rng.random(n_p) < 0.5, 1, -1) * rng.uniform(75.0, 89.5, n_p),
            ),
        }
    )
    tgt_pd = pd.DataFrame(
        {
            "target_id": np.arange(n_t),
            "t_lon": np.where(
                np.arange(n_t) % 2 == 0,
                np.where(rng.random(n_t) < 0.5, 1, -1) * rng.uniform(179.0, 180.0, n_t),
                rng.uniform(-35.0, 35.0, n_t),
            ),
            "t_lat": np.where(
                np.arange(n_t) % 2 == 0,
                rng.uniform(-65.0, 65.0, n_t),
                np.where(rng.random(n_t) < 0.5, 1, -1) * rng.uniform(70.0, 89.9, n_t),
            ),
        }
    )
    pdf_s = spark.createDataFrame(pdf)
    tgt = spark.createDataFrame(tgt_pd)
    want = set()
    for _, p in pdf.iterrows():
        d = g.haversine_m(p.lat, p.lon, tgt_pd.t_lat.to_numpy(), tgt_pd.t_lon.to_numpy())
        order = np.lexsort((tgt_pd.target_id.to_numpy(), d))
        for j in order[:2]:
            want.add((int(p.point_id), int(tgt_pd.target_id[j])))
    few = pdf_s.filter(F.col("point_id") < 24)  # points-replicated grid
    for res in (4, 10, None):
        for strategy in ("broadcast", "grid"):
            got = {
                (r["point_id"], r["target_id"])
                for r in spatial.knn_join(
                    pdf_s, tgt, res=res, k=2, strategy=strategy
                ).collect()
            }
            assert got == want, (strategy, res)
        got = {
            (r["point_id"], r["target_id"])
            for r in spatial.knn_join(
                few, tgt, res=res, k=2, strategy="grid"
            ).collect()
        }
        assert got == {w for w in want if w[0] < 24}, ("grid_points", res)


def test_knn_k3_and_sparse_targets(spark, points_df):
    (pdf_s, pdf) = points_df
    # only 2 targets → every point must still resolve: at res 18 the
    # fine level resolves none, the res-14 level some, and the rest go
    # to the brute-force tail (forced grid, so auto can't hide it)
    tgt_pd = pd.DataFrame(
        {"target_id": [0, 1], "t_lon": [-122.50, -122.36], "t_lat": [37.71, 37.83]}
    )
    tgt = spark.createDataFrame(tgt_pd)
    out = spatial.knn_join(pdf_s, tgt, res=18, k=2, strategy="grid").toPandas()
    assert len(out) == 2 * len(pdf)
    assert set(out["point_id"]) == set(pdf["point_id"])
    bc = spatial.knn_join(pdf_s, tgt, res=18, k=2, strategy="broadcast").toPandas()
    key = ["point_id", "target_id"]
    pd.testing.assert_frame_equal(
        out[key].sort_values(key).reset_index(drop=True),
        bc[key].sort_values(key).reset_index(drop=True),
    )


def test_knn_strategies_agree_k3(spark, points_df):
    (pdf_s, pdf) = points_df
    rng = np.random.default_rng(7)
    nt = 25
    tgt_pd = pd.DataFrame(
        {
            "target_id": np.arange(nt),
            "t_lon": rng.uniform(-122.52, -122.35, nt),
            "t_lat": rng.uniform(37.70, 37.84, nt),
        }
    )
    tgt = spark.createDataFrame(tgt_pd)
    few = pdf_s.filter(F.col("point_id") < 10)  # points-replicated grid
    runs = {
        "broadcast": (pdf_s, "broadcast"),
        "grid": (pdf_s, "grid"),
        "few_broadcast": (few, "broadcast"),
        "few_grid": (few, "grid"),
    }
    frames = {
        name: spatial.knn_join(pts, tgt, res=14, k=3, strategy=s)
        .select("point_id", "target_id", "_dist_m")
        .toPandas()
        .sort_values(["point_id", "_dist_m", "target_id"])
        .reset_index(drop=True)
        for name, (pts, s) in runs.items()
    }
    assert len(frames["broadcast"]) == 3 * len(pdf)
    assert len(frames["few_broadcast"]) == 3 * 10
    for base, other in (("broadcast", "grid"), ("few_broadcast", "few_grid")):
        pd.testing.assert_frame_equal(
            frames[base][["point_id", "target_id"]],
            frames[other][["point_id", "target_id"]],
        )
        np.testing.assert_allclose(frames[base]["_dist_m"], frames[other]["_dist_m"], rtol=1e-9)


def test_image_tile_assignment_and_caption_equality(spark, images_df, images_pd):
    tiled = spatial.assign_images_to_tiles(images_df, res=14)
    got = tiled.select("image_id", "caption", "tile", "lon", "lat").toPandas()
    # oracle: recompute geotag + cell from stored phash
    lon, lat = I.geotag_from_phash(images_pd["phash"].to_numpy())
    want_tile = cells.encode(lat, lon, 14)
    merged = got.set_index("image_id").loc[images_pd["image_id"]]
    assert np.array_equal(merged["tile"].to_numpy(), want_tile)
    # caption carried through untouched (per-row invariant)
    assert list(merged["caption"]) == list(images_pd["caption"])


def test_image_to_polygon_assignment(spark, images_df, images_pd):
    dense = I.DENSE_BOX
    poly = [[
        [dense[0], dense[1]], [dense[2], dense[1]], [dense[2], dense[3]],
        [dense[0], dense[3]], [dense[0], dense[1]],
    ]]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0], "polygon": [poly]}),
        schema="poly_id long, polygon array<array<array<double>>>",
    )
    got = spatial.assign_images_to_polygons(images_df, polys, res=12)
    n = got.count()
    lon, lat = I.geotag_from_phash(images_pd["phash"].to_numpy())
    inside = (lon >= dense[0]) & (lon <= dense[2]) & (lat >= dense[1]) & (lat <= dense[3])
    assert n == int(inside.sum())
    assert n > 0  # the engineered hotspot guarantees hits


def test_decode_pixel_stats_invariants(images_df):
    stats = multimodal.decode_pixel_stats(images_df).toPandas()
    assert stats["decoded"].all()
    assert stats["phash_match"].all()
    assert "psnr_roundtrip" not in stats.columns


def test_resize_roundtrip(images_df):
    out = multimodal.resize_images(images_df.limit(6), 8, 8).toPandas()
    from gtfs_to_geojson_spark import images as img

    for _, r in out.iterrows():
        px = img.decode(bytes(r["bytes"]), r["fmt"])
        assert px.shape == (8, 8, 3)


def test_skew_histogram_and_salt(spark, images_df):
    """skew.hot_keys is the tile histogram cut to the hot tiles; the
    fixture's engineered skew makes the hottest tile hot."""
    import math

    from gtfs_to_geojson_spark import skew

    tiled = spatial.assign_images_to_tiles(images_df, res=13)
    hist = tiled.groupBy("tile").count().toPandas().set_index("tile")["count"]
    assert hist.sum() == images_df.count()
    # engineered skew: hottest cell ≫ median
    assert hist.max() >= 3 * max(1, int(hist.median()))
    target = int(hist.median()) + 1
    hot_df = skew.hot_keys(tiled, "tile", target)
    hot = hot_df.toPandas().set_index("tile")
    assert dict(zip(hot.index, hot["_n"])) == {t: m for t, m in hist.items() if m > target}
    assert (hot["_g"] == [math.ceil(m / target) for m in hot["_n"]]).all()
    assert (hot["_g"] >= 2).all() and hist.idxmax() in hot.index
    salted = skew.salt(tiled, hot_df, "tile", "image_id")
    ns = salted.select("_salt").distinct().count()
    assert 1 < ns <= hot["_g"].max()


def test_geotag_jvm_matches_numpy(spark, images_df, images_pd):
    """geotag_cols (codegen) must be bit-exact vs images.geotag_from_phash."""
    got = (
        spatial.image_geotags(images_df, use_udf=False)
        .select("image_id", "lon", "lat")
        .toPandas()
        .set_index("image_id")
        .loc[images_pd["image_id"]]
    )
    lon, lat = I.geotag_from_phash(images_pd["phash"].to_numpy())
    assert np.array_equal(got["lon"].to_numpy(), lon)
    assert np.array_equal(got["lat"].to_numpy(), lat)


def test_decode_tile_assign_matches_trusted_path(spark, images_df, images_pd):
    """Full-integrity decode→verify→assign must agree with the trusted
    JVM path tile-for-tile (lossless codecs ⇒ phash always verifies)."""
    heavy = multimodal.decode_tile_assign(images_df, res=14).toPandas().set_index("image_id")
    trusted = (
        spatial.assign_images_to_tiles(images_df, res=14)
        .select("image_id", "tile")
        .toPandas()
        .set_index("image_id")
    )
    assert heavy["phash_match"].all()
    joined = heavy.join(trusted, rsuffix="_t")
    assert (joined["tile"] == joined["tile_t"]).all()


def test_knn_ring_auto_res_agrees(spark, points_df):
    """res=None derives the grid from target density; the grid result
    is identical to the broadcast strategy's."""
    (pdf_s, pdf) = points_df
    rng = np.random.default_rng(41)
    nt = 500  # dense enough that a fixed coarse res would over-candidate
    tgt_pd = pd.DataFrame(
        {
            "target_id": np.arange(nt),
            "t_lon": rng.uniform(-122.52, -122.35, nt),
            "t_lat": rng.uniform(37.70, 37.84, nt),
        }
    )
    tgt = spark.createDataFrame(tgt_pd)
    grid = {
        (r["point_id"], r["target_id"])
        for r in spatial.knn_join(pdf_s, tgt, res=None, k=1, strategy="grid").collect()
    }
    bc = {
        (r["point_id"], r["target_id"])
        for r in spatial.knn_join(pdf_s, tgt, res=None, k=1, strategy="broadcast").collect()
    }
    assert grid == bc and len(grid) == len(pdf)


def test_knn_auto_strategy_density_aware():
    """The auto rule must reproduce the measured winner of every cell
    of the two-density sweep in BENCH/KNN_REGIMES.md: broadcast only
    when BOTH sides are small, target-replicating grid whenever points
    dominate, point-replicating grid when targets are dense relative to
    points. A pure function of the counts: no Spark."""
    pick = spatial._knn_auto_strategy
    # sweep row: 600k pts / 50k tgt → broadcast won (13.6s vs grid 18.5)
    # against the old checkpointed grid; stale since the lazy grid
    # (2026-10-19 KNN_REGIMES: 31.2s broadcast vs 9.4s grid), kept as
    # the rule's current answer until the cutoff is re-derived
    assert pick(600_000, 50_000) == "broadcast"
    # sweep row: 6M pts / 50k tgt → broadcast LOST 2× to grid
    assert pick(6_000_000, 50_000) == "grid"
    # scaling-run cell: 4.8M pts / 1k tgt → broadcast won 4-6× over
    # grid (6.0s vs 26.4s at local[4]) — the broadcast cap is a
    # points×targets PRODUCT, not an absolute point count
    assert pick(4_800_000, 1_000) == "broadcast"
    # sweep rows: 200k targets → grid at both densities
    assert pick(600_000, 200_000) == "grid"
    assert pick(6_000_000, 200_000) == "grid"
    # both grid sides forced, 2026-10-19 (targets ×9 / points ×9, s):
    # 600k pts / 4M tgt (ratio 6.7) 24.7 / 13.7 → target replication
    # lost 1.8×, so the grid replicates the points
    assert pick(600_000, 4_000_000) == "grid_points"
    # 6M pts / 4M tgt (ratio 0.67) 44.9 / 79.3 → replicate the targets
    assert pick(6_000_000, 4_000_000) == "grid"
    # saturated point probe (> KNN_POINT_PROBE_CAP): the true product
    # is unknown beyond a lower bound — must NOT broadcast even though
    # the capped product would pass
    assert pick(spatial.KNN_POINT_PROBE_CAP + 1, 500) == "grid"
    # 600k pts / 1M tgt (ratio 1.7) 10.2 / 11.7: the larger side is
    # still the cheaper one to replicate — not a smaller-side rule
    assert pick(600_000, 1_000_000) == "grid"
    # 60k / 1M 8.9 / 4.8 and 300k / 1M 8.3 / 7.8: no absolute target
    # floor below the ratio
    assert pick(60_000, 1_000_000) == "grid_points"
    assert pick(300_000, 1_000_000) == "grid_points"
    # grid_threshold raises the replication-side switch; a negative
    # broadcast threshold (forced grid) never broadcasts
    assert pick(100, 1_000) == "broadcast"
    assert pick(100, 1_000, -1) == "grid_points"
    assert pick(100, 1_000, -1, grid_threshold=1_000) == "grid"


def test_knn_grid_salted_hot_cell_and_escalation(spark):
    """Grid strategy internals, on both replication sides: (a) a hot
    point cell far above max_points_per_task splits into salted lanes
    with the pair results unchanged; (b) a point whose 3x3
    neighbourhood is empty resolves exactly through the in-plan
    brute-force tail."""
    rng = np.random.default_rng(3)
    n_p, n_t = 3000, 400
    # all points in one tight cluster (one grid cell at most res) plus
    # a far-away straggler with no nearby targets
    pdf = pd.DataFrame(
        {
            "point_id": np.arange(n_p + 1),
            "lon": np.append(rng.uniform(-122.41, -122.40, n_p), -100.0),
            "lat": np.append(rng.uniform(37.70, 37.71, n_p), 10.0),
        }
    )
    tgt_pd = pd.DataFrame(
        {
            "target_id": np.arange(n_t),
            "t_lon": rng.uniform(-122.45, -122.35, n_t),
            "t_lat": rng.uniform(37.65, 37.75, n_t),
        }
    )
    pts, tgt = spark.createDataFrame(pdf), spark.createDataFrame(tgt_pd)
    # brute-force oracle
    want = {}
    for _, p in pdf.iterrows():
        d = g.haversine_m(p.lat, p.lon, tgt_pd.t_lat.to_numpy(), tgt_pd.t_lon.to_numpy())
        order = np.lexsort((tgt_pd.target_id.to_numpy(), d))[:2]
        want[int(p.point_id)] = [int(tgt_pd.target_id[j]) for j in order]

    def check(out):
        full = out.select("point_id", "target_id", "_dist_m").toPandas()
        assert len(full) == 2 * (n_p + 1)
        for pid, grp in full.groupby("point_id"):
            got = list(grp.sort_values(["_dist_m", "target_id"])["target_id"].astype(int))
            assert got == want[int(pid)], pid

    # res 12 puts the whole cluster in a few cells; tiny salting lanes
    # split them (the point-replicated side has 9 rows per point)
    for replicate_points in (False, True):
        check(
            spatial._knn_grid(
                pts, tgt, 2, "point_id", "target_id", "lon", "lat", "t_lon", "t_lat",
                res=12, replicate_points=replicate_points, max_points_per_task=200,
            )
        )
    # full knn_join with forced grid strategy resolves EVERY point,
    # including the straggler
    check(spatial.knn_join(pts, tgt, None, k=2, strategy="grid"))


def test_knn_grid_plan_runs_no_job_until_consumed(spark, points_df):
    """With both row-count hints and ``res``, the grid path is one lazy
    plan on either replication side: building it submits no Spark job,
    and the first job runs at ``collect()``."""
    (pdf_s, pdf) = points_df
    rng = np.random.default_rng(5)
    tgt = spark.createDataFrame(
        pd.DataFrame(
            {
                "target_id": np.arange(40),
                "t_lon": rng.uniform(-122.52, -122.35, 40),
                "t_lat": rng.uniform(37.70, 37.84, 40),
            }
        )
    )
    sc = spark.sparkContext
    for n_targets in (40, 1_000):  # targets, then points replicated
        group = f"knn-lazy-{n_targets}"
        sc.setJobGroup(group, "kNN plan construction")
        try:
            out = spatial.knn_join(
                pdf_s, tgt, res=14, k=1, strategy="grid",
                n_points=len(pdf), n_targets=n_targets,
            )
            assert sc.statusTracker().getJobIdsForGroup(group) == [], n_targets
            assert len(out.collect()) == len(pdf)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group), n_targets


def test_topk_by_dots_matches_full_lexsort():
    """Property: the argpartition fast path equals the full (-dot, id)
    lexsort — including forced exact-tie blocks wider than the k+64
    partition margin (the fallback branch)."""
    rng = np.random.default_rng(9)
    for trial in range(20):
        n_t = int(rng.integers(5, 400))
        n_p = int(rng.integers(1, 30))
        kk = int(rng.integers(1, min(6, n_t) + 1))
        dots = rng.standard_normal((n_p, n_t))
        if trial % 3 == 0 and n_t > 100:
            # adversarial: one giant tie block at the top
            dots[:, : n_t // 2] = 7.0
        tid = rng.permutation(n_t).astype(np.int64)
        want = np.lexsort((np.broadcast_to(tid, dots.shape), -dots), axis=-1)[:, :kk]
        got = spatial._topk_by_dots(dots, tid, kk)
        np.testing.assert_array_equal(got, want)
