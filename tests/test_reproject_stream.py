"""S3 projection override + streaming tile assignment."""

import os

import numpy as np
import pandas as pd
import pytest


def test_tmerc_roundtrip():
    from gtfs_to_geojson_spark.sources.reproject import tmerc_forward, tmerc_inverse

    rng = np.random.default_rng(42)
    lon = rng.uniform(-125, -120, 500)
    lat = rng.uniform(35, 40, 500)
    x, y = tmerc_forward(lon, lat, lon0_deg=-123.0)
    lon2, lat2 = tmerc_inverse(x, y, lon0_deg=-123.0)
    assert np.allclose(lon, lon2, atol=1e-9)
    assert np.allclose(lat, lat2, atol=1e-9)


def test_reproject_feed_utm(spark, feed_pd):
    from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas
    from gtfs_to_geojson_spark.sources.reproject import reproject_feed, tmerc_forward

    # project the fixture's stops into UTM zone 10 and store those as coords
    frames = {k: v.copy() for k, v in feed_pd.items()}
    x, y = tmerc_forward(
        frames["stops"]["stop_lon"].to_numpy(),
        frames["stops"]["stop_lat"].to_numpy(),
        lon0_deg=-123.0, k0=0.9996, false_easting=500_000.0,
    )
    orig_lon = frames["stops"]["stop_lon"].to_numpy().copy()
    frames["stops"]["stop_lon"] = x
    frames["stops"]["stop_lat"] = y
    feed2 = feed_from_pandas(spark, frames)
    fixed = reproject_feed(feed2, "+proj=utm +zone=10")
    got = fixed["stops"].orderBy("stop_id").toPandas()
    want = feed_pd["stops"].sort_values("stop_id")
    assert np.allclose(got["stop_lon"].to_numpy(), want["stop_lon"].to_numpy(), atol=1e-8)
    assert np.allclose(got["stop_lat"].to_numpy(), want["stop_lat"].to_numpy(), atol=1e-8)
    assert not np.allclose(x[:5], orig_lon[:5])  # sanity: coords really were projected


def test_reproject_unknown_raises(spark, feed):
    from gtfs_to_geojson_spark.sources.reproject import reproject_feed

    with pytest.raises(NotImplementedError):
        reproject_feed(feed, "+proj=omerc +lat_0=4 +lonc=115")


# README example config string (reference README.md:175-187) — NTF
# Lambert II étendu: ellipsoidal 1SP LCC + Paris meridian + towgs84
_LAMBERT2E = (
    "+proj=lcc +lat_1=46.8 +lat_0=46.8 +lon_0=0 +k_0=0.99987742 "
    "+x_0=600000 +y_0=2200000 +a=6378249.2 +b=6356515 "
    "+towgs84=-168,-60,320,0,0,0,0 +pm=paris +units=m +no_defs"
)


def test_lcc_1sp_epsg_worked_example():
    """EPSG Guidance Note 7-2, method 9801 (Jamaica 1969 National
    Grid): published test point must reproduce to < 1 cm."""
    from gtfs_to_geojson_spark.sources.reproject import LccProjection, parse_proj

    p = LccProjection(
        parse_proj(
            "+proj=lcc +lat_1=18 +lat_0=18 +lon_0=-77 +k_0=1 "
            "+x_0=250000 +y_0=150000 +a=6378206.4 +b=6356583.8"
        )
    )
    phi = 17 + 55 / 60 + 55.80 / 3600
    lam = -(76 + 56 / 60 + 37.26 / 3600)
    x, y = p.forward(np.array([lam]), np.array([phi]))
    assert abs(x[0] - 255966.58) < 0.01
    assert abs(y[0] - 142493.51) < 0.01


def test_lcc_readme_string_roundtrip():
    """The reference README's own lcc example: forward∘inverse
    round-trips a France-extent grid at < 1e-6° / < 1 mm, and the
    standard-parallel local scale equals k_0 (conformality check)."""
    from gtfs_to_geojson_spark.sources.reproject import LccProjection, parse_proj

    p = LccProjection(parse_proj(_LAMBERT2E))
    rng = np.random.default_rng(7)
    xs = rng.uniform(50_000, 1_150_000, 500)
    ys = rng.uniform(1_700_000, 2_700_000, 500)
    lon, lat = p.inverse(xs, ys)
    assert (np.abs(lon) < 10).all() and ((lat > 40) & (lat < 52)).all()
    x2, y2 = p.forward(lon, lat)
    assert np.abs(x2 - xs).max() < 1e-3 and np.abs(y2 - ys).max() < 1e-3
    lon2, lat2 = p.inverse(x2, y2)
    assert np.abs(lon2 - lon).max() < 1e-6 and np.abs(lat2 - lat).max() < 1e-6
    # local meridional scale at the standard parallel == k_0
    d = 1e-6
    x1, y1 = p._fwd_native(np.array([2.0]), np.array([46.8]))
    xb, yb = p._fwd_native(np.array([2.0]), np.array([46.8 + d]))
    s = np.sin(np.radians(46.8))
    M = p.a * (1 - p.e2) / (1 - p.e2 * s * s) ** 1.5
    scale = np.hypot(xb - x1, yb - y1)[0] / (M * np.radians(d))
    assert abs(scale - 0.99987742) < 1e-6


def test_lcc_2sp_scale_unity_at_parallels():
    from gtfs_to_geojson_spark.sources.reproject import LccProjection, parse_proj

    p = LccProjection(
        parse_proj(
            "+proj=lcc +lat_1=33 +lat_2=45 +lat_0=39 +lon_0=-96 "
            "+x_0=0 +y_0=0 +a=6378137 +rf=298.257222101"
        )
    )
    d = 1e-6
    for lat_sp in (33.0, 45.0):
        x1, y1 = p._fwd_native(np.array([-96.0]), np.array([lat_sp]))
        xb, yb = p._fwd_native(np.array([-96.0]), np.array([lat_sp + d]))
        s = np.sin(np.radians(lat_sp))
        M = p.a * (1 - p.e2) / (1 - p.e2 * s * s) ** 1.5
        scale = np.hypot(xb - x1, yb - y1)[0] / (M * np.radians(d))
        assert abs(scale - 1.0) < 1e-6
    # round-trip through the datum-free path too
    rng = np.random.default_rng(3)
    lon = rng.uniform(-110, -80, 300)
    lat = rng.uniform(30, 48, 300)
    x, y = p.forward(lon, lat)
    lon2, lat2 = p.inverse(x, y)
    assert np.abs(lon2 - lon).max() < 1e-9 and np.abs(lat2 - lat).max() < 1e-9


def test_reproject_feed_lcc(spark, feed_pd):
    """Ingest-path acceptance: a feed whose coordinates are Lambert II
    étendu meters comes back as the original WGS84 degrees when the
    README proj string is supplied."""
    from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas
    from gtfs_to_geojson_spark.sources.reproject import (
        LccProjection,
        parse_proj,
        reproject_feed,
    )

    p = LccProjection(parse_proj(_LAMBERT2E))
    frames = {k: v.copy() for k, v in feed_pd.items()}
    # shift fixture coords into France so the projection is in-domain
    lon_w = frames["stops"]["stop_lon"].to_numpy() + 124.5  # ≈ 2°E
    lat_w = frames["stops"]["stop_lat"].to_numpy() + 9.2  # ≈ 47°N
    x, y = p.forward(lon_w, lat_w)
    frames["stops"]["stop_lon"] = x
    frames["stops"]["stop_lat"] = y
    sx, sy = p.forward(
        frames["shapes"]["shape_pt_lon"].to_numpy() + 124.5,
        frames["shapes"]["shape_pt_lat"].to_numpy() + 9.2,
    )
    frames["shapes"]["shape_pt_lon"] = sx
    frames["shapes"]["shape_pt_lat"] = sy
    fixed = reproject_feed(feed_from_pandas(spark, frames), _LAMBERT2E)
    got = fixed["stops"].orderBy("stop_id").toPandas()
    want = feed_pd["stops"].sort_values("stop_id")
    assert np.allclose(
        got["stop_lon"].to_numpy(), want["stop_lon"].to_numpy() + 124.5, atol=1e-6
    )
    assert np.allclose(
        got["stop_lat"].to_numpy(), want["stop_lat"].to_numpy() + 9.2, atol=1e-6
    )


def test_streaming_tile_assignment_resumes(spark, images_pd, tmp_path):
    """File-arrival streaming: drop 1 → process 1; drop 2 more →
    restart processes ONLY the new files (checkpointed source log —
    the streaming twin of the lineage manifest)."""
    from gtfs_to_geojson_spark.streaming.stream_assign import run_stream_to_parquet

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    os.makedirs(in_dir)
    third = len(images_pd) // 3
    images_pd.iloc[:third].to_parquet(in_dir / "drop1.parquet", index=False)

    q = run_stream_to_parquet(spark, str(in_dir), str(out_dir), str(ckpt), timeout_s=120)
    q.stop()
    n1 = spark.read.parquet(str(out_dir)).count()
    assert n1 == third

    images_pd.iloc[third : 2 * third].to_parquet(in_dir / "drop2.parquet", index=False)
    images_pd.iloc[2 * third :].to_parquet(in_dir / "drop3.parquet", index=False)
    q2 = run_stream_to_parquet(spark, str(in_dir), str(out_dir), str(ckpt), timeout_s=120)
    q2.stop()
    out = spark.read.parquet(str(out_dir))
    assert out.count() == len(images_pd)  # no duplicates from reprocessing
    assert out.select("image_id").distinct().count() == len(images_pd)
    # assignments match the batch path
    from gtfs_to_geojson_spark import cells, images as I

    got = out.select("image_id", "tile").toPandas().set_index("image_id").loc[images_pd["image_id"]]
    lon, lat = I.geotag_from_phash(images_pd["phash"].to_numpy())
    assert np.array_equal(got["tile"].to_numpy(), cells.encode(lat, lon, 14))


def test_streaming_decode_tile_assign_matches_batch(spark, images_pd, tmp_path):
    """Streaming J9c (decode→verify→assign behind readStream) emits
    exactly the batch operator's rows: same verification verdicts, same
    tiles, exactly once across a two-drop restart."""
    from gtfs_to_geojson_spark.operators.multimodal import decode_tile_assign
    from gtfs_to_geojson_spark.streaming.stream_assign import (
        run_decode_stream_to_parquet,
    )

    in_dir, out_dir, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    os.makedirs(in_dir)
    half = len(images_pd) // 2
    images_pd.iloc[:half].to_parquet(in_dir / "drop1.parquet", index=False)
    q = run_decode_stream_to_parquet(
        spark, str(in_dir), str(out_dir), str(ckpt), timeout_s=120
    )
    q.stop()
    images_pd.iloc[half:].to_parquet(in_dir / "drop2.parquet", index=False)
    q2 = run_decode_stream_to_parquet(
        spark, str(in_dir), str(out_dir), str(ckpt), timeout_s=120
    )
    q2.stop()

    got = (
        spark.read.parquet(str(out_dir))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = (
        decode_tile_assign(spark.createDataFrame(images_pd), res=14)
        .select("image_id", "tile", "phash_match")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(images_pd)  # exactly once across the restart
    assert got["image_id"].equals(want["image_id"])
    assert got["tile"].equals(want["tile"])
    assert got["phash_match"].equals(want["phash_match"])
    assert bool(want["phash_match"].all())  # fixture bytes are clean


def test_streaming_windowed_counts_watermark(spark, images_pd, tmp_path):
    """Watermarked windowed agg in append mode: only windows the
    watermark has passed are emitted, and their counts equal a batch
    recomputation over the same files."""
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.operators.spatial import assign_images_to_tiles
    from gtfs_to_geojson_spark.streaming.stream_assign import (
        run_windowed_counts_to_parquet,
    )

    in_dir = tmp_path / "win_in"
    out_dir = tmp_path / "win_out"
    ckpt = tmp_path / "win_ckpt"
    in_dir.mkdir()
    images_pd.to_parquet(str(in_dir / "drop1.parquet"), index=False)

    q = run_windowed_counts_to_parquet(
        spark, str(in_dir), str(out_dir), str(ckpt), res=13, timeout_s=120
    )
    q.stop()
    got = spark.read.parquet(str(out_dir)).toPandas()
    assert len(got) > 0
    # append emits only watermark-closed windows
    batch = assign_images_to_tiles(spark.createDataFrame(images_pd), res=13)
    ev = batch.withColumn(
        "event_time",
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("image_id"), F.lit(86400))
        ),
    )
    expected = (
        ev.groupBy(F.window("event_time", "10 minutes").alias("w"), "tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "tile",
            "n_images",
        )
        .toPandas()
    )
    key = ["win_start", "win_end", "tile"]
    merged = got.merge(expected, on=key, suffixes=("_s", "_b"), how="left")
    assert (merged["n_images_s"] == merged["n_images_b"]).all()
    # emitted set is a watermark-bounded prefix of the batch windows
    assert len(got) <= len(expected)


def test_salted_adaptive_splits_only_hot_cells(spark, images_df):
    """skew.salt / skew.fan_out on the tiled fixture: no row lost, a cold
    tile keeps one lane, a hot tile splits into at most ceil(n / target)
    lanes, and the fan-out gives exactly g rows per hot tile, 1 per cold."""
    import math

    from gtfs_to_geojson_spark import skew
    from gtfs_to_geojson_spark.operators import spatial

    tiled = spatial.assign_images_to_tiles(images_df, res=13)
    hist = tiled.groupBy("tile").count().toPandas().set_index("tile")["count"]
    n = images_df.count()
    target = 20
    lanes = {t: math.ceil(m / target) for t, m in hist.items() if m > target}
    assert lanes  # the hottest tile is hot at this target
    hot = skew.hot_keys(tiled, "tile", target)

    salted = skew.salt(tiled, hot, "tile", "image_id")
    assert dict(salted.dtypes)["_salt"] == "int"
    got = salted.select("image_id", "tile", "_salt").toPandas()
    assert len(got) == n and got["image_id"].nunique() == n  # no row lost
    for tile, sub in got.groupby("tile"):
        g = lanes.get(tile, 1)
        assert sub["_salt"].between(0, g - 1).all()
        if g == 1:
            assert (sub["_salt"] == 0).all()  # a cold key keeps one lane
    assert got[got["tile"] == hist.idxmax()]["_salt"].nunique() > 1  # the hottest tile split

    fanned = skew.fan_out(tiled.select("tile").distinct(), hot, "tile")
    assert dict(fanned.dtypes)["_salt"] == "int"
    fanned = fanned.toPandas()
    for tile, sub in fanned.groupby("tile"):
        assert sorted(sub["_salt"]) == list(range(lanes.get(tile, 1)))
    assert set(fanned["tile"]) == set(hist.index)


def test_stateful_stream_dedup_across_batches(spark, images_pd, tmp_path):
    """applyInPandasWithState dedup: a phash emitted in run 1 must not
    re-emit when run 2 (restarted from checkpoint) replays duplicates."""
    from gtfs_to_geojson_spark.streaming.stream_assign import (
        run_stream_dedup_to_parquet,
    )

    in_dir = tmp_path / "dd_in"
    out_dir = tmp_path / "dd_out"
    ckpt = tmp_path / "dd_ckpt"
    in_dir.mkdir()

    first = images_pd.iloc[:120]
    first.to_parquet(str(in_dir / "drop1.parquet"), index=False)
    q = run_stream_dedup_to_parquet(spark, str(in_dir), str(out_dir), str(ckpt), timeout_s=120)
    q.stop()
    got1 = spark.read.parquet(str(out_dir)).toPandas()
    assert len(got1) == first["phash"].nunique()

    # drop 2: 40 duplicates of batch-1 phashes + the remaining new images
    dup = first.iloc[:40].copy()
    dup["image_id"] = dup["image_id"] + "_dup"  # new ids, same phash
    rest = images_pd.iloc[120:]
    import pandas as pd

    pd.concat([dup, rest]).to_parquet(str(in_dir / "drop2.parquet"), index=False)
    q2 = run_stream_dedup_to_parquet(spark, str(in_dir), str(out_dir), str(ckpt), timeout_s=120)
    q2.stop()
    got2 = spark.read.parquet(str(out_dir)).toPandas()

    # every phash exactly once, duplicates never re-emitted
    assert got2["phash"].is_unique
    assert len(got2) == images_pd["phash"].nunique()
    assert not got2["image_id"].str.endswith("_dup").any()


def test_streaming_geojson_sink_resumes(spark, feed, feed_pd, tmp_path):
    """Stop drops → per-batch FeatureCollections; restart emits only
    new batches (checkpointed source log = exactly-once files)."""
    import glob
    import json

    from gtfs_to_geojson_spark.streaming import stream_geojson as SG

    in_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "gj")
    ckpt = str(tmp_path / "ckpt")
    stops_pd = feed_pd["stops"]
    half = len(stops_pd) // 2
    first = feed["stops"].sparkSession.createDataFrame(
        stops_pd.iloc[:half], schema=feed["stops"].schema
    )
    first.coalesce(1).write.mode("append").parquet(in_dir)
    SG.run_stream_stops_geojson(
        spark, in_dir, feed, out_dir, ckpt, timeout_s=120
    ).awaitTermination()
    files1 = sorted(glob.glob(out_dir + "/*.geojson"))
    assert len(files1) >= 1
    fc = json.load(open(files1[0]))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) > 0
    # every emitted feature is a used stop from the first drop
    ids1 = {
        f["properties"]["stop_id"] for fn in files1 for f in json.load(open(fn))["features"]
    }
    assert ids1 <= set(stops_pd.iloc[:half]["stop_id"])

    # second drop + restart: only NEW batch files appear
    second = feed["stops"].sparkSession.createDataFrame(
        stops_pd.iloc[half:], schema=feed["stops"].schema
    )
    second.coalesce(1).write.mode("append").parquet(in_dir)
    SG.run_stream_stops_geojson(
        spark, in_dir, feed, out_dir, ckpt, timeout_s=120
    ).awaitTermination()
    files2 = sorted(glob.glob(out_dir + "/*.geojson"))
    assert len(files2) > len(files1)
    new = [f for f in files2 if f not in files1]
    ids2 = {
        f["properties"]["stop_id"] for fn in new for f in json.load(open(fn))["features"]
    }
    assert ids2 and ids2.isdisjoint(ids1)


def test_stream_asof_matches_batch(spark, tmp_path):
    """Streaming as-of enrichment across two drops + a restart equals
    the batch asof_join when drops split at a time boundary."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.operators import relational
    from gtfs_to_geojson_spark.streaming import stream_temporal as ST

    rng = np.random.default_rng(31)
    n = 600
    ev = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "t_us": rng.choice(np.arange(1, 100000, 7), n, replace=False).astype("int64"),
            "user_id": rng.integers(0, 8, n),
            "event_type": rng.choice(["click", "purchase"], n),
        }
    )
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    cut = int(np.median(ev["t_us"]))
    sdf = lambda pdf: spark.createDataFrame(pdf, schema=ST.EVENT_SCHEMA)
    sdf(ev[ev.t_us <= cut]).coalesce(1).write.mode("append").parquet(in_dir)
    ST.run_stream_asof_to_parquet(spark, in_dir, out_dir, ckpt, timeout_s=120).awaitTermination()
    sdf(ev[ev.t_us > cut]).coalesce(1).write.mode("append").parquet(in_dir)
    ST.run_stream_asof_to_parquet(spark, in_dir, out_dir, ckpt, timeout_s=120).awaitTermination()

    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )
    clicks = sdf(ev).filter(F.col("event_type") == "click").select(
        "user_id", F.col("t_us").alias("t"), F.col("event_id").alias("click_id")
    )
    purch = sdf(ev).filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("t_us").alias("t"), F.col("event_id").alias("purchase_id")
    )
    want = (
        relational.asof_join(
            purch, clicks, key_col="user_id", ts_col="t", right_payload_cols=["click_id"]
        )
        .select("purchase_id", F.col("_asof.click_id").alias("click_id"))
        .toPandas()
        .sort_values("purchase_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    g = got.set_index("purchase_id")["click_id"]
    w = want.set_index("purchase_id")["click_id"]
    pd.testing.assert_series_equal(g, w, check_dtype=False)


def test_stream_asof_equal_ts_click_across_batches(spark, tmp_path):
    """ADVICE r1: equal-timestamp clicks split across micro-batches must
    enrich with the SAME click_id as the batch path (max event_id wins
    the tie) — a later batch's equal-t lower-id click must not
    overwrite state."""
    import pandas as pd

    from gtfs_to_geojson_spark.streaming import stream_temporal as ST

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    sdf = lambda rows: spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "t_us", "user_id", "event_type"]),
        schema=ST.EVENT_SCHEMA,
    )
    # batch 1: the HIGHER-id click at t=100
    sdf([(5, 100, 0, "click")]).coalesce(1).write.mode("append").parquet(in_dir)
    ST.run_stream_asof_to_parquet(spark, in_dir, out_dir, ckpt, timeout_s=120).awaitTermination()
    # batch 2: an equal-t lower-id click, then a purchase
    sdf([(3, 100, 0, "click"), (7, 200, 0, "purchase")]).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    ST.run_stream_asof_to_parquet(spark, in_dir, out_dir, ckpt, timeout_s=120).awaitTermination()
    got = spark.read.parquet(out_dir).toPandas()
    assert len(got) == 1
    assert int(got.iloc[0]["click_id"]) == 5  # max event_id at the tie, not 3


def test_lcc_property_roundtrip_random_params():
    """Property: for random valid LCC parameter sets (1SP and 2SP,
    random ellipsoids/origins/offsets), forward∘inverse is identity to
    <1e-9° across the projection's sweet band."""
    from hypothesis import given, settings, strategies as st

    from gtfs_to_geojson_spark.sources.reproject import LccProjection

    @settings(max_examples=40, deadline=None)
    @given(
        lat1=st.floats(10, 60),
        dlat2=st.floats(0, 15),
        lon0=st.floats(-170, 170),
        k0=st.floats(0.9996, 1.0),
        x0=st.floats(0, 1e6),
        y0=st.floats(0, 1e6),
        inv_f=st.sampled_from([298.257223563, 299.1528128, 0.0]),  # wgs84/bessel/sphere
    )
    def check(lat1, dlat2, lon0, k0, x0, y0, inv_f):
        p = {
            "lat_1": lat1, "lat_0": lat1, "lon_0": lon0,
            "k_0": k0, "x_0": x0, "y_0": y0, "a": 6378137.0,
        }
        if inv_f:
            p["rf"] = inv_f
        if dlat2 > 0.5:
            p["lat_2"] = lat1 + dlat2
            p["lat_0"] = lat1 + dlat2 / 2
        lcc = LccProjection(p)
        rng = np.random.default_rng(1)
        lon = lon0 + rng.uniform(-5, 5, 50)
        lat = lat1 + rng.uniform(-3, 3, 50)
        x, y = lcc.forward(lon, lat)
        lon2, lat2 = lcc.inverse(x, y)
        assert np.abs(lon2 - lon).max() < 1e-9
        assert np.abs(lat2 - lat).max() < 1e-9

    check()
