"""Relational operator unit tests on the synthetic feed (F/J/A/O)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gtfs_to_geojson_spark.operators import relational as R
from gtfs_to_geojson_spark.operators.filters import (
    BaseQuery,
    apply_query,
    filter_used_stops,
    group_table,
    one_group,
    service_window,
    trip_facts,
)


def _facts(feed):
    return trip_facts(feed, BaseQuery(), one_group(feed["trips"].sparkSession))


def test_service_window_overlap_semantics(feed):
    # F1: interval overlap, lexicographic YYYYMMDD
    svc = service_window(feed["calendar"], "20260310", "20260318")
    ids = {r[0] for r in svc.collect()}
    assert "SVC2" in ids   # 20260301–20260331 straddles
    assert "SVC5" in ids   # 20260315–20260320 inside
    assert "SVC4" not in ids  # 2025 only
    assert "SVC1" not in ids  # feb only
    # open-ended sides
    assert service_window(feed["calendar"], None, None) is None
    only_start = service_window(feed["calendar"], "20261215", None)
    assert {r[0] for r in only_start.collect()} == {"SVC0"}  # only SVC0 runs into Dec 2026


def test_apply_query_eq_and_semi(feed):
    q = BaseQuery().with_eq(route_id="R001", direction_id=1)
    t = apply_query(feed["trips"], q).toPandas()
    assert set(t["route_id"]) == {"R001"}
    assert set(t["direction_id"]) == {1}


def test_used_stops_excludes_orphans(feed, feed_pd):
    used = filter_used_stops(feed["stops"], _facts(feed))
    got = {r["stop_id"] for r in used.select("stop_id").collect()}
    really_used = set(feed_pd["stop_times"]["stop_id"])
    non_parent = {
        s for s in got
        if feed_pd["stops"].set_index("stop_id").loc[s, "location_type"] != 1
    }
    assert non_parent <= really_used


def test_stops_with_routes_nested(feed):
    sw = R.stops_with_routes(feed["stops"], feed["routes"], _facts(feed))
    row = sw.filter(F.size("routes") > 0).first()
    r0 = row["routes"][0]
    assert r0["route_id"] is not None
    # sorted and deduped
    ids = [r["route_id"] for r in row["routes"]]
    assert ids == sorted(ids)


def test_shape_linestrings_ordering(feed, feed_pd):
    ls = R.shape_linestrings(feed["shapes"]).filter(F.col("shape_id") == "SH001_0").first()
    got = ls["coordinates"]
    want = (
        feed_pd["shapes"][feed_pd["shapes"].shape_id == "SH001_0"]
        .sort_values("shape_pt_sequence")[["shape_pt_lon", "shape_pt_lat"]]
        .to_numpy()
        .tolist()
    )
    assert got == want  # window-ordered despite shuffled input


def test_headsign_dedup_first_wins(spark):
    pdf = pd.DataFrame(
        {
            "trip_id": ["T3", "T1", "T2"],
            "trip_headsign": ["Downtown", "Downtown", "Uptown"],
            "direction_id": [0, 0, 1],
        }
    )
    out = R.headsign_dedup(spark.createDataFrame(pdf)).toPandas()
    assert set(out["trip_id"]) == {"T1", "T2"}  # min trip_id wins


def test_toposort_linear_and_cycle():
    # linear chain across two trips sharing a prefix
    pdf = pd.DataFrame(
        {
            "trip_id": ["a", "a", "a", "b", "b", "b"],
            "stop_sequence": [1, 2, 3, 1, 2, 3],
            "stop_id": ["s1", "s2", "s3", "s2", "s3", "s4"],
        }
    )
    assert R._toposort_stop_order(pdf) == ["s1", "s2", "s3", "s4"]
    # cycle → falls back to longest trip (ties → smallest trip_id)
    pdf2 = pd.DataFrame(
        {
            "trip_id": ["a", "a", "b", "b", "c", "c", "c"],
            "stop_sequence": [1, 2, 1, 2, 1, 2, 3],
            "stop_id": ["s1", "s2", "s2", "s1", "s1", "s2", "s5"],
        }
    )
    assert R._toposort_stop_order(pdf2) == ["s1", "s2", "s5"]


def test_stop_derived_linestrings(spark, feed, feed_pd):
    # one group per route: only the groups without shapes get lines,
    # the no-shape routes (ri % 4 == 3): R003, R007, R011
    rows = list(enumerate(sorted(feed_pd["routes"]["route_id"])))
    groups = group_table(spark, rows, "_group int, route_id string not null")
    out = R.stop_derived_linestrings(
        feed["stops"], feed["routes"], None, trip_facts(feed, BaseQuery(), groups)
    ).toPandas()
    assert set(out["route_id"]) == {"R003", "R007", "R011"}
    for coords in out["coordinates"]:
        assert len(coords) >= 2
        assert all(c[0] is not None and c[1] is not None for c in coords)


def test_asof_join_matches_bruteforce(spark):
    """asof_join (union + running window) vs per-row brute force."""
    import pandas as pd

    from gtfs_to_geojson_spark.operators import relational

    left_pd = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2, 3], "t": [10, 25, 5, 7, 30, 4], "lid": [0, 1, 2, 3, 4, 5]}
    )
    right_pd = pd.DataFrame(
        {"k": [1, 1, 2, 2, 9], "t": [10, 20, 6, 29, 1], "rid": [100, 101, 102, 103, 104],
         "rv": [1.0, 2.0, 3.0, 4.0, 5.0]}
    )
    left = spark.createDataFrame(left_pd, schema="k long, t long, lid long")
    right = spark.createDataFrame(right_pd, schema="k long, t long, rid long, rv double")
    out = relational.asof_join(
        left, right, key_col="k", ts_col="t", right_payload_cols=["rid", "rv"]
    ).toPandas()
    got = {
        int(r["lid"]): (None if r["_asof"] is None else int(r["_asof"]["rid"]))
        for _, r in out.iterrows()
    }
    want = {}
    for _, lrow in left_pd.iterrows():
        cand = right_pd[(right_pd.k == lrow.k) & (right_pd.t <= lrow.t)]
        want[int(lrow.lid)] = None if cand.empty else int(cand.loc[cand.t.idxmax(), "rid"])
    assert got == want
    # inner drops unmatched
    inner = relational.asof_join(
        left, right, key_col="k", ts_col="t", right_payload_cols=["rid"], how="inner"
    )
    assert inner.count() == sum(v is not None for v in want.values())


def test_interval_point_join_matches_bruteforce(spark):
    import numpy as np
    import pandas as pd

    from gtfs_to_geojson_spark.operators import relational

    rng = np.random.default_rng(13)
    iv_pd = pd.DataFrame(
        {
            "iid": np.arange(20),
            "k": rng.integers(0, 4, 20),
            "t0": rng.integers(0, 1000, 20),
        }
    )
    iv_pd["t1"] = iv_pd["t0"] + rng.integers(0, 250, 20)  # spans several buckets
    pt_pd = pd.DataFrame(
        {
            "pid": np.arange(60),
            "k": rng.integers(0, 4, 60),
            "t": rng.integers(0, 1300, 60),
        }
    )
    iv = spark.createDataFrame(iv_pd, schema="iid long, k long, t0 long, t1 long")
    pt = spark.createDataFrame(pt_pd, schema="pid long, k long, t long")
    out = relational.interval_point_join(
        iv, pt, "t0", "t1", "t", bucket_width=64, key_cols=["k"]
    ).toPandas()
    got = {(int(r["iid"]), int(r["pid"])) for _, r in out.iterrows()}
    want = {
        (int(i.iid), int(p.pid))
        for _, i in iv_pd.iterrows()
        for _, p in pt_pd.iterrows()
        if i.k == p.k and i.t0 <= p.t <= i.t1
    }
    assert got == want and len(want) > 0


def test_asof_join_empty_right_and_no_match(spark):
    import pandas as pd

    from gtfs_to_geojson_spark.operators import relational

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "t": [10, 20], "lid": [0, 1]}),
        schema="k long, t long, lid long",
    )
    empty_right = spark.createDataFrame([], schema="k long, t long, rid long")
    out = relational.asof_join(left, empty_right, "k", "t", ["rid"]).toPandas()
    assert len(out) == 2 and out["_asof"].isna().all()
    assert (
        relational.asof_join(left, empty_right, "k", "t", ["rid"], how="inner").count()
        == 0
    )
    # right rows strictly after every left row -> no matches
    late = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "t": [100, 200], "rid": [9, 8]}),
        schema="k long, t long, rid long",
    )
    out2 = relational.asof_join(left, late, "k", "t", ["rid"]).toPandas()
    assert out2["_asof"].isna().all()


def test_interval_join_empty_and_degenerate(spark):
    import pandas as pd

    from gtfs_to_geojson_spark.operators import relational

    pt = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "k": [1], "t": [5]}), schema="pid long, k long, t long"
    )
    empty_iv = spark.createDataFrame([], schema="iid long, k long, t0 long, t1 long")
    assert (
        relational.interval_point_join(empty_iv, pt, "t0", "t1", "t", 8, ["k"]).count()
        == 0
    )
    # zero-length interval exactly at the point -> inclusive match
    iv = spark.createDataFrame(
        pd.DataFrame({"iid": [0], "k": [1], "t0": [5], "t1": [5]}),
        schema="iid long, k long, t0 long, t1 long",
    )
    assert (
        relational.interval_point_join(iv, pt, "t0", "t1", "t", 8, ["k"]).count() == 1
    )
