"""Dump formatted physical plans for the key operators to BENCH/plans/
plus a summary of plan-quality facts (broadcast joins, pushed filters,
WholeStageCodegen spans, zero Python in JVM-only paths), and the
grouped ``route`` output plans of the GTFS envelope and lines-and-stops
formats.

Pure .explain() — no jobs are executed. Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def gtfs_route_plans(spark) -> dict:
    """``route`` output of two GTFS formats on the synth feed: ONE
    grouped features plan covers every (route, direction) file. The
    group table is built from the pandas feed, as ``pipeline._groups``
    would build it, so that no Spark job runs."""
    import pandas as pd

    from gtfs_to_geojson_spark import synth
    from gtfs_to_geojson_spark.operators import formats
    from gtfs_to_geojson_spark.operators.filters import GROUP, BaseQuery
    from gtfs_to_geojson_spark.plans.run_spec import RunSpec
    from gtfs_to_geojson_spark.sources.gtfs import feed_from_pandas

    feed_pd = synth.make_gtfs_feed()
    keys = feed_pd["trips"][["route_id", "direction_id"]].drop_duplicates()
    rows = [
        (i, r, None if pd.isna(d) else int(d))
        for i, (r, d) in enumerate(sorted(keys.itertuples(index=False), key=str))
    ]
    table = spark.createDataFrame(rows, f"{GROUP} int, route_id string not null, direction_id int")
    groups = formats.Groups(table, feed_pd["agency"].sort_values("agency_id").iloc[0]["agency_name"])
    feed = feed_from_pandas(spark, feed_pd)
    cfg = RunSpec(coordinate_precision=5)
    return {
        f"gtfs_{name}_route": formats.FORMATS[name](feed, cfg, BaseQuery(), groups)
        for name in ("envelope", "lines-and-stops")
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.operators import dedup, spatial, text
    from gtfs_to_geojson_spark.plans import oracle_queries as OQ
    from gtfs_to_geojson_spark.session import get_spark

    spark = get_spark(
        app_name="dump-plans",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    pts = OQ.customer_points(spark, sf_dir)
    plans = {
        "j6_point_in_envelope": spatial.point_in_envelope_join(
            pts, OQ.supplier_boxes(spark, sf_dir), res=OQ.CELL_RES
        ),
        "j7_point_in_polygon": spatial.point_in_polygon_join(
            pts, OQ.supplier_octagons(spark, sf_dir), res=OQ.CELL_RES
        ),
        "j9_tile_assign": spatial.assign_images_to_tiles(
            spark.createDataFrame([], "image_id string, caption string, phash long"),
            res=OQ.TILE_RES,
        ),
        "j1_multiway_join": OQ.j1_multiway_join(spark, sf_dir),
        "a7_ordered_collect": OQ.a7_ordered_collect(spark, sf_dir),
        "minhash_signatures": dedup.minhash_signatures(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), n_hashes=4
        ),
        "text_lang_id": text.lang_id(spark.read.parquet(f"{sf_dir}/documents.parquet")),
        # r3: must show 0 Python evals — the per-token Python kernel was
        # replaced by explode-tokens → md5 → per-bit signed-sum (JVM)
        "simhash_signatures": dedup.simhash_signatures(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ),
        # r4: must show 1 BHJ (eval grams broadcast; train grams
        # generated and consumed in one map stage, no pre-join exchange)
        "decontam_ngrams": OQ.decontam_ngrams(spark, sf_dir),
        # r4: huge-eval-set variant — the bloom probe must be a plain
        # codegen FILTER over the gram stream (the one-row filter is
        # embedded as a shared array literal; every join-based attach
        # ran interpreted), 0 Python, with only the survivor verify
        # join above it
        "decontam_bloom": OQ.decontam_bloom(spark, sf_dir),
        # r4: must show 0 exchanges / 0 Python (one map stage)
        "text_repetition": text.repetition_stats(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ),
        # r4 session 5: aspect bucketing must be a pure map-only
        # codegen stamp — 0 exchanges, 0 Python (the array_min argmin
        # over int64 struct distances fuses with the scan)
        "image_aspect_bucket": OQ.image_aspect_bucket(spark, sf_dir),
        # r4 session 7: box⋈box overlay join — must show 0 Python, 0
        # HashAggregate (dedup is the canonical-cell codegen filter,
        # not a distinct), exactly the one cell equi-join exchange pair
        "j10_box_join": OQ.j10_box_join(spark, sf_dir),
        # r4 session 8: linear referencing — the whole snap (cover
        # explode, projection residual, struct-min argmin) must be 0
        # Python with a map-side partial aggregate before the shuffle
        "j14_snap_nearest_segment": OQ.j14_snap_nearest_segment(spark, sf_dir),
        "g14_locate_along": OQ.g14_locate_along(spark, sf_dir),
        "g15_position_along": OQ.g15_position_along(spark, sf_dir),
        # r4 session 8: rasterization — one partial-agg groupBy over a
        # pure-codegen (tile, px) stamp, 0 Python, 1 exchange
        "r1_rasterize_density": OQ.r1_rasterize_density(spark, sf_dir),
        # r4 session 8: pyramid rollup — the z-1 level adds one more
        # partial-agg exchange on the raster-bounded frame, 0 Python
        "r2_raster_pyramid": OQ.r2_raster_pyramid(spark, sf_dir),
        # r5: three iterated levels (derived-res contract) — one
        # partial-agg exchange per level, still 0 Python; deep
        # iteration breaks lineage instead (ROBUSTNESS lineage cliff)
        "r3_raster_pyramid_full": OQ.r3_raster_pyramid_full(spark, sf_dir),
    }

    from gtfs_to_geojson_spark.operators import relational

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        "user_id", "event_type",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "t", F.col("event_id").alias("click_id")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "t", F.col("event_id").alias("pid")
    )
    plans["asof_join"] = relational.asof_join(
        purch, clicks, key_col="user_id", ts_col="t", right_payload_cols=["click_id"]
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("sid"), "user_id", F.col("t").alias("t0"),
        (F.col("t") + F.lit(3600000000).cast("long")).alias("t1"),
    )
    plans["interval_join"] = relational.interval_point_join(
        signups, clicks.select(F.col("click_id"), "user_id", "t"),
        "t0", "t1", "t", bucket_width=3600000000, key_cols=["user_id"],
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "_g", F.pmod(F.col("l_orderkey"), F.lit(16))
    )
    plans["kmv_distinct"] = dedup.kmv_distinct(
        li, group_cols=["_g"], value_col="l_partkey", k=64
    )

    plans.update(gtfs_route_plans(spark))

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "plans")
    os.makedirs(out_dir, exist_ok=True)
    summary = ["# Plan-quality summary (generated by tools/dump_plans.py)", ""]
    for name, df in plans.items():
        text_plan = fmt(df)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text_plan)
        import re

        def n_ops(op: str) -> int:
            # formatted explain lists each op in the tree AND as a
            # "(N) Op" detail header — count detail headers only
            return len(re.findall(rf"^\(\d+\) {op}", text_plan, re.M))

        facts = {
            "BroadcastHashJoin": n_ops("BroadcastHashJoin"),
            "SortMergeJoin": n_ops("SortMergeJoin"),
            "codegen ops": text_plan.count("* "),  # '*' = inside WholeStageCodegen
            "PushedFilters": "PushedFilters: [" in text_plan
            and "PushedFilters: []" not in text_plan,
            "Python (Arrow) evals": n_ops("ArrowEvalPython"),
            "Exchanges": n_ops("Exchange") + n_ops("BroadcastExchange"),
        }
        summary.append(
            f"- **{name}**: "
            + ", ".join(f"{k}={v}" for k, v in facts.items())
        )
    with open(os.path.join(out_dir, "SUMMARY.md"), "w") as f:
        f.write("\n".join(summary) + "\n")
    print("\n".join(summary))


if __name__ == "__main__":
    main()
