"""kNN strategy-regime comparison, appended to BENCH/KNN_REGIMES.md.

Times the grid with each side replicated into the 3×3 neighbourhood
(``spatial._knn_grid`` with ``replicate_points`` False and True, at the
density-derived ``res`` that ``knn_join(res=None)`` would use), and
broadcast where it applies, on the same (points, targets) input at
several target-side sizes and point-side densities, so the
auto-selector's rules are evidence, not guesses:

    python tools/knn_regime_bench.py [--cpus 16] [--n-points 600000]

Each run appends a dated section with the plan ``_knn_auto_strategy``
picks for every cell, so earlier tables stay as history. Inputs are
well-chunked /tmp parquet caches (same single-file-source rationale as
bench.py); each (plan, size) is best-of-2 fresh runs.
"""

from __future__ import annotations

import argparse
import datetime
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cache_points(spark, n: int, tag: str, id_col: str, lon: str, lat: str) -> str:
    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.plans import oracle_queries as OQ

    path = f"/tmp/spark_graft_knnreg_{tag}_{n}.parquet"
    if os.path.exists(path):
        return path
    key = F.col("id") * 7 + 3 if tag == "tgt" else F.col("id") * 37 + 11
    spark.range(n).select(
        F.col("id").alias(id_col),
        OQ.lon_col(key).alias(lon),
        OQ.lat_col(key).alias(lat),
    ).repartition(64).write.mode("overwrite").parquet(path)
    return path


def grid_side(spatial, pts, tgt, k: int, replicate_points: bool):
    """``knn_join(res=None, strategy="grid")`` with the replicated side
    forced: the same probe query and density-derived ``res``."""
    pr = spatial._knn_probe(pts, tgt, "t_lon", "t_lat")
    res = spatial._knn_grid_res(pr["n_t"], pr["x0"], pr["x1"], pr["y0"], pr["y1"])
    return spatial._knn_grid(
        pts.select("point_id", "lon", "lat"), tgt, k, "point_id", "target_id",
        "lon", "lat", "t_lon", "t_lat", res=res, replicate_points=replicate_points,
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument(
        "--n-points", type=str, default="600000",
        help="comma-separated point-side densities to sweep",
    )
    ap.add_argument("--k", type=int, default=1)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    densities = [int(x) for x in args.n_points.split(",")]

    from gtfs_to_geojson_spark.operators import spatial
    from gtfs_to_geojson_spark.session import get_spark

    spark = get_spark(
        app_name="knn-regime-bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus * 2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    sizes = [50_000, 200_000, 1_000_000, 4_000_000]
    # pinned into every regeneration: 4.8M x 1k (product 4.8e9) is the
    # evidence that the broadcast cutoff is a points-x-targets PRODUCT —
    # a tiny target side broadcasts even against a multi-million-point
    # side — and the rest pin the replication-side rule: at a high point
    # density, and below 2M targets at ratios 17 and 3.3
    extra_cells = [
        (4_800_000, 1_000), (6_000_000, 4_000_000), (60_000, 1_000_000), (300_000, 1_000_000),
    ]
    plans = {
        "targets x9": lambda p, t: grid_side(spatial, p, t, args.k, False),
        "points x9": lambda p, t: grid_side(spatial, p, t, args.k, True),
        "broadcast": lambda p, t: spatial.knn_join(
            p, t, res=None, k=args.k, strategy="broadcast"
        ),
    }
    rows = []  # (n_pts, n_t, {plan: sec}, auto pick)
    cells = [(n_p, n_t) for n_p in densities for n_t in sizes] + extra_cells
    for n_p, n_t in cells:
        pts = spark.read.parquet(cache_points(spark, n_p, "pts", "point_id", "lon", "lat"))
        tgt = spark.read.parquet(cache_points(spark, n_t, "tgt", "target_id", "t_lon", "t_lat"))
        secs, counts = {}, {}
        for name, plan in plans.items():
            if name == "broadcast" and n_t > spatial.KNN_BROADCAST_MAX_TARGETS * 2:
                continue
            for _ in range(args.reps):
                t0 = time.time()
                counts[name] = plan(pts, tgt).count()
                dt = time.time() - t0
                secs[name] = min(secs.get(name, dt), dt)
            print(
                f"points={n_p} targets={n_t} {name}: {secs[name]:.2f}s "
                f"rows={counts[name]}", flush=True,
            )
        assert len(set(counts.values())) == 1, (
            f"row-count mismatch at points={n_p} targets={n_t}: {counts}"
        )
        rows.append((n_p, n_t, secs, spatial._knn_auto_strategy(n_p, n_t)))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/KNN_REGIMES.md", "a") as f:
        f.write(
            "\n## %s: local[%d], k=%d, best-of-%d, both grid sides\n\n"
            % (datetime.date.today().isoformat(), args.cpus, args.k, args.reps)
        )
        f.write(
            "Same input per row, seconds, identical output row counts "
            "(asserted). `targets x9` / `points x9`: the grid with that "
            "side copied into the 3x3 neighbourhood, at the density-derived "
            "res, probe included. `auto`: what spatial._knn_auto_strategy "
            "picks for the counts (`grid` replicates the targets, "
            "`grid_points` the points).\n\n"
        )
        f.write("| points | targets | " + " | ".join(plans) + " | auto |\n")
        f.write("|---" * (len(plans) + 3) + "|\n")
        for n_p, n_t, secs, auto in rows:
            cols = [f"{secs[name]:.2f}" if name in secs else "—" for name in plans]
            f.write(f"| {n_p:,} | {n_t:,} | " + " | ".join(cols) + f" | {auto} |\n")
    print("appended to BENCH/KNN_REGIMES.md")


if __name__ == "__main__":
    main()
