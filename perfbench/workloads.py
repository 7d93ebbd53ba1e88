"""The three benchmark workloads: seeded inputs, the operations of one
pass, and the check of every operation's result.

Each workload generates its inputs from the seed into a staging
directory, marks every table with ``_SUCCESS`` and publishes it; the
pass reads a table only after ``require`` has seen the marker and the
expected row count. Oracles are computed independently of Spark while
the inputs are generated (numpy/pandas, or closed forms).
"""

from __future__ import annotations

import json
import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# input tables: staging, _SUCCESS markers, row-count gate
# ---------------------------------------------------------------------------


def _mark(path: str, rows: int) -> None:
    with open(os.path.join(path, "_SUCCESS"), "w") as f:
        json.dump({"rows": int(rows)}, f)


def write_parquet(path: str, table: dict[str, np.ndarray | list], files: int = 8) -> int:
    """Columns → ``files`` parquet parts plus a ``_SUCCESS`` marker."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    t = pa.table(table)
    n = t.num_rows
    step = max(1, math.ceil(n / files))
    for i, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(t.slice(lo, step), os.path.join(path, f"part-{i:05d}.parquet"))
    _mark(path, n)
    return n


def require(path: str, rows: int) -> None:
    """Gate: a parquet table is usable only with its ``_SUCCESS`` marker
    and the expected row count (read from the file footers), so a
    directory half-written by a killed run is never read."""
    import pyarrow.parquet as pq

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise RuntimeError(f"input not complete (no _SUCCESS): {path}")
    got = sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
              for f in os.listdir(path) if f.endswith(".parquet"))
    if got != rows:
        raise RuntimeError(f"input {path}: {got} rows, expected {rows}")


def publish(staging: str, final: str) -> None:
    if os.path.exists(final):
        shutil.rmtree(final)
    os.replace(staging, final)


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One closed-loop operation: ``run(tracer)`` makes the library call
    and consumes its result; ``check(result)`` returns None when the
    result is correct, else the reason."""

    name: str
    run: Callable[[Any], Any]
    check: Callable[[Any], str | None]


@dataclass
class Workload:
    name: str
    sizes: dict
    tables: dict = field(default_factory=dict)  # table → expected rows
    oracle: dict = field(default_factory=dict)

    @property
    def input_rows(self) -> int:
        return int(sum(self.tables.values()))

    def generate(self, spark, seed: int, root: str) -> None:
        raise NotImplementedError

    def verify(self, root: str) -> None:
        for t, n in self.tables.items():
            require(os.path.join(root, t), n)

    def ops(self, spark, root: str, out_root: str) -> list[Op]:
        raise NotImplementedError


def _scaled(base: dict, scale: float, floors: dict) -> dict:
    return {k: max(floors.get(k, 1), int(round(v * scale))) for k, v in base.items()}


# ---------------------------------------------------------------------------
# assign_headline: envelope join + decode/verify/assign
# ---------------------------------------------------------------------------

_BBOX = (-122.52, 37.70, -122.35, 37.84)  # the library's default synthetic metro bbox


def phash64_batch(px: np.ndarray) -> np.ndarray:
    """``images.phash64`` for a stack of 16×16 RGB images, bit-identical:
    the same float64 gray, the same 2×2 block sums in the same order,
    the same 64-element mean."""
    p = px.astype(np.float64)
    g = 0.299 * p[..., 0] + 0.587 * p[..., 1] + 0.114 * p[..., 2]
    s = ((g[:, 0::2, 0::2] + g[:, 0::2, 1::2]) + g[:, 1::2, 0::2]) + g[:, 1::2, 1::2]
    c = (s / 4.0).reshape(len(px), 64)
    bits = (c > c.mean(axis=1, keepdims=True)).astype(np.uint64)
    val = (bits << np.arange(64, dtype=np.uint64)).sum(axis=1, dtype=np.uint64)
    return val.view(np.int64)


class AssignHeadline(Workload):
    BASE = {"points": 250_000, "images": 2_000, "box_cols": 40, "box_rows": 25}
    FLOORS = {"points": 1000, "images": 30, "box_cols": 2, "box_rows": 2}
    RES = 16

    def __init__(self, scale: float):
        s = _scaled(self.BASE, scale, self.FLOORS)
        s["box_cols"], s["box_rows"] = self.BASE["box_cols"], self.BASE["box_rows"]
        super().__init__("assign_headline", s)

    def generate(self, spark, seed, root):
        from gtfs_to_geojson_spark import cells, images
        from gtfs_to_geojson_spark.plans import oracle_queries as OQ

        rng = np.random.default_rng([seed, 1])
        n, nx, ny = self.sizes["points"], self.sizes["box_cols"], self.sizes["box_rows"]
        x0, y0, x1, y1 = _BBOX
        lon = x0 + rng.random(n) * (x1 - x0)
        lat = y0 + rng.random(n) * (y1 - y0)
        # supplier boxes: one per grid cell, inset so that no box reaches
        # a cell border; the oracle then tests one box per point
        px, py = (x1 - x0) / nx, (y1 - y0) / ny
        nb = nx * ny
        w = px * rng.uniform(0.2, 0.6, nb)
        h = py * rng.uniform(0.2, 0.6, nb)
        gx, gy = np.arange(nb) % nx, np.arange(nb) // nx
        bx0 = x0 + gx * px + (0.05 + 0.9 * rng.random(nb)) * (px - w)
        by0 = y0 + gy * py + (0.05 + 0.9 * rng.random(nb)) * (py - h)
        cx = np.clip(np.floor((lon - x0) / px).astype(np.int64), 0, nx - 1)
        cy = np.clip(np.floor((lat - y0) / py).astype(np.int64), 0, ny - 1)
        b = cy * nx + cx
        inside = (lon >= bx0[b]) & (lon <= bx0[b] + w[b]) & (lat >= by0[b]) & (lat <= by0[b] + h[b])
        counts = np.bincount(b[inside], minlength=nb)
        self.oracle["boxes"] = {int(k): int(counts[k]) for k in np.nonzero(counts)[0]}

        m = self.sizes["images"]
        pix = rng.integers(0, 256, (m, 16, 16, 3), dtype=np.uint8)
        ph = phash64_batch(pix)
        probe = min(m, 64)
        if any(images.phash64(pix[i]) != int(ph[i]) for i in range(probe)):
            raise RuntimeError("batched phash disagrees with images.phash64")
        fmts = [images.FORMATS[i % len(images.FORMATS)] for i in range(m)]
        blobs = [images.encode(pix[i], fmts[i]) for i in range(m)]
        glon, glat = images.geotag_from_phash(ph)
        tiles = cells.encode(glat, glon, OQ.TILE_RES)
        tu, tc = np.unique(tiles, return_counts=True)
        self.oracle["tiles"] = {int(t): int(c) for t, c in zip(tu, tc)}

        self.tables = {
            "points": write_parquet(os.path.join(root, "points"), {
                "point_id": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat}),
            "boxes": write_parquet(os.path.join(root, "boxes"), {
                "s_suppkey": np.arange(nb, dtype=np.int64), "min_lon": bx0,
                "max_lon": bx0 + w, "min_lat": by0, "max_lat": by0 + h}, files=1),
            "images": write_parquet(os.path.join(root, "images"), {
                "image_id": [f"img_{i:012d}" for i in range(m)], "bytes": blobs,
                "w": np.full(m, 16, np.int32), "h": np.full(m, 16, np.int32), "fmt": fmts,
                "caption": [f"synthetic scene {i}" for i in range(m)], "phash": ph}),
        }

    def ops(self, spark, root, out_root):
        from pyspark.sql import functions as F

        from gtfs_to_geojson_spark.operators import multimodal, spatial
        from gtfs_to_geojson_spark.plans import oracle_queries as OQ

        def envelope(tr):
            with tr.span("spatial.envelope.call"):
                j = spatial.point_in_envelope_join(
                    spark.read.parquet(os.path.join(root, "points")),
                    spark.read.parquet(os.path.join(root, "boxes")), res=self.RES)
            with tr.span("spatial.envelope.action") as rec:
                rows = j.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n")).collect()
                rec["matches"] = sum(r["n"] for r in rows)
            return {r["s_suppkey"]: r["n"] for r in rows}

        def decode(tr):
            with tr.span("multimodal.decode_assign.call"):
                d = multimodal.decode_tile_assign(
                    spark.read.parquet(os.path.join(root, "images")), res=OQ.TILE_RES)
            with tr.span("multimodal.decode_assign.action") as rec:
                rows = d.groupBy("tile").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("phash_match").cast("long")).alias("ok"),
                ).collect()
                total = sum(r["n"] for r in rows)
                rec["verified_frac"] = sum(r["ok"] for r in rows) / max(1, total)
            return rows

        def check_envelope(got):
            return None if got == self.oracle["boxes"] else "per-box match counts differ from oracle"

        def check_decode(rows):
            if any(r["ok"] != r["n"] for r in rows):
                return "images failed verification"
            got = {r["tile"]: r["n"] for r in rows}
            return None if got == self.oracle["tiles"] else "per-tile counts differ from oracle"

        return [Op("envelope_join", envelope, check_envelope),
                Op("decode_assign", decode, check_decode)]


# ---------------------------------------------------------------------------
# knn_shuffle: kNN grid and ring regimes + the snap lattice
# ---------------------------------------------------------------------------


class KnnShuffle(Workload):
    BASE = {"points": 1_500, "grid_side": 50, "ring_side": 100, "lattice_side": 40}
    FLOORS = {"points": 200, "grid_side": 20, "ring_side": 30, "lattice_side": 10}
    POINT_BITS = 21  # point_id = own_target << POINT_BITS | i
    LAT_STEP = 0.0005  # target lattice pitch, degrees of latitude (≈55 m)
    SNAP_STEP, SNAP_SEG, SNAP_RES = 0.001, 0.0006, 18

    def __init__(self, scale: float):
        s = {"points": max(200, int(self.BASE["points"] * scale))}
        for k in ("grid_side", "ring_side", "lattice_side"):
            s[k] = max(self.FLOORS[k], int(round(self.BASE[k] * math.sqrt(scale))))
        super().__init__("knn_shuffle", s)
        # auto sends ≤100k targets to broadcast, then grid up to
        # max(grid_threshold, 2·points), then ring. These inputs are
        # scaled down from the 600k-point × 1M/4M-target regime, so both
        # thresholds are scaled with them: the grid-side lattice routes
        # to grid and the 4× larger ring-side lattice to ring, as at
        # full size.
        self.grid_threshold = (s["grid_side"] ** 2 + s["ring_side"] ** 2) // 2
        self.broadcast_threshold = s["grid_side"] ** 2 // 2

    def _lattice(self, rng, side: int, lon0: float, lat0: float) -> tuple[dict, dict]:
        """Targets on a side×side lattice; each point within 0.3 pitch
        (per axis) of its own target, ≥0.7 pitch from any other, so its
        nearest neighbour is known in closed form."""
        dlon = self.LAT_STEP / math.cos(math.radians(lat0))
        tid = np.arange(side * side, dtype=np.int64)
        targets = {"target_id": tid, "t_lon": lon0 + (tid % side) * dlon,
                   "t_lat": lat0 + (tid // side) * self.LAT_STEP}
        n = self.sizes["points"]
        own = rng.integers(0, side * side, n)
        jx, jy = rng.uniform(-0.3, 0.3, n), rng.uniform(-0.3, 0.3, n)
        points = {"point_id": (own << self.POINT_BITS) | np.arange(n, dtype=np.int64),
                  "lon": lon0 + ((own % side) + jx) * dlon,
                  "lat": lat0 + ((own // side) + jy) * self.LAT_STEP}
        return targets, points

    def generate(self, spark, seed, root):
        rng = np.random.default_rng([seed, 2])
        # a fixed origin keeps the lattices' cell alignment, and so the
        # kNN work, the same for every seed; the seed moves the points
        lon0, lat0 = -122.9, 37.2
        tabs = {}
        for tag in ("grid", "ring"):
            targets, points = self._lattice(rng, self.sizes[f"{tag}_side"], lon0, lat0)
            tabs[f"{tag}_targets"] = write_parquet(os.path.join(root, f"{tag}_targets"), targets)
            tabs[f"{tag}_points"] = write_parquet(os.path.join(root, f"{tag}_points"), points)
        # snap lattice: a×a horizontal segments, 4 points per segment at
        # 0.1–0.9 of its length and 0.05–0.25 pitch above it; every point
        # snaps to its own segment (nearest other ≥0.46 pitch away)
        a, step, seg = self.sizes["lattice_side"], self.SNAP_STEP, self.SNAP_SEG
        sx0, sy0 = -60.0, 10.0
        sid = np.arange(a * a, dtype=np.int64)
        ax, ay = sx0 + (sid % a) * step, sy0 + (sid // a) * step
        tabs["snap_segments"] = write_parquet(os.path.join(root, "snap_segments"), {
            "line_id": sid, "seg_idx": np.zeros(a * a, np.int64), "ax": ax, "ay": ay,
            "bx": ax + seg, "by": ay, "cum0": np.zeros(a * a)})
        pid = np.arange(a * a * 4, dtype=np.int64)
        own = pid // 4
        tabs["snap_points"] = write_parquet(os.path.join(root, "snap_points"), {
            "point_id": pid,
            "lon": ax[own] + seg * rng.uniform(0.1, 0.9, len(pid)),
            "lat": ay[own] + step * rng.uniform(0.05, 0.25, len(pid))})
        self.tables = tabs

    def ops(self, spark, root, out_root):
        from pyspark.sql import functions as F

        from gtfs_to_geojson_spark.operators import linear_ref, spatial

        n = self.sizes["points"]

        def knn(tag):
            def run(tr):
                with tr.span("spatial.knn.call", regime=tag):
                    j = spatial.knn_join(
                        spark.read.parquet(os.path.join(root, f"{tag}_points")),
                        spark.read.parquet(os.path.join(root, f"{tag}_targets")),
                        res=None, k=1, strategy="auto",
                        broadcast_threshold=self.broadcast_threshold,
                        grid_threshold=self.grid_threshold)
                with tr.span("spatial.knn.action", regime=tag):
                    own = F.shiftright(F.col("point_id"), self.POINT_BITS)
                    return j.agg(
                        F.count(F.lit(1)).alias("rows"),
                        F.count_distinct("point_id").alias("points"),
                        F.sum((F.col("target_id") == own).cast("long")).alias("own"),
                    ).collect()[0].asDict()
            return run

        def snap(tr):
            with tr.span("linear_ref.snap.call"):
                s = linear_ref.snap_points_to_segments(
                    spark.read.parquet(os.path.join(root, "snap_points")),
                    spark.read.parquet(os.path.join(root, "snap_segments")),
                    max_dist=self.SNAP_STEP / 3.0, res=self.SNAP_RES)
            with tr.span("linear_ref.snap.action") as rec:
                own = (F.col("point_id") / 4).cast("long")
                out = s.agg(F.count(F.lit(1)).alias("rows"),
                            F.sum((F.col("line_id") == own).cast("long")).alias("own")).collect()[0].asDict()
                rec["points"] = self.tables["snap_points"]
            return out

        def check_knn(got):
            want = {"rows": n, "points": n, "own": n}
            return None if got == want else f"kNN closed form: got {got}, want {want}"

        def check_snap(got):
            m = self.tables["snap_points"]
            return None if got == {"rows": m, "own": m} else f"snap closed form: got {got}, want {m}"

        return [Op("knn_grid", knn("grid"), check_knn),
                Op("knn_ring", knn("ring"), check_knn),
                Op("snap_lattice", snap, check_snap)]


# ---------------------------------------------------------------------------
# feed_formats: GTFS .txt feeds → plans.pipeline.run
# ---------------------------------------------------------------------------


def _haversine_m(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2)
    return 2 * 6_371_008.8 * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


def _in_ring(x: float, y: float, ring) -> bool:
    """Even-odd ray cast."""
    r = np.asarray(ring, dtype=np.float64)
    xa, ya, xb, yb = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    cross = (ya > y) != (yb > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = xa + (y - ya) * (xb - xa) / (yb - ya)
    return bool(np.count_nonzero(cross & (x < xi)) % 2)


def _safe_name(s: str) -> str:
    import re

    return re.sub(r'[\\/:*?"<>|\x00-\x1f]', "", s)


def _load(path: str) -> list[dict]:
    with open(path) as f:
        doc = json.load(f)
    if doc.get("type") != "FeatureCollection":
        raise ValueError(f"{path}: not a FeatureCollection")
    return doc["features"]


def write_feed(path: str, sizes: dict, seed: int) -> dict:
    """``synth.make_gtfs_feed`` written as GTFS ``.txt`` plus a
    ``_SUCCESS`` marker holding each table's row count; returns the
    pandas facts the checks need."""
    from gtfs_to_geojson_spark import synth
    from gtfs_to_geojson_spark.sources.gtfs import GTFS_SCHEMAS

    feed = synth.make_gtfs_feed(seed=seed, **sizes)
    os.makedirs(path, exist_ok=True)
    for name, df in feed.items():
        # nullable ints (direction_id) must not be written as "0.0"
        ints = [f.name for f in GTFS_SCHEMAS[name].fields
                if f.dataType.simpleString() == "int" and f.name in df.columns]
        df.astype({c: "Int64" for c in ints}).to_csv(os.path.join(path, f"{name}.txt"), index=False)
    rows = {name: len(df) for name, df in feed.items()}
    with open(os.path.join(path, "_SUCCESS"), "w") as f:
        json.dump(rows, f)
    return {**_facts(feed), "rows": rows}


def verify_feed(path: str, rows: dict) -> None:
    """``_SUCCESS`` plus each table's expected row count (records as
    pandas parses them back, so quoted newlines cannot fool it)."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise RuntimeError(f"input not complete (no _SUCCESS): {path}")
    for name, want in rows.items():
        got = len(pd.read_csv(os.path.join(path, f"{name}.txt"), usecols=[0]))
        if got != want:
            raise RuntimeError(f"feed table {name}: {got} rows, expected {want}")


def _facts(feed: dict[str, pd.DataFrame]) -> dict:
    stops, st, trips, shapes = feed["stops"], feed["stop_times"], feed["trips"], feed["shapes"]
    direct = stops[stops.stop_id.isin(set(st.stop_id))]
    parents = stops[stops.stop_id.isin(set(direct.parent_station.dropna())) & (stops.location_type == 1)]
    used = pd.concat([direct, parents]).drop_duplicates("stop_id")
    pairs = trips.dropna(subset=["shape_id"])[["shape_id", "route_id"]].drop_duplicates()
    pairs = pairs[pairs.shape_id.isin(set(shapes.shape_id))]
    verts = shapes[shapes.shape_id.isin(set(pairs.shape_id))]
    return {
        "used": used[["stop_id", "stop_lon", "stop_lat"]].reset_index(drop=True),
        "pairs": pairs.reset_index(drop=True),
        "verts": verts.reset_index(drop=True),
        "agency_file": feed["agency"].sort_values("agency_id").iloc[0]["agency_name"]
        .replace(" ", "-").lower() + ".geojson",
        "feed": feed,
    }


def _expected_route_files(feed: dict[str, pd.DataFrame]) -> list[str]:
    """Reference S7 names for route output: one file per (route,
    direction) left after the first-trip-per-headsign dedup,
    ``agency_route-short-name_route_direction``."""
    trips = feed["trips"].sort_values("trip_id")
    first = trips.groupby("trip_headsign", sort=False).head(1)
    dirs = first[["route_id", "direction_id"]].drop_duplicates()
    dirs = dirs.merge(feed["routes"][["route_id", "agency_id", "route_short_name"]], on="route_id")
    rows = sorted(dirs.itertuples(index=False),
                  key=lambda r: (str(r.route_id), "None" if pd.isna(r.direction_id) else str(int(r.direction_id))))
    seen, out = {}, []
    for r in rows:
        parts = [r.agency_id, r.route_short_name, r.route_id]
        if not pd.isna(r.direction_id):
            parts.append(str(int(r.direction_id)))
        base = _safe_name("_".join(str(p) for p in parts if p is not None and not pd.isna(p)))
        idx = seen.get(base)
        seen[base] = (idx or 0) + 1
        out.append(base + (f"_{idx}" if idx else "") + ".geojson")
    return sorted(out)


def _agency_features(facts: dict, out_dir: str, names: list[str]) -> list[dict]:
    if names != [facts["agency_file"]]:
        raise ValueError(f"agency output files {names}")
    return _load(os.path.join(out_dir, names[0]))


def _all_inside(pts: np.ndarray, polys: list) -> bool:
    """Every point inside the outer ring of one of ``polys``. Holes are
    not checked: on some inputs ``geometry.polygon_union`` leaves a hole
    over part of a buffered line (a 3-route feed from seed 1008: vertex
    25 of shape SH001_1 lies in a hole of the dissolved union), and a
    check that fails seeds on that known defect would leave no seed to
    measure with."""
    return all(any(_in_ring(x, y, p[0]) for p in polys) for x, y in pts)


def _pipeline_op(spark, feed_dir: str, out_root: str, fmt: str, otype: str, check) -> Op:
    from gtfs_to_geojson_spark.plans import pipeline
    from gtfs_to_geojson_spark.plans.run_spec import RunSpec
    from gtfs_to_geojson_spark.sources import gtfs

    out = os.path.join(out_root, f"{fmt}-{otype}")

    def run(tr):
        with tr.span("gtfs.read.call"):
            feed = gtfs.read_feed(spark, feed_dir)
        with tr.span("pipeline.run", fmt=fmt, otype=otype) as rec:
            stats = pipeline.run(spark, feed, RunSpec(output_format=fmt, output_type=otype, out_dir=out))
            rec["groups"] = stats["files"]
        return out, stats

    def checked(res):
        out_dir, stats = res
        names = sorted(f for f in os.listdir(out_dir) if f.endswith(".geojson"))
        if len(names) != stats["files"]:
            return f"{fmt}/{otype}: {len(names)} files on disk, stats say {stats['files']}"
        return check(out_dir, names)

    return Op(f"{fmt}/{otype}", run, checked)


class FeedFormats(Workload):
    """Two seeded feeds. The main one goes through a light agency
    format, the per-route fan-out and the transit snap; a smaller one goes
    through ``lines-dissolved``, whose pure-Python geometry would
    otherwise swamp the fan-out signal."""

    FEED = {"n_routes": 8, "n_stops": 200, "trips_per_route": 6, "stops_per_trip": 16, "shape_pts": 48}
    GEO_FEED = {"n_routes": 3, "n_stops": 40, "trips_per_route": 4, "stops_per_trip": 8, "shape_pts": 16}
    FLOORS = {"n_routes": 3, "n_stops": 30, "trips_per_route": 4, "stops_per_trip": 4, "shape_pts": 6}

    def __init__(self, scale: float):
        super().__init__("feed_formats", {
            "feed": _scaled(self.FEED, scale, self.FLOORS),
            "geo_feed": _scaled(self.GEO_FEED, scale, self.FLOORS)})

    def generate(self, spark, seed, root):
        for name, sizes in self.sizes.items():
            self.oracle[name] = write_feed(os.path.join(root, name), sizes, seed)
        self.tables = {name: sum(self.oracle[name]["rows"].values()) for name in self.sizes}
        o = self.oracle["feed"]
        used, verts = o["used"], o["verts"]
        d = _haversine_m(used.stop_lat.to_numpy()[:, None], used.stop_lon.to_numpy()[:, None],
                         verts.shape_pt_lat.to_numpy()[None, :], verts.shape_pt_lon.to_numpy()[None, :])
        k = d.argmin(axis=1)
        o["snap"] = {sid: (verts.shape_id[j], int(verts.shape_pt_sequence[j]), float(d[i, j]))
                     for i, (sid, j) in enumerate(zip(used.stop_id, k))}
        o["route_files"] = _expected_route_files(o["feed"])

    def verify(self, root):
        for name in self.sizes:
            verify_feed(os.path.join(root, name), self.oracle[name]["rows"])

    def ops(self, spark, root, out_root):
        from gtfs_to_geojson_spark.operators import transit_spatial
        from gtfs_to_geojson_spark.sources import gtfs

        o, g = self.oracle["feed"], self.oracle["geo_feed"]
        feed_dir, geo_dir = os.path.join(root, "feed"), os.path.join(root, "geo_feed")
        n_used = len(o["used"])
        n_lines = o["pairs"].route_id.nunique()
        geo_verts = g["verts"][["shape_pt_lon", "shape_pt_lat"]].to_numpy()

        def lines_and_stops(out_dir, names):
            feats = _agency_features(o, out_dir, names)
            kinds = pd.Series([f["geometry"]["type"] for f in feats]).value_counts().to_dict()
            want = {"Point": n_used, "MultiLineString": n_lines}
            return None if kinds == want else f"lines-and-stops features {kinds}, want {want}"

        def envelope(out_dir, names):
            if names != o["route_files"]:
                return f"envelope/route files {names}, want {o['route_files']}"
            counts = [len(_load(os.path.join(out_dir, n))) for n in names]
            return None if all(c == 1 for c in counts) else f"envelope/route feature counts {counts}"

        def lines_dissolved(out_dir, names):
            polys = [f["geometry"]["coordinates"] for f in _agency_features(g, out_dir, names)]
            if not polys:
                return "lines-dissolved: no features"
            return None if _all_inside(geo_verts, polys) else "lines-dissolved: a shape vertex lies outside the union"

        def snap(tr):
            feed = gtfs.read_feed(spark, feed_dir)
            with tr.span("transit_spatial.snap.call"):
                df = transit_spatial.snap_stops_to_shapes(feed)
            with tr.span("transit_spatial.snap.action"):
                return {r["stop_id"]: (r["shape_id"], r["shape_pt_sequence"], r["dist_m"]) for r in df.collect()}

        def check_snap(got):
            want = o["snap"]
            if set(got) != set(want):
                return f"snap: {len(got)} stops snapped, want {len(want)}"
            bad = [s for s, (sh, seq, d) in got.items()
                   if (sh, seq) != want[s][:2] or abs(d - want[s][2]) > 0.01 + 1e-6 * want[s][2]]
            return f"snap: {len(bad)} stops snapped to the wrong vertex" if bad else None

        return [
            _pipeline_op(spark, feed_dir, out_root, "lines-and-stops", "agency", lines_and_stops),
            _pipeline_op(spark, feed_dir, out_root, "envelope", "route", envelope),
            Op("snap_stops_to_shapes", snap, check_snap),
            _pipeline_op(spark, geo_dir, out_root, "lines-dissolved", "agency", lines_dissolved),
        ]


WORKLOADS = {
    "assign_headline": AssignHeadline,
    "knn_shuffle": KnnShuffle,
    "feed_formats": FeedFormats,
}
