"""J10/J11 — distributed spatial *overlay* joins where BOTH sides are
extended objects (envelope⋈envelope, polygon⋈polygon intersects).

Engine-new: the reference's only spatial outputs are per-feed envelope
/ convex / buffer FeatureCollections (formats/envelope.ts,
formats/convex.ts); it never joins two geometry sets. This module
completes the engine's join matrix — J6/J7 join points against
extended objects, J8 is point↔point kNN, J10/J11 join extended objects
against extended objects (the "which image tiles overlap which route
corridors" shape at 10^12-row scale).

Scale design — PBSM (Partition-Based Spatial Merge, Patel & DeWitt
SIGMOD'96) re-expressed as one Spark equi-join:

* each geometry explodes to the grid cells its bbox covers (two flat
  x/y index-range explodes — pure Column expressions, codegen);
* candidates come from ONE hash equi-join on the cell id;
* a pair whose bboxes overlap shares every cell containing the
  intersection box, so naive cell joins emit duplicates. Instead of a
  ``distinct()`` (a second full shuffle of the pair set), each pair is
  reported only by its **canonical cell** — the cell containing the
  intersection box's lower-left corner ``(max(min_lon), max(min_lat))``.
  That corner lies inside both bboxes, hence inside both covers, so
  exactly one joined row per overlapping pair survives — dedup becomes
  a codegen filter, zero extra shuffle.
* the bbox-overlap predicate itself is evaluated JVM-side; for
  polygons the exact intersects residual (geometry.polygons_intersect)
  runs as an Arrow-batched pandas UDF over the (already
  bbox-overlap-filtered) candidates only.

Clamping note: ``xy_col`` clamps cell indices to the grid, and the
canonical corner is clamped by the same monotone function, so
``clamp(x_min) ≤ clamp(x_canon) ≤ clamp(x_max)`` — the canonical cell
stays inside both covers even for boxes straddling the grid edge.

Skew: a dense cell with n_a × n_b resident boxes does inherent
candidate work. ``salt_target_rows`` enables hot-cell salting
(``skew``): hot cells (and only hot cells) split into lanes taken from
the left id, with the right side copied to that cell's lanes — same
pair set (each pair meets in exactly one (cell, lane) bucket), bounded
per-task fan-in. AQE's skew-join split handles residual row-size
imbalance at runtime.

Resolution choice: pick ``res`` so a typical box covers O(1–10) cells
(``cells.cover_res_for_bbox``). Too coarse → giant per-cell crosses;
too fine → cover explosion on large boxes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells, skew
from .. import geometry as geom

BOX_COLS = ("min_lon", "min_lat", "max_lon", "max_lat")


def _suffixed(df: DataFrame, suffix: str) -> DataFrame:
    return df.select([F.col(c).alias(c + suffix) for c in df.columns])


def _explode_cover(df: DataFrame, sfx: str, res: int) -> DataFrame:
    """Cover cells via two flat explodes of the x / y index ranges —
    measured 2× cheaper than building the nested cover array
    (cover_bbox_cells_col allocates array-of-array per row; two
    Generate ops over 1-3 element sequences allocate almost nothing)."""
    x0, y0 = cells.xy_col(F.col("min_lat" + sfx), F.col("min_lon" + sfx), res)
    x1, y1 = cells.xy_col(F.col("max_lat" + sfx), F.col("max_lon" + sfx), res)
    return (
        df.withColumn("_x", F.explode(F.sequence(x0, x1)))
        .withColumn("_y", F.explode(F.sequence(y0, y1)))
        .withColumn(
            "_cell",
            F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
            + F.col("_x") * F.lit(1 << 29).cast("long")
            + F.col("_y"),
        )
        .drop("_x", "_y")
    )


def envelope_intersect_join(
    left: DataFrame,
    right: DataFrame,
    res: int,
    salt_target_rows: int | None = None,
    left_id: str | None = None,
    shuffle_hash: bool = True,
) -> DataFrame:
    """Box⋈box intersects join (inclusive edges). Both inputs carry
    ``min_lon/min_lat/max_lon/max_lat`` plus any payload columns;
    output columns are the left's suffixed ``_a`` and the right's
    ``_b``. One shuffle (the cell equi-join), no distinct: the
    canonical-cell filter emits each overlapping pair exactly once.

    ``salt_target_rows`` enables hot-cell salting (``skew``; requires
    ``left_id``): a cell whose exploded left cover holds more than
    ``salt_target_rows`` rows splits into ceil(n_left/target) lanes;
    left rows take a lane from ``left_id`` and right rows are copied to
    that cell's lanes only, so cold cells cost no extra rows. The lane
    comes from the id, not the box, because a hot cell may hold many
    identical boxes. The pair set is identical (each pair meets in
    exactly one (cell, lane) bucket; the canonical-cell filter is
    lane-oblivious). The pre-count re-executes the left plan once (map
    + partial agg only) — feed a materialized/cached frame when the
    left side is an expensive derived plan (same guidance as
    knn_join's probe query).

    ``shuffle_hash=True`` (default) hints the right side into a
    shuffled hash join — measured 1.55× over the sort-merge default
    here (no sort of either exploded stream; per-cell groups are tiny
    so the per-partition build map is ~right_rows/shuffle_partitions —
    size shuffle partitions so that fits the executor heap). Pass
    False to fall back to SMJ's graceful sort-spill when the right
    side per partition is too big to hash in memory.
    """
    la = _explode_cover(_suffixed(left, "_a"), "_a", res)
    rb = _explode_cover(_suffixed(right, "_b"), "_b", res)
    keys = ["_cell"]
    if salt_target_rows:
        if left_id is None:
            raise ValueError("salt_target_rows requires left_id")
        hot = skew.hot_keys(la, "_cell", salt_target_rows)
        la = skew.salt(la, hot, "_cell", left_id + "_a")
        rb = skew.fan_out(rb, hot, "_cell")
        keys = ["_cell", "_salt"]
    joined = la.join(rb.hint("shuffle_hash") if shuffle_hash else rb, keys)
    overlap = (
        (F.col("min_lon_a") <= F.col("max_lon_b"))
        & (F.col("min_lon_b") <= F.col("max_lon_a"))
        & (F.col("min_lat_a") <= F.col("max_lat_b"))
        & (F.col("min_lat_b") <= F.col("max_lat_a"))
    )
    canonical = (
        cells.cell_col(
            F.greatest(F.col("min_lat_a"), F.col("min_lat_b")),
            F.greatest(F.col("min_lon_a"), F.col("min_lon_b")),
            res,
        )
        == F.col("_cell")
    )
    return joined.filter(overlap & canonical).drop(*keys)


def polygon_bbox_cols(poly_col: Column) -> dict[str, Column]:
    """bbox of a rings column (array<array<array<double>>>) as pure
    Column expressions — flatten rings to coords, min/max each axis.
    Codegen; a 100 TB polygon table never leaves the JVM for its bbox."""
    coords = F.flatten(poly_col)
    return {
        "min_lon": F.array_min(F.transform(coords, lambda c: c.getItem(0))),
        "min_lat": F.array_min(F.transform(coords, lambda c: c.getItem(1))),
        "max_lon": F.array_max(F.transform(coords, lambda c: c.getItem(0))),
        "max_lat": F.array_max(F.transform(coords, lambda c: c.getItem(1))),
    }


def _intersects_udf():
    @F.pandas_udf(T.BooleanType())
    def intersects(pa: pd.Series, pb: pd.Series) -> pd.Series:
        out = np.zeros(len(pa), dtype=bool)
        for i, (ra, rb) in enumerate(zip(pa, pb)):
            rings_a = [np.asarray([[p[0], p[1]] for p in ring], dtype=np.float64) for ring in ra]
            rings_b = [np.asarray([[p[0], p[1]] for p in ring], dtype=np.float64) for ring in rb]
            out[i] = geom.polygons_intersect(rings_a, rings_b)
        return pd.Series(out)

    return intersects


def _pad_open_rings(col: pd.Series) -> np.ndarray:
    """Outer rings (closing vertex dropped) → one (B, max_n, 2) array,
    ragged rows padded by repeating the last vertex (a zero edge is a
    SAT no-op, geometry.convex_polygons_intersect_batch)."""
    rings = [
        np.asarray([[p[0], p[1]] for p in poly[0]], dtype=np.float64)[:-1] for poly in col
    ]
    m = max(len(r) for r in rings)
    out = np.empty((len(rings), m, 2), dtype=np.float64)
    for i, r in enumerate(rings):
        out[i, : len(r)] = r
        out[i, len(r):] = r[-1]
    return out


def _convex_intersects_udf():
    @F.pandas_udf(T.BooleanType())
    def intersects(pa: pd.Series, pb: pd.Series) -> pd.Series:
        if len(pa) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        return pd.Series(
            geom.convex_polygons_intersect_batch(_pad_open_rings(pa), _pad_open_rings(pb))
        )

    return intersects


def polygon_intersect_join(
    left: DataFrame,
    right: DataFrame,
    res: int,
    poly_col: str = "polygon",
    salt_target_rows: int | None = None,
    left_id: str | None = None,
    assume_convex: bool = False,
    shuffle_hash: bool = True,
) -> DataFrame:
    """Polygon⋈polygon intersects join: bbox cells candidate join
    (envelope_intersect_join — dedup-free, JVM) + exact
    polygons_intersect residual over the Arrow-batched candidates.
    Closed semantics (boundary contact intersects). Inputs carry
    ``poly_col`` rings plus payload; output is suffixed ``_a``/``_b``
    with the helper bbox columns dropped.

    ``assume_convex=True`` switches the residual to the batched
    separating-axis kernel (geometry.convex_polygons_intersect_batch)
    — no per-pair Python loop: measured 46× raw kernel throughput
    (222k vs 4.8k pairs/s/core) and 3.4× end-to-end at 4M candidates
    (BENCH/ROBUSTNESS.md §overlay). EXACT only for convex outer rings
    without holes; the caller asserts convexity (buffer rings, hulls,
    cells, diamonds)."""
    bba = polygon_bbox_cols(F.col(poly_col))
    bbb = polygon_bbox_cols(F.col(poly_col))
    la = left.withColumns(bba)
    rb = right.withColumns(bbb)
    cand = envelope_intersect_join(
        la, rb, res, salt_target_rows=salt_target_rows, left_id=left_id,
        shuffle_hash=shuffle_hash,
    )
    hit = _convex_intersects_udf() if assume_convex else _intersects_udf()
    out = cand.filter(hit(F.col(poly_col + "_a"), F.col(poly_col + "_b")))
    drop = [c + s for c in BOX_COLS for s in ("_a", "_b")]
    return out.drop(*drop)


def linestring_bbox_cols(line_col: Column) -> dict[str, Column]:
    """bbox of a coords column (array<array<double>>) — codegen."""
    return {
        "min_lon": F.array_min(F.transform(line_col, lambda c: c.getItem(0))),
        "min_lat": F.array_min(F.transform(line_col, lambda c: c.getItem(1))),
        "max_lon": F.array_max(F.transform(line_col, lambda c: c.getItem(0))),
        "max_lat": F.array_max(F.transform(line_col, lambda c: c.getItem(1))),
    }


def _line_intersects_udf():
    @F.pandas_udf(T.BooleanType())
    def intersects(la: pd.Series, pb: pd.Series) -> pd.Series:
        out = np.zeros(len(la), dtype=bool)
        for i, (line, rb) in enumerate(zip(la, pb)):
            coords = np.asarray([[p[0], p[1]] for p in line], dtype=np.float64)
            rings_b = [np.asarray([[p[0], p[1]] for p in ring], dtype=np.float64) for ring in rb]
            out[i] = geom.linestring_intersects_polygon(coords, rings_b)
        return pd.Series(out)

    return intersects


def _segment_convex_udf():
    @F.pandas_udf(T.BooleanType())
    def intersects(la: pd.Series, pb: pd.Series) -> pd.Series:
        if len(la) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        segs = np.asarray(
            [[[p[0][0], p[0][1]], [p[1][0], p[1][1]]] for p in la], dtype=np.float64
        )
        return pd.Series(
            geom.convex_polygons_intersect_batch(segs, _pad_open_rings(pb))
        )

    return intersects


def line_polygon_intersect_join(
    lines: DataFrame,
    polygons: DataFrame,
    res: int,
    line_col: str = "line",
    poly_col: str = "polygon",
    salt_target_rows: int | None = None,
    left_id: str | None = None,
    shuffle_hash: bool = True,
    assume_convex: bool = False,
) -> DataFrame:
    """J12 — polyline⋈polygon intersects join (route corridors × zones):
    the same dedup-free bbox-cell candidate join, with the exact
    linestring_intersects_polygon Arrow residual. Closed semantics
    (boundary contact intersects). Lines carry ``line_col`` coords
    (array<array<double>>), polygons carry ``poly_col`` rings; output
    is suffixed ``_a`` (lines) / ``_b`` (polygons), helper bbox columns
    dropped.

    ``assume_convex=True`` routes the residual through the batched SAT
    kernel (a segment is a degenerate 2-vertex convex polygon, so the
    separating-axis test is exact for segment × convex polygon) — no
    per-pair Python loop. Requires 2-point lines and convex hole-free
    polygons; the general kernel handles everything else."""
    la = lines.withColumns(linestring_bbox_cols(F.col(line_col)))
    rb = polygons.withColumns(polygon_bbox_cols(F.col(poly_col)))
    cand = envelope_intersect_join(
        la, rb, res, salt_target_rows=salt_target_rows, left_id=left_id,
        shuffle_hash=shuffle_hash,
    )
    hit = _segment_convex_udf() if assume_convex else _line_intersects_udf()
    out = cand.filter(hit(F.col(line_col + "_a"), F.col(poly_col + "_b")))
    drop = [c + s for c in BOX_COLS for s in ("_a", "_b")]
    return out.drop(*drop)


def zonal_counts(
    left: DataFrame,
    zones: DataFrame,
    res: int,
    zone_cols: list[str],
    weight_col: str | None = None,
    shuffle_hash: bool = True,
) -> DataFrame:
    """Zonal statistics over the overlay join: how many left envelopes
    (images, AOIs, footprints) intersect each zone, plus an optional
    weighted sum. One extra partial+final aggregation on top of the
    dedup-free join — the pair set itself never re-shuffles (the
    canonical-cell filter guarantees each pair is counted once, so no
    count-distinct is needed; a naive cell join would need one).
    ``zone_cols`` name the zone-side identity columns (pre-suffix)."""
    j = envelope_intersect_join(left, zones, res, shuffle_hash=shuffle_hash)
    keys = [F.col(c + "_b").alias(c) for c in zone_cols]
    aggs = [F.count(F.lit(1)).alias("n_left")]
    if weight_col is not None:
        aggs.append(F.sum(F.col(weight_col + "_a")).alias("sum_" + weight_col))
    return j.groupBy(*keys).agg(*aggs)


def _lines_intersect_udf():
    @F.pandas_udf(T.BooleanType())
    def intersects(la: pd.Series, lb: pd.Series) -> pd.Series:
        if len(la) == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        # single-segment batches (the common GPS-trace/route-leg case)
        # take the fully-vectorized kernel — no per-pair Python loop
        if all(len(a) == 2 for a in la) and all(len(b) == 2 for b in lb):
            def ends(col, idx):
                return np.asarray(
                    [[p[idx][0], p[idx][1]] for p in col], dtype=np.float64
                )
            return pd.Series(
                geom.segments_intersect_batch(
                    ends(la, 0), ends(la, 1), ends(lb, 0), ends(lb, 1)
                )
            )
        out = np.zeros(len(la), dtype=bool)
        for i, (a, b) in enumerate(zip(la, lb)):
            ca = np.asarray([[p[0], p[1]] for p in a], dtype=np.float64)
            cb = np.asarray([[p[0], p[1]] for p in b], dtype=np.float64)
            out[i] = geom.polylines_intersect(ca, cb)
        return pd.Series(out)

    return intersects


def line_line_intersect_join(
    left: DataFrame,
    right: DataFrame,
    res: int,
    line_col: str = "line",
    salt_target_rows: int | None = None,
    left_id: str | None = None,
    shuffle_hash: bool = True,
) -> DataFrame:
    """J13 — polyline⋈polyline intersects join (where do route
    corridors cross?): the same dedup-free bbox-cell candidates with
    the exact polylines_intersect residual (proper crossings, vertex
    touches, collinear overlaps — closed semantics). Completes the
    engine's join matrix: every {point, box, line, polygon} pair now
    has a distributed join."""
    la = left.withColumns(linestring_bbox_cols(F.col(line_col)))
    rb = right.withColumns(linestring_bbox_cols(F.col(line_col)))
    cand = envelope_intersect_join(
        la, rb, res, salt_target_rows=salt_target_rows, left_id=left_id,
        shuffle_hash=shuffle_hash,
    )
    hit = _lines_intersect_udf()
    out = cand.filter(hit(F.col(line_col + "_a"), F.col(line_col + "_b")))
    drop = [c + s for c in BOX_COLS for s in ("_a", "_b")]
    return out.drop(*drop)
