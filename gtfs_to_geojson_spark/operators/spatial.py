"""Distributed spatial joins J6–J9 (SURVEY.md §2.4) — the engine-new
operator suite required by the north rule.

Every join follows the same shape: a **cell-equi prejoin** (grid cells
from cells.py, computed JVM-side) turns a spatial theta join into a
hash join Catalyst can shuffle/broadcast like any other, followed by an
**exact residual predicate**. The cell cover is a superset of the
exact answer, so composition is exact (property-tested).

Skew: dense-urban cells are the classic hotspot (FIXTURES.md §2 pins
~30% of images into one cell). Grid kNN salts its hot point cells
through ``skew`` — one lane per point, the target side copied to every
lane — and AQE skew-join stays on as the runtime backstop (session.py).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import cells, skew
from .. import geometry as geom

# ---------------------------------------------------------------------------
# J6 — point-in-envelope (bbox range join) via cell cover
# ---------------------------------------------------------------------------


def cover_bbox_cells_col(min_lon, min_lat, max_lon, max_lat, res: int):
    """All cells intersecting a bbox, as a pure Column expression:
    cross of the x and y index ranges via ``sequence`` + nested
    ``transform`` + ``flatten`` — no UDF, stays JVM-side."""
    x0, y0 = cells.xy_col(min_lat, min_lon, res)
    x1, y1 = cells.xy_col(max_lat, max_lon, res)
    res_term = F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
    return F.flatten(
        F.transform(
            F.sequence(x0, x1),
            lambda x: F.transform(
                F.sequence(y0, y1),
                lambda y: res_term + x * F.lit(1 << 29).cast("long") + y,
            ),
        )
    )


def point_in_envelope_join(
    points: DataFrame,
    boxes: DataFrame,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """J6 — stops (points) ⋈ route envelopes (boxes with min_lon/
    min_lat/max_lon/max_lat). Cell-cover equi-prejoin + exact residual
    bbox predicate; inclusive edges (deterministic for on-edge
    fixtures). The reference consumes envelopes as an output format
    (formats/envelope.ts:14); the join itself is engine-new."""
    b = boxes.withColumn(
        "_cell",
        F.explode(
            cover_bbox_cells_col(
                F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"), res
            )
        ),
    )
    p = points.withColumn("_cell", cells.cell_col(F.col(lat_col), F.col(lon_col), res))
    joined = p.join(b, "_cell")
    return joined.filter(
        (F.col(lon_col) >= F.col("min_lon"))
        & (F.col(lon_col) <= F.col("max_lon"))
        & (F.col(lat_col) >= F.col("min_lat"))
        & (F.col(lat_col) <= F.col("max_lat"))
    ).drop("_cell")


# ---------------------------------------------------------------------------
# J7 — point-in-polygon via cell cover + exact ray-cast residual
# ---------------------------------------------------------------------------

_RINGS_T = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))


def polygon_cover_udf(res: int):
    """pandas UDF: polygon rings → covering cells, each flagged
    ``interior`` when the whole cell provably lies inside the polygon
    (all four corners inside + no polygon edge's bbox overlaps the
    cell). Interior-cell candidates skip the exact residual entirely —
    at raster scale the overwhelming majority of candidates are
    interior, so the Python ray cast only ever sees the boundary rim.
    The boundary flag is conservative, so the join stays exact."""

    struct_t = T.ArrayType(
        T.StructType(
            [T.StructField("cell", T.LongType()), T.StructField("interior", T.BooleanType())]
        )
    )

    @F.pandas_udf(struct_t)
    def cover(rings: pd.Series) -> pd.Series:
        out = []
        for poly in rings:
            rr = _parse_rings(poly)
            mnx, mny, mxx, mxy = geom.bbox(rr[0])
            cc = cells.cover_bbox(mnx, mny, mxx, mxy, res)
            c_mnx, c_mny, c_mxx, c_mxy = cells.cell_bounds(cc)
            # conservative boundary: any polygon edge bbox overlapping the cell
            boundary = np.zeros(len(cc), dtype=bool)
            for ring in rr:
                a, b = ring[:-1], ring[1:]
                e_mnx = np.minimum(a[:, 0], b[:, 0])
                e_mxx = np.maximum(a[:, 0], b[:, 0])
                e_mny = np.minimum(a[:, 1], b[:, 1])
                e_mxy = np.maximum(a[:, 1], b[:, 1])
                boundary |= np.any(
                    (c_mnx[:, None] <= e_mxx[None, :])
                    & (e_mnx[None, :] <= c_mxx[:, None])
                    & (c_mny[:, None] <= e_mxy[None, :])
                    & (e_mny[None, :] <= c_mxy[:, None]),
                    axis=1,
                )
            # interior: not boundary AND all 4 corners inside (even-odd)
            interior = ~boundary
            if np.any(interior):
                idx = np.nonzero(interior)[0]
                corners_x = np.concatenate([c_mnx[idx], c_mxx[idx], c_mnx[idx], c_mxx[idx]])
                corners_y = np.concatenate([c_mny[idx], c_mny[idx], c_mxy[idx], c_mxy[idx]])
                ins = geom.points_in_polygon(corners_x, corners_y, rr).reshape(4, -1).all(axis=0)
                interior[idx] = ins
            out.append(
                [
                    {"cell": int(c), "interior": bool(i)}
                    for c, i in zip(cc.tolist(), interior.tolist())
                ]
            )
        return pd.Series(out)

    return cover


def _parse_rings(poly) -> list[np.ndarray]:
    """Arrow hands nested lists back as object arrays — stack per ring."""
    return [np.stack([np.asarray(p, dtype=np.float64) for p in ring]) for ring in poly]


def pip_residual_udf():
    """pandas UDF: exact even-odd containment of (lon, lat) in Polygon
    rings. Candidate rows repeat the same few polygons many times, so
    each Arrow batch groups by the (cheap, scalar) polygon key, parses
    the rings ONCE per group, and runs one vectorized ray cast over all
    of that polygon's candidate points — no per-row Python."""

    @F.pandas_udf(T.BooleanType())
    def pip(lon: pd.Series, lat: pd.Series, key: pd.Series, rings: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy()
        lat_v = lat.to_numpy()
        out = np.zeros(len(lon_v), dtype=bool)
        key_v = key.to_numpy()
        for k in pd.unique(key_v):
            ii = np.nonzero(key_v == k)[0]
            rr = _parse_rings(rings.iloc[ii[0]])
            out[ii] = geom.points_in_polygon(lon_v[ii], lat_v[ii], rr)
        return pd.Series(out)

    return pip


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    poly_col: str = "polygon",
) -> DataFrame:
    """J7 — exact point-in-polygon join: explode(cover cells) equi-join;
    interior-cell candidates pass directly, boundary-cell candidates go
    through the vectorized ray-cast residual. Used for stop-in-
    dissolved-buffer and image-in-route-polygon (J9) assignment."""
    cov = polygon_cover_udf(res)
    # deterministic polygon key (NOT monotonically_increasing_id — the
    # key must be identical across the two join branches and stable for
    # the pip kernel's per-polygon grouping)
    pg = (
        polygons.withColumn("_key", F.xxhash64(F.to_json(F.col(poly_col))))
        .withColumn("_cc", F.explode(cov(F.col(poly_col))))
        .withColumn("_cell", F.col("_cc.cell"))
        .withColumn("_interior", F.col("_cc.interior"))
        .drop("_cc")
        # materialize the exploded cover ONCE (r2): the two branches
        # below each broadcast a differently-filtered build side, which
        # previously re-ran the cover UDF per branch; the cover frame is
        # bounded by the same smallness assumption that lets it be
        # broadcast at all, so an eager checkpoint costs one tiny job
        # and halves the Python cover work + worker spin-ups
        .localCheckpoint()
    )
    pt = points.withColumn("_cell", cells.cell_col(F.col(lat_col), F.col(lon_col), res))
    joined = pt.join(pg, "_cell").drop("_cell")
    # Python UDFs are evaluated in their own stage BEFORE a filter, so an
    # `interior | pip()` expression would still ray-cast every candidate.
    # Split physically: interior candidates never touch Python. Catalyst
    # pushes each branch's _interior predicate INTO its broadcast build
    # side (now a filter over the checkpointed cover rows), so branch 1
    # broadcasts only interior cover cells and joins entirely in the
    # JVM, and branch 2 broadcasts only the boundary rim and ray-casts
    # only those candidates.
    inside = joined.filter(F.col("_interior"))
    pip = pip_residual_udf()
    boundary = joined.filter(~F.col("_interior")).filter(
        pip(F.col(lon_col), F.col(lat_col), F.col("_key"), F.col(poly_col))
    )
    return inside.unionByName(boundary).drop("_interior", "_key")


# ---------------------------------------------------------------------------
# J8 — exact kNN join: broadcast, or grid cogroup + in-plan brute-force tail
# ---------------------------------------------------------------------------


# targets at or below this count take the broadcast-local strategy:
# 100k targets ≈ 2.4 MB of (id, lon, lat) — well under any sane
# broadcast budget, and the per-batch distance matrix stays bounded by
# the chunking inside the kernel.
KNN_BROADCAST_MAX_TARGETS = 100_000

# ... but only while the total matmul work is modest: the broadcast
# kernel's per-point cost scales with n_targets (every point is dotted
# against the whole broadcast side), so its viability tracks the
# PRODUCT n_points × n_targets, not either count alone. The cutoff
# was derived against the old checkpointed grid (BENCH/KNN_REGIMES.md,
# tables before 2026-10-19): broadcast won 1.4× at product 3.0e10
# (600k × 50k), 4-6× at 4.8e9 (4.8M × 1k), lost 4× at 1.2e11
# (600k × 200k) and 2× at 3.0e11 (6M × 50k); log-linear crossover
# ≈ 4e10. It is stale against the lazy grid: the 2026-10-19 tables
# time 600k × 50k at 31.2 s broadcast vs 9.4 s grid, while 4.8M × 1k
# still favours broadcast (8.7 vs 19.5 s) — see the CHANGES.md FOUND
# entry on this rule.
KNN_BROADCAST_MAX_PRODUCT = 40_000_000_000

# Which side the grid replicates into the 3×3 neighbourhood is a RATIO
# decision: it copies the points when n_targets > max(grid_threshold,
# KNN_GRID_TARGET_RATIO × n_points), else the targets. Not simply the
# smaller side: at 600k × 1M copying the targets, the larger side, won.
# Measured on the same inputs with each side forced (BENCH/KNN_REGIMES.md,
# 2026-10-19 tables, local[4], seconds targets ×9 / points ×9): 600k
# points × 50k 12.4/14.0, × 200k 12.2/13.5, × 1M 10.2/11.7 (ratio 1.7:
# the targets, the larger side, still win), × 4M 24.7/13.7; 60k × 1M
# 8.9/4.8 and 300k × 1M 8.3/7.8 (ratios 17 and 3.3); 6M × 4M 44.9/79.3;
# 4.8M × 1k 23.9/60.0. The rule picks the faster side in every cell.
# ``grid_threshold`` (default 0) only raises the switch point; the
# scaled-down benchmark lattices set it.
KNN_GRID_TARGET_RATIO = 2.0

# cap on the point-side count of the one probe query: counts are
# compared, never fully materialized, so knn_join never runs an
# unbounded count over a 100-TB point table.
KNN_POINT_PROBE_CAP = 50_000_000


def _topk_by_dots(dots: np.ndarray, tid: np.ndarray, kk: int) -> np.ndarray:
    """Row-wise exact top-k column indices by (-dot, id) — nearest
    first, smallest id on exact ties.

    argpartition selects the m = k+64 largest dots in O(T), then only
    those m are lexsorted — O(T + m log m) per row instead of the full
    O(T log T) lexsort (which made k>1 broadcasts pathologically slow
    at 100k+ targets). Exactness guard: when a row's k-th kept dot
    equals the partition boundary's minimum, the id tie-break could
    reach outside the partition — those (rare: requires ≥64-way exact
    dot ties, i.e. co-located targets) rows fall back to the full
    lexsort."""
    n_t = dots.shape[1]
    if kk >= n_t:
        return np.lexsort((np.broadcast_to(tid, dots.shape), -dots), axis=-1)[:, :kk]
    m = min(n_t, kk + 64)
    part = np.argpartition(-dots, m - 1, axis=1)[:, :m]
    pd_dots = np.take_along_axis(dots, part, axis=1)
    ids_m = tid[part]
    order = np.lexsort((ids_m, -pd_dots), axis=-1)[:, :kk]
    j = np.take_along_axis(part, order, axis=1)
    if m < n_t:
        kth = np.take_along_axis(dots, j[:, -1:], axis=1)[:, 0]
        risky = kth <= pd_dots.min(axis=1)
        if np.any(risky):
            full = np.lexsort(
                (np.broadcast_to(tid, dots[risky].shape), -dots[risky]), axis=-1
            )[:, :kk]
            j[risky] = full
    return j


def _unit_vectors(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    rlat, rlon = np.radians(lat), np.radians(lon)
    return np.stack(
        [np.cos(rlat) * np.cos(rlon), np.cos(rlat) * np.sin(rlon), np.sin(rlat)], axis=1
    )


def _knn_broadcast(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    target_key: str,
    lon_col: str,
    lat_col: str,
    t_lon: str,
    t_lat: str,
) -> DataFrame:
    """Broadcast-local kNN: the whole (small) target side is collected
    once, shipped in the task closure, and each Arrow batch of points
    computes its haversine distance matrix + top-k in numpy — ONE
    map-side pass over the point table, zero shuffle, no driver loop.
    This is the kNN analog of a broadcast hash join, and the plan you
    want at 10^12 points vs a dimension-sized target table (routes,
    shape vertices): nothing about it grows with the point count.

    Exact, deterministic tie-break on (distance, target_id), the same
    order as the grid path's merge and tail."""
    tgt = targets.select(target_key, t_lon, t_lat).orderBy(target_key).toPandas()
    schema = T.StructType(
        list(points.schema.fields)
        + [
            targets.schema[target_key],
            T.StructField(t_lon, T.DoubleType()),
            T.StructField(t_lat, T.DoubleType()),
            T.StructField("_dist_m", T.DoubleType()),
        ]
    )
    if len(tgt) == 0:
        return points.sparkSession.createDataFrame([], schema)
    tid = tgt[target_key].to_numpy()
    tlon = tgt[t_lon].to_numpy(dtype=np.float64)
    tlat = tgt[t_lat].to_numpy(dtype=np.float64)
    n_t = len(tid)
    kk = min(k, n_t)
    # candidate selection runs on 3D chord dot products, not haversine:
    # nearest-on-the-sphere == largest dot of unit vectors (monotone in
    # central angle), and the (chunk × T) score matrix becomes ONE BLAS
    # matmul instead of a trig expression per pair — ~10× less compute.
    # Exact haversine is then evaluated only for the k selected pairs.
    T3 = _unit_vectors(tlon, tlat)
    # chunk so the (chunk × n_targets) score matrix stays ~32 MB
    chunk = max(1, 4_000_000 // n_t)
    point_cols = [f.name for f in points.schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            plon = pdf[lon_col].to_numpy(dtype=np.float64)
            plat = pdf[lat_col].to_numpy(dtype=np.float64)
            P3 = _unit_vectors(plon, plat)
            for s in range(0, n, chunk):
                e = min(n, s + chunk)
                dots = P3[s:e] @ T3.T
                if kk == 1:
                    # tid is sorted ascending and argmax takes the first
                    # maximum → smallest id wins exact ties
                    j = np.argmax(dots, axis=1)[:, None]
                else:
                    j = _topk_by_dots(dots, tid, kk)
                rows = np.repeat(np.arange(s, e), kk)
                jf = j.ravel()
                out = pdf.iloc[rows][point_cols].reset_index(drop=True)
                out[target_key] = tid[jf]
                out[t_lon] = tlon[jf]
                out[t_lat] = tlat[jf]
                out["_dist_m"] = geom.haversine_m(
                    np.repeat(plat[s:e], kk), np.repeat(plon[s:e], kk), tlat[jf], tlon[jf]
                )
                yield out

    return points.mapInPandas(gen, schema)


def _knn_grid_res(n_targets: int, x0, x1, y0, y1) -> int:
    """Density-derived grid resolution: one occupied cell holds about
    512 targets, so a point's 3×3 neighbourhood sees ~4,600 candidates
    — enough that the k-th distance is far inside the guarantee."""
    if not n_targets:
        return 8
    span_x = max(float(x1 - x0), 1e-9)
    span_y = max(float(y1 - y0), 1e-9)
    n_side = math.sqrt(max(1.0, (n_targets / 512) * (360.0 * 180.0) / (span_x * span_y)))
    return min(24, max(4, math.ceil(math.log2(max(2.0, n_side)))))


# With a caller-fixed res, points the grid leaves unresolved are
# searched once more on a grid this many levels coarser (cells 16×
# wider: 76 m → 1.2 km at res 18) before the brute-force tail. A fixed
# res knows nothing of the target spacing: on synth.make_gtfs_feed feeds
# of 210k–420k shape vertices, 34–57% of the used stops lie farther than
# one res-18 cell from every vertex, and at most 0.8% farther than one
# res-14 cell. Their stop→shape snap (transit_spatial, res 18, 210k
# vertices, feed read from parquet, local[4]) took 233 s with every
# straggler in the brute-force tail and 17–28 s with this level (and
# the points, not the 210k targets, replicated at res 18). A
# density-derived res sizes cells to about 512 targets and takes no
# second level: on the knn_shuffle benchmark (res=None) building and
# running an always-empty second level cost +53% wall in one pair.
KNN_COARSE_LEVELS = 4


def _knn_grid(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str,
    target_key: str,
    lon_col: str,
    lat_col: str,
    t_lon: str,
    t_lat: str,
    res: int,
    replicate_points: bool,
    max_points_per_task: int = 50_000,
    escalate: bool = False,
) -> DataFrame:
    """Grid-cogroup kNN, exact, as one lazy plan.

    ``_knn_cells`` at ``res`` resolves every point whose k-th nearest
    target lies within its cell-sized guarantee. With ``escalate`` (a
    caller-fixed ``res``), its stragglers go through ``_knn_cells`` once
    more at ``res - KNN_COARSE_LEVELS``, with the stragglers replicated
    and the targets cut to the cells they reach. The points still
    unresolved take the exact brute-force tail: broadcast × all targets,
    window top-k. The tail costs (its points) × (targets): with
    ``escalate`` its points are those farther than one coarse cell
    (about 1.2 km at res 18) from their k-th target; without it, those
    farther than one ``res`` cell, which at the density-derived ``res``
    (about 512 targets a cell) are the points in target-sparse regions.
    With no stragglers AQE turns the later levels into empty relations.
    """
    from pyspark.sql import Window

    from ..functions.geo import haversine_m

    cols = (k, point_key, target_key, lon_col, lat_col, t_lon, t_lat)
    found, left = _knn_cells(points, targets, *cols, res, replicate_points, max_points_per_task)
    if escalate and res > KNN_COARSE_LEVELS:
        more, left = _knn_cells(
            left, targets, *cols, res - KNN_COARSE_LEVELS, True, max_points_per_task, near=True
        )
        found = found.unionByName(more)
    cand = (
        F.broadcast(left)
        .crossJoin(targets.select(target_key, t_lon, t_lat))
        .withColumn(
            "_dist_m", haversine_m(F.col(lat_col), F.col(lon_col), F.col(t_lat), F.col(t_lon))
        )
    )
    w = Window.partitionBy(point_key).orderBy(F.asc("_dist_m"), F.asc(target_key))
    tail = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k)
    return found.unionByName(tail.select(*found.columns))


def _knn_cells(
    points: DataFrame,
    targets: DataFrame,
    k: int,
    point_key: str,
    target_key: str,
    lon_col: str,
    lat_col: str,
    t_lon: str,
    t_lat: str,
    res: int,
    replicate_points: bool,
    max_points_per_task: int,
    near: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """One grid level: ``(resolved rows, straggler points)``.

    Both sides are keyed by their grid cell at ``res``, and one side
    (``replicate_points``, chosen by the caller from the counts) is
    copied into its 3×3 cell neighbourhood — the only data
    amplification, the bounded neighbour replication of *Distributed
    Stream KNN Join* (SIGMOD 2021). With ``near``, targets outside the
    replicated point cells are dropped before the shuffle (a broadcast
    of those cells, for a point side known to be small). A cogrouped
    Arrow kernel, called once per block of 8×8 cells, computes the exact
    top-k of each point row against its cell's targets with the same
    chord-dot BLAS matmul as the broadcast kernel; a point row whose
    cell has no targets gets one null marker row, so no point is lost.

    A ``groupBy(point_key)`` merge keeps each point's top k by
    (distance, target key) over its partial lists. The point is resolved
    when it has k neighbours and the k-th lies within the 3×3 guarantee:
    everything unsearched is at least one cell away — one cell height
    vertically, and horizontally one cell width at the WORST latitude the
    searched rows reach (two cell heights poleward of the point, where
    cos is smallest; clamped at the pole the bound is 0). Resolved rows
    and stragglers both read the merge's one exchange, so the kernel
    runs once per action.

    The x index WRAPS modulo n (a point in the first or last column must
    see metrically-adjacent targets across the antimeridian); rows past
    a pole are dropped (no wrap over the poles).

    Skew: a dense-metro block would make one cogroup task hot, and AQE
    cannot split grouped-map groups — so a block holding more than
    ``max_points_per_task`` point rows is salted (``skew``): its point
    rows split into lanes and its targets fan out to every lane. Every
    (point, target) pair of a cell still meets in exactly one lane.
    """
    n = 1 << res
    cell_h_deg = 180.0 / n
    mask = (1 << 29) - 1
    res_term = F.lit(res).cast("long") * F.lit(1 << 58).cast("long")

    def neighbourhood(df: DataFrame) -> DataFrame:
        """``df`` with each row copied into the 3×3 cells around its
        ``_cell``, as literal offsets and codegen arithmetic."""
        dxs = (-1, 0, 1) if n >= 3 else range(n)  # n < 3: no column twice
        off = F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                      for dx in dxs for dy in (-1, 0, 1)])
        )
        x = F.shiftright(F.col("_cell"), 29).bitwiseAND(F.lit(mask)) + F.col("_o.dx")
        y = F.col("_cell").bitwiseAND(F.lit(mask)) + F.col("_o.dy")
        return (
            df.withColumn("_o", off)
            .filter((y >= 0) & (y < n))
            .withColumn("_cell", res_term + F.pmod(x, F.lit(n)) * F.lit(1 << 29) + y)
            .drop("_o")
        )

    p = points.select(
        point_key, lon_col, lat_col,
        cells.cell_col(F.col(lat_col), F.col(lon_col), res).alias("_cell"),
    )
    t = targets.select(
        target_key, t_lon, t_lat,
        cells.cell_col(F.col(t_lat), F.col(t_lon), res).alias("_cell"),
    )
    if replicate_points:
        p = neighbourhood(p)
        if near:
            t = t.join(F.broadcast(p.select("_cell").distinct()), "_cell", "left_semi")
    else:
        t = neighbourhood(t)

    # one cogroup call per block of 8×8 cells, not per cell: the
    # grouped-map call costs milliseconds of its own, which dominated
    # the run at ~100 rows per cell; the kernel pairs the cells itself
    block = F.col("_cell").bitwiseAND(F.lit(~((7 << 29) | 7)))
    p = p.withColumn("_blk", block)
    t = t.withColumn("_blk", block)
    hot = skew.hot_keys(p, "_blk", max_points_per_task)
    p = skew.salt(p, hot, "_blk", point_key)
    t = skew.fan_out(t, hot, "_blk")

    schema = T.StructType(
        [
            T.StructField(point_key, points.schema[point_key].dataType, False),
            T.StructField(lon_col, T.DoubleType()),
            T.StructField(lat_col, T.DoubleType()),
            T.StructField(target_key, targets.schema[target_key].dataType, True),
            T.StructField(t_lon, T.DoubleType()),
            T.StructField(t_lat, T.DoubleType()),
            T.StructField("_dist_m", T.DoubleType()),
        ]
    )

    def kernel(key, pts_pdf: pd.DataFrame, tgt_pdf: pd.DataFrame) -> pd.DataFrame:
        # both sides sorted by cell, targets by (cell, id): a cell's rows
        # are one slice, and argmax's first maximum is the smallest id
        pts_pdf = pts_pdf.sort_values("_cell", kind="stable")
        tgt_pdf = tgt_pdf.sort_values(["_cell", target_key], kind="stable")
        pcell = pts_pdf["_cell"].to_numpy()
        tcell = tgt_pdf["_cell"].to_numpy()
        plon = pts_pdf[lon_col].to_numpy(dtype=np.float64)
        plat = pts_pdf[lat_col].to_numpy(dtype=np.float64)
        tid = tgt_pdf[target_key].to_numpy()
        tlon = tgt_pdf[t_lon].to_numpy(dtype=np.float64)
        tlat = tgt_pdf[t_lat].to_numpy(dtype=np.float64)
        P3, T3 = _unit_vectors(plon, plat), _unit_vectors(tlon, tlat)
        pi, tj = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]  # output rows
        starts = np.flatnonzero(np.r_[True, pcell[1:] != pcell[:-1]]) if len(pcell) else []
        for s, e in zip(starts, np.r_[starts[1:], len(pcell)]):
            lo, hi = np.searchsorted(tcell, pcell[s], "left"), np.searchsorted(tcell, pcell[s], "right")
            kk = min(k, hi - lo)
            if kk == 0:  # no target in the cell: one null marker row
                pi.append(np.arange(s, e))
                tj.append(np.full(e - s, -1))
                continue
            # chunk so the (chunk × targets) score matrix stays ~32 MB
            chunk = max(1, 4_000_000 // (hi - lo))
            for c in range(s, e, chunk):
                ce = min(e, c + chunk)
                dots = P3[c:ce] @ T3[lo:hi].T
                j = np.argmax(dots, axis=1)[:, None] if kk == 1 else _topk_by_dots(dots, tid[lo:hi], kk)
                pi.append(np.repeat(np.arange(c, ce), kk))
                tj.append(lo + j.ravel())
        pi, tj = np.concatenate(pi), np.concatenate(tj)
        miss = tj < 0
        tj = np.where(miss, 0, tj)
        if len(tid) == 0:  # every row is a marker
            tid, tlon, tlat = np.zeros(1, dtype=object), np.full(1, np.nan), np.full(1, np.nan)
        out_tid = np.where(miss, None, tid[tj]) if miss.any() else tid[tj]
        olon, olat = np.where(miss, np.nan, tlon[tj]), np.where(miss, np.nan, tlat[tj])
        out = pd.DataFrame(
            {
                point_key: pts_pdf[point_key].to_numpy()[pi],
                lon_col: plon[pi],
                lat_col: plat[pi],
                target_key: out_tid,
                t_lon: olon,
                t_lat: olat,
                "_dist_m": geom.haversine_m(plat[pi], plon[pi], olat, olon),
            }
        )
        # a replicated point meets most of its 3×3 cells in this call:
        # keep its top k here, so the merge shuffles ~k rows per point
        out = out.sort_values([point_key, "_dist_m", target_key], kind="stable")
        return out.groupby(point_key, sort=False).head(k)

    partial = p.groupBy("_blk", "_salt").cogroup(t.groupBy("_blk", "_salt")).applyInPandas(
        kernel, schema
    )
    # struct order (distance, target key) is the tie-break order;
    # collect_list drops the null markers
    nb = F.struct("_dist_m", target_key, t_lon, t_lat)
    merged = partial.groupBy(point_key, lon_col, lat_col).agg(
        F.slice(
            F.sort_array(F.collect_list(F.when(F.col(target_key).isNotNull(), nb))), 1, k
        ).alias("_nn")
    )
    reach = F.least(F.lit(90.0), F.abs(F.col(lat_col)) + F.lit(2.0 * cell_h_deg))
    guarantee = F.lit(0.999 * cell_h_deg * geom.EARTH_M_PER_DEG_LAT) * F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * F.cos(F.radians(reach)))
    )
    ok = (F.size("_nn") >= k) & (F.array_max(F.col("_nn._dist_m")) <= guarantee)
    cols = [f.name for f in schema.fields]
    resolved = merged.filter(ok).select(point_key, lon_col, lat_col, F.inline("_nn")).select(*cols)
    return resolved, merged.filter(~ok).select(point_key, lon_col, lat_col)


def _knn_auto_strategy(
    n_points: int,
    n_targets: int,
    broadcast_threshold: int = KNN_BROADCAST_MAX_TARGETS,
    grid_threshold: int = 0,
) -> str:
    """The physical plan for ``n_points`` × ``n_targets``: ``"broadcast"``,
    ``"grid"`` (replicate the targets) or ``"grid_points"`` (replicate
    the points). The rules and their measured crossovers live in the
    KNN_* constant comments; BENCH/KNN_REGIMES.md is the evidence. A
    point count above KNN_POINT_PROBE_CAP is a lower bound, so its true
    product with the targets is unknown: it never broadcasts (grid won
    every huge-point cell)."""
    if (
        n_targets <= broadcast_threshold
        and n_points <= KNN_POINT_PROBE_CAP
        and n_points * n_targets <= KNN_BROADCAST_MAX_PRODUCT
    ):
        return "broadcast"
    if n_targets > max(grid_threshold, KNN_GRID_TARGET_RATIO * n_points):
        return "grid_points"
    return "grid"


def _knn_probe(points: DataFrame, targets: DataFrame, t_lon: str, t_lat: str):
    """One query: the point count capped at KNN_POINT_PROBE_CAP + 1
    (``n_p``), the target count (``n_t``) and the target bbox
    (``x0``, ``x1``, ``y0``, ``y1``)."""
    n_p = points.limit(KNN_POINT_PROBE_CAP + 1).agg(F.count(F.lit(1)).alias("n_p"))
    t = targets.agg(
        F.count(F.lit(1)).alias("n_t"),
        F.min(t_lon).alias("x0"), F.max(t_lon).alias("x1"),
        F.min(t_lat).alias("y0"), F.max(t_lat).alias("y1"),
    )
    return n_p.crossJoin(t).first()


def knn_join(
    points: DataFrame,
    targets: DataFrame,
    res: int | None,
    k: int = 1,
    point_key: str = "point_id",
    target_key: str = "target_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    t_lon: str = "t_lon",
    t_lat: str = "t_lat",
    strategy: str = "auto",
    broadcast_threshold: int = KNN_BROADCAST_MAX_TARGETS,
    grid_threshold: int = 0,
    n_points: int | None = None,
    n_targets: int | None = None,
) -> DataFrame:
    """J8 — k nearest targets per point, exact.

    Two physical strategies (like Catalyst's broadcast-vs-shuffle join
    choice), picked by ``_knn_auto_strategy`` under ``strategy='auto'``:

    * ``broadcast`` (≤ 100k targets AND points × targets ≤ 4e10):
      target side shipped whole, one shuffle-free map pass over the
      points (_knn_broadcast); its per-point cost scales with the
      target count, so viability tracks the matmul PRODUCT — tiny
      target sides broadcast even against multi-million-point sides;
    * ``grid``: cell-keyed cogroup with one side replicated into the
      3×3 neighbourhood — the points when targets > 2 × points, else
      the targets (KNN_GRID_TARGET_RATIO) — a merge with the 3×3
      guarantee, with a caller-fixed ``res`` a second level 16× coarser
      for its stragglers, and an exact brute-force tail for the rest,
      all in one plan (_knn_grid).

    ``n_points``/``n_targets`` are row-count hints (upper bounds are
    safe: the result is exact either way, only the plan changes).
    Without both hints, or with ``res=None`` on the grid path, one probe
    query counts the points (capped at KNN_POINT_PROBE_CAP + 1) and the
    targets and takes the target bbox; ``res=None`` derives the grid
    from that density (one cell ≈ 512 targets). The probe executes each
    side's upstream plan once more — pass the hints for expensive
    derived inputs. With both hints and ``res``, the grid path launches
    no Spark job until its result is consumed; broadcast collects the
    target side, which is its build.

    Distances: haversine meters. Deterministic tie-break on
    (distance, target_id).

    Contract: ``point_key`` must be unique per input row (kNN is a
    keyed join — k output rows per point). With duplicate keys the
    grid path's per-key merge would collapse duplicates while the
    broadcast path emits per input row; uniqueness makes both
    strategies agree.
    """
    if strategy not in ("auto", "broadcast", "grid"):
        raise ValueError(f"unknown kNN strategy {strategy!r}")
    pts = points.select(point_key, lon_col, lat_col)
    probe = None
    if strategy != "broadcast" and (n_points is None or n_targets is None):
        probe = _knn_probe(pts, targets, t_lon, t_lat)
        n_points = probe["n_p"] if n_points is None else n_points
        n_targets = probe["n_t"] if n_targets is None else n_targets
    plan = strategy if strategy == "broadcast" else _knn_auto_strategy(
        n_points, n_targets, broadcast_threshold if strategy == "auto" else -1, grid_threshold
    )
    if plan == "broadcast":
        return _knn_broadcast(pts, targets, k, target_key, lon_col, lat_col, t_lon, t_lat)
    escalate = res is not None
    if res is None:
        probe = probe or _knn_probe(pts, targets, t_lon, t_lat)
        res = _knn_grid_res(probe["n_t"], probe["x0"], probe["x1"], probe["y0"], probe["y1"])
    return _knn_grid(
        pts, targets, k, point_key, target_key, lon_col, lat_col, t_lon, t_lat,
        res=res, replicate_points=plan == "grid_points", escalate=escalate,
    )


# ---------------------------------------------------------------------------
# J9 — raster-tile → vector assignment of the image table
# ---------------------------------------------------------------------------


def geotag_cols(phash: Column) -> tuple[Column, Column]:
    """JVM-side twin of images.geotag_from_phash: the warp is pure
    bit/float arithmetic, so it compiles to codegen Columns — the tile
    assignment path never leaves the JVM. Bit-exact vs the numpy
    version (tested in test_spatial.py): same ops on IEEE doubles.

    phash is signed int64; the numpy version works on its uint64 view,
    so ``>> 32`` here must be an unsigned shift."""
    from .. import images as img

    u1 = (
        F.shiftrightunsigned(phash, 32).bitwiseAND(F.lit(0xFFFFFFFF)).cast("double")
        / F.lit(float(2**32))
    )
    u2 = phash.bitwiseAND(F.lit(0xFFFFFFFF)).cast("double") / F.lit(float(2**32))
    bbox = img.DEFAULT_BBOX
    dense_box = img.DENSE_BOX
    frac = img.DENSE_FRAC
    dense = u1 < F.lit(frac)
    u1d = F.when(dense, u1 / F.lit(frac)).otherwise(
        (u1 - F.lit(frac)) / F.lit(1.0 - frac)
    )
    lon = F.when(
        dense, F.lit(dense_box[0]) + u1d * F.lit(dense_box[2] - dense_box[0])
    ).otherwise(F.lit(bbox[0]) + u1d * F.lit(bbox[2] - bbox[0]))
    lat = F.when(
        dense, F.lit(dense_box[1]) + u2 * F.lit(dense_box[3] - dense_box[1])
    ).otherwise(F.lit(bbox[1]) + u2 * F.lit(bbox[3] - bbox[1]))
    return lon, lat


def image_geotags(images: DataFrame, keep_bytes: bool = False, use_udf: bool = False) -> DataFrame:
    """phash → (lon, lat) via the deterministic warp
    (images.geotag_from_phash), Arrow-batched.

    Drops the ``bytes`` payload by default: carrying ~KB binaries
    through the downstream spatial shuffles costs ~6× (measured at
    400k images); join back on image_id when pixels are needed.

    Default path is the JVM geotag (geotag_cols); ``use_udf=True``
    exercises the Arrow/pandas variant (kept for parity testing and as
    the template for warps that genuinely need Python)."""
    src = images if (keep_bytes or "bytes" not in images.columns) else images.drop("bytes")
    if not use_udf:
        lon, lat = geotag_cols(F.col("phash"))
        return src.select("*", lon.alias("lon"), lat.alias("lat"))

    from .. import images as img

    @F.pandas_udf("lon double, lat double")
    def tag(phash: pd.Series) -> pd.DataFrame:
        lon, lat = img.geotag_from_phash(phash.to_numpy())
        return pd.DataFrame({"lon": lon, "lat": lat})

    return src.withColumn("_g", tag(F.col("phash"))).select(
        "*", F.col("_g.lon").alias("lon"), F.col("_g.lat").alias("lat")
    ).drop("_g")


def assign_images_to_tiles(images: DataFrame, res: int) -> DataFrame:
    """J9a — tile id per image: geotag (pandas UDF) + JVM-side cell
    encode. The tile id IS the cell id at ``res``."""
    tagged = image_geotags(images)
    return tagged.withColumn("tile", cells.cell_col(F.col("lat"), F.col("lon"), res))


def assign_images_to_polygons(
    images: DataFrame, polygons: DataFrame, res: int, poly_col: str = "polygon"
) -> DataFrame:
    """J9b — image → containing vector polygon (route buffer etc.):
    J7 at image scale, caption carried through untouched (caption
    equality invariant, BASELINE.json)."""
    tagged = assign_images_to_tiles(images, res)
    return point_in_polygon_join(tagged, polygons, res)

