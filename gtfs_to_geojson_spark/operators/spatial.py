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
# J8 — kNN join via ring expansion + window top-k
# ---------------------------------------------------------------------------


# targets at or below this count take the broadcast-local strategy:
# 100k targets ≈ 2.4 MB of (id, lon, lat) — well under any sane
# broadcast budget, and the per-batch distance matrix stays bounded by
# the chunking inside the kernel.
KNN_BROADCAST_MAX_TARGETS = 100_000

# ... but only while the total matmul work is modest: the broadcast
# kernel's per-point cost scales with n_targets (every point is dotted
# against the whole broadcast side), so its viability tracks the
# PRODUCT n_points × n_targets, not either count alone. Measured
# (BENCH/KNN_REGIMES.md + the r2/r3 scaling runs at 4.8M points ×
# 1k targets): broadcast wins 1.4× at product 3.0e10 (600k × 50k),
# wins 4-6× at 4.8e9 (4.8M × 1k — an absolute 1M-point cap first
# tried in r3 wrongly routed this cell to grid, 26.4 s vs 6.0 s),
# loses 4× at 1.2e11 (600k × 200k) and 2× at 3.0e11 (6M × 50k).
# Log-linear crossover of the measured ratios ≈ 4e10.
KNN_BROADCAST_MAX_PRODUCT = 40_000_000_000

# grid-vs-ring is a RATIO decision, not an absolute target count: ring
# wins only when targets are dense relative to points (the ring search
# then resolves in one cheap round while grid pays ×9 target
# replication).  Measured (BENCH/KNN_REGIMES.md, both density rows):
# at 600k points ring wins 3× at 4M targets (ratio 6.7) and ties at 1M
# (ratio 1.7); at 6M points grid wins EVERY cell up to 4M targets
# (ratio 0.67) — the r2 absolute 2M threshold was an artifact of the
# single 600k-point calibration.  Auto picks grid when
# n_targets <= max(KNN_GRID_MAX_TARGETS, ratio * n_points).
KNN_GRID_TARGET_RATIO = 2.0

# absolute floor of the grid regime — the r2 calibration at <=600k
# points (grid wins 3.4× at 200k targets, ties at 1M, loses 3× at 4M);
# kept so small point sides against mid-size target sides still take
# the measured winner.
KNN_GRID_MAX_TARGETS = 2_000_000

# cap on the point-side limit-probe used by the ratio decision: counts
# are compared, never fully materialized, so auto never runs an
# unbounded count() over a 100-TB point table.
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

    Exact, deterministic tie-break on (distance, target_id) — full
    lexsort per row, so boundary ties at the k-th slot are ordered by
    id just like the window in the ring path."""
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
    trlat, trlon = np.radians(tlat), np.radians(tlon)
    T3 = np.stack(
        [np.cos(trlat) * np.cos(trlon), np.cos(trlat) * np.sin(trlon), np.sin(trlat)],
        axis=1,
    )
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
            prlat, prlon = np.radians(plat), np.radians(plon)
            P3 = np.stack(
                [
                    np.cos(prlat) * np.cos(prlon),
                    np.cos(prlat) * np.sin(prlon),
                    np.sin(prlat),
                ],
                axis=1,
            )
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
    res: int | None = None,
    targets_per_cell: int = 512,
    max_points_per_task: int = 50_000,
) -> DataFrame:
    """Grid-cogroup kNN — the mid-regime strategy (targets too big to
    broadcast, small enough to replicate ×9 across neighbor cells).

    Plan shape: points shuffle ONCE to their density-derived grid cell;
    targets replicate to their 3×3 cell neighborhood (×9 rows — the
    only data amplification); a cogrouped Arrow kernel computes exact
    top-k per point with the same chord-dot BLAS matmul as the
    broadcast kernel — no per-candidate row explosion and no window
    sort over candidates, which is what makes the ring path's rounds
    expensive. A point is resolved when its k-th neighbor distance is
    within the ring-1 guarantee (1 × min cell extent at its latitude:
    everything unsearched is at least one full cell away); unresolved
    points (sparse neighborhoods) are emitted with a null target and
    escalated by the caller to the ring path.

    Skew: a dense-metro point cell would make one cogroup task hot, and
    AQE cannot split grouped-map groups — so a cell holding more than
    ``max_points_per_task`` points is salted (``skew``): its points
    split into ceil(n/max_points_per_task) lanes and its TARGET side
    fans out to every lane. Exactness is unaffected: every point sees
    its full 3×3 target set in exactly one lane.
    """
    t_stats = targets.agg(
        F.min(t_lon), F.max(t_lon), F.min(t_lat), F.max(t_lat), F.count(F.lit(1))
    ).first()
    n_targets = t_stats[4] or 0
    if res is None:
        import math

        # density-derived: one occupied cell holds ~targets_per_cell
        # targets, so the 3×3 kernel sees ~9·targets_per_cell candidates
        # — enough that the k-th distance is far inside the guarantee.
        if n_targets:
            span_x = max(float(t_stats[1] - t_stats[0]), 1e-9)
            span_y = max(float(t_stats[3] - t_stats[2]), 1e-9)
            n_side = math.sqrt(
                max(1.0, (n_targets / targets_per_cell) * (360.0 * 180.0) / (span_x * span_y))
            )
            res = min(24, max(4, math.ceil(math.log2(max(2.0, n_side)))))
        else:
            res = 8
    n = 1 << res
    cell_h_m = 180.0 / n * geom.EARTH_M_PER_DEG_LAT
    mask = (1 << 29) - 1
    res_term = F.lit(res).cast("long") * F.lit(1 << 58).cast("long")

    p = points.select(
        point_key, lon_col, lat_col,
        cells.cell_col(F.col(lat_col), F.col(lon_col), res).alias("_cell"),
    )
    t0 = targets.select(
        target_key, t_lon, t_lat,
        cells.cell_col(F.col(t_lat), F.col(t_lon), res).alias("_tc"),
    )
    tx = F.shiftright(F.col("_tc"), 29).bitwiseAND(F.lit(mask))
    ty = F.col("_tc").bitwiseAND(F.lit(mask))
    # x WRAPS modulo n (ADVICE r2: clamping left points in the first/
    # last column blind to metrically-adjacent targets across the
    # antimeridian, falsely "resolving" them); y clamps (no wrap over
    # poles). array_distinct guards the degenerate n<3 wrap collision.
    cells9 = F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(tx - 1, tx + 1),
                lambda x: F.transform(
                    F.sequence(F.greatest(ty - 1, F.lit(0)), F.least(ty + 1, F.lit(n - 1))),
                    lambda y: res_term
                    + F.pmod(x, F.lit(n)).cast("long") * F.lit(1 << 29).cast("long")
                    + y,
                ),
            )
        )
    )
    t_rep = t0.withColumn("_cell", F.explode(cells9)).drop("_tc")

    hot = skew.hot_keys(p, "_cell", max_points_per_task)
    p2 = skew.salt(p, hot, "_cell", point_key)
    t2 = skew.fan_out(t_rep, hot, "_cell")

    tgt_field = T.StructField(
        target_key, targets.schema[target_key].dataType, True
    )
    schema = T.StructType(
        [
            T.StructField(point_key, p.schema[point_key].dataType, False),
            T.StructField(lon_col, T.DoubleType()),
            T.StructField(lat_col, T.DoubleType()),
            tgt_field,
            T.StructField(t_lon, T.DoubleType()),
            T.StructField(t_lat, T.DoubleType()),
            T.StructField("_dist_m", T.DoubleType()),
        ]
    )

    kk = k
    guar_scale = float(cell_h_m) * 0.999
    cell_h_deg = 180.0 / n

    def kernel(key, pts_pdf: pd.DataFrame, tgt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pts_pdf) == 0:
            return pd.DataFrame({f.name: [] for f in schema.fields})
        pid = pts_pdf[point_key].to_numpy()
        plon = pts_pdf[lon_col].to_numpy(dtype=np.float64)
        plat = pts_pdf[lat_col].to_numpy(dtype=np.float64)
        n_p = len(pid)
        unresolved = pd.DataFrame(
            {
                point_key: pid,
                lon_col: plon,
                lat_col: plat,
                target_key: pd.array([None] * n_p, dtype=object),
                t_lon: np.nan,
                t_lat: np.nan,
                "_dist_m": np.nan,
            }
        )
        if len(tgt_pdf) < k:
            return unresolved
        tid = tgt_pdf[target_key].to_numpy()
        tlon = tgt_pdf[t_lon].to_numpy(dtype=np.float64)
        tlat = tgt_pdf[t_lat].to_numpy(dtype=np.float64)
        trlat, trlon = np.radians(tlat), np.radians(tlon)
        T3 = np.stack(
            [np.cos(trlat) * np.cos(trlon), np.cos(trlat) * np.sin(trlon), np.sin(trlat)],
            axis=1,
        )
        prlat, prlon = np.radians(plat), np.radians(plon)
        P3 = np.stack(
            [np.cos(prlat) * np.cos(prlon), np.cos(prlat) * np.sin(prlon), np.sin(prlat)],
            axis=1,
        )
        outs = []
        chunk = max(1, 4_000_000 // max(len(tid), 1))
        for s in range(0, n_p, chunk):
            e = min(n_p, s + chunk)
            dots = P3[s:e] @ T3.T
            # always the explicit (-dot, id) top-k: unlike the broadcast
            # kernel, per-cell target ids arrive UNSORTED, so argmax's
            # first-max shortcut would break the smallest-id tie rule
            j = _topk_by_dots(dots, tid, kk)
            jf = j.ravel()
            rep_lat = np.repeat(plat[s:e], kk)
            rep_lon = np.repeat(plon[s:e], kk)
            dist = geom.haversine_m(rep_lat, rep_lon, tlat[jf], tlon[jf])
            kth = dist.reshape(-1, kk)[:, -1]
            # Guarantee at the WORST reachable latitude (ADVICE r2):
            # the searched 3×3 rows extend up to 2 cell-heights
            # poleward of the point, where cos (and so the metric cell
            # width separating us from unsearched columns) is smaller
            # than at the point's own latitude. Clamped at the pole the
            # bound degrades to 0 → the point escalates to the exact
            # ring fallback instead of resolving wrongly.
            reach = np.minimum(90.0, np.abs(plat[s:e]) + 2.0 * cell_h_deg)
            guar = guar_scale * np.minimum(
                1.0, np.maximum(0.0, 2.0 * np.cos(np.radians(reach)))
            )
            ok = kth <= guar
            okr = np.repeat(ok, kk)
            outs.append(
                pd.DataFrame(
                    {
                        point_key: np.repeat(pid[s:e], kk)[okr],
                        lon_col: rep_lon[okr],
                        lat_col: rep_lat[okr],
                        target_key: tid[jf][okr],
                        t_lon: tlon[jf][okr],
                        t_lat: tlat[jf][okr],
                        "_dist_m": dist[okr],
                    }
                )
            )
            if not ok.all():
                bad = ~ok
                outs.append(unresolved.iloc[s:e][np.asarray(bad)])
        return pd.concat(outs, ignore_index=True)

    grouped = p2.groupBy("_cell", "_salt").cogroup(t2.groupBy("_cell", "_salt"))
    # localCheckpoint: the caller splits resolved/unresolved and counts —
    # without it the cogroup kernel would run once per downstream action
    return grouped.applyInPandas(kernel, schema).localCheckpoint()


def _knn_auto_strategy(
    points: DataFrame,
    targets: DataFrame,
    broadcast_threshold: int = KNN_BROADCAST_MAX_TARGETS,
    grid_threshold: int = KNN_GRID_MAX_TARGETS,
    n_points: int | None = None,
    n_targets: int | None = None,
) -> str:
    """Density-aware physical-strategy choice for knn_join's ``auto``
    mode. Probes EACH side with exactly ONE bounded limit+count — never
    a full count over a 100-TB side, and never a second pass over a
    possibly-expensive upstream plan. The rules and their measured
    crossovers live in the KNN_* constant comments; the two-density
    sweep in BENCH/KNN_REGIMES.md is the evidence.

    The probes DO execute each side's upstream plan once (bounded by
    the limit) before the chosen join executes it again (ADVICE r3) —
    callers with expensive derived inputs should either cache/
    localCheckpoint them first or pass exact/approximate row counts
    via ``n_points``/``n_targets``, which skip the probes entirely
    (counts above the caps are clamped, so a conservative upper bound
    is a safe hint)."""
    n_points_probe = (
        min(n_points, KNN_POINT_PROBE_CAP + 1)
        if n_points is not None
        else points.limit(KNN_POINT_PROBE_CAP + 1).count()
    )
    # One target probe serves both comparisons (broadcast cutoff and
    # the density-ratio grid cutoff). When the point probe caps, the
    # ratio cutoff is clamped to the cap — by then the join itself
    # dwarfs the probe, and ring never materializes targets anyway.
    eff_threshold = max(
        grid_threshold, int(KNN_GRID_TARGET_RATIO * n_points_probe)
    )
    probe_cap = max(broadcast_threshold, eff_threshold)
    n_targets_probe = (
        min(n_targets, probe_cap + 1)
        if n_targets is not None
        else targets.limit(probe_cap + 1).count()
    )
    if (
        n_targets_probe <= broadcast_threshold
        # a saturated point probe means the true product is UNKNOWN
        # beyond >= (cap+1) x targets — never commit an unbounded
        # matmul to broadcast on a lower bound (review r3: the capped
        # count silently passed the product test for any >=50M-point
        # side with <=800 targets); grid won every huge-point sweep
        # cell, so it is the safe fall-through
        and n_points_probe <= KNN_POINT_PROBE_CAP
        and n_points_probe * n_targets_probe <= KNN_BROADCAST_MAX_PRODUCT
    ):
        return "broadcast"
    if n_targets_probe <= eff_threshold:
        return "grid"  # includes tiny-targets/huge-points: grid beats broadcast
    return "ring"


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
    max_rounds: int = 6,
    strategy: str = "auto",
    broadcast_threshold: int = KNN_BROADCAST_MAX_TARGETS,
    grid_threshold: int = KNN_GRID_MAX_TARGETS,
    n_points: int | None = None,
    n_targets: int | None = None,
) -> DataFrame:
    """J8 — k nearest targets per point, exact.

    Physical strategy selection (like Catalyst's broadcast-vs-shuffle
    join choice), three tiers probed with cheap bounded limit+counts on
    BOTH sides under ``strategy='auto'`` (density-aware since r3 — the
    two-density sweep in BENCH/KNN_REGIMES.md is the evidence; the
    probes re-execute expensive derived inputs once — cache them or
    pass ``n_points``/``n_targets`` hints to skip the probes):

    * ``broadcast`` (≤ 100k targets AND points × targets ≤ 4e10):
      target side shipped whole, one shuffle-free map pass over the
      points (_knn_broadcast); its per-point cost scales with the
      target count, so viability tracks the matmul PRODUCT — tiny
      target sides broadcast even against multi-million-point sides;
    * ``grid`` (targets ≤ max(2M, 2 × points)): points co-partitioned
      with ×9-replicated targets by density-derived cell, local
      chord-matmul top-k per cogroup, ring-1 guarantee, stragglers
      escalate to ring (_knn_grid);
    * ``ring`` (targets dense relative to points): the distributed
      ring-expansion search below, which never materializes the target
      side anywhere and resolves in ~one round when every point cell
      is saturated with targets.

    Ring-expansion candidate search: round r joins each unresolved
    point's cell k-ring (radius 2^r − 1 cells, built with a JVM-side
    sequence cross — no UDF) against target cells. A point is resolved
    once its k-th candidate distance is ≤ the ring's guarantee radius
    (ring_cells · cell_min_extent_m) — no closer target can live
    outside the searched ring. Stragglers (sparse regions) escalate;
    the final round is an exact brute-force for whatever remains
    (empty-ring escalation, SURVEY.md §7 hard part 3).

    Distances: haversine meters (functions.geo.haversine_m, JVM-side).
    Deterministic tie-break on (distance, target_id). ``res=None``
    lets the ring path derive the grid resolution from the target
    side's measured density (one cell ≈ k targets).

    Contract: ``point_key`` must be unique per input row (kNN is a
    keyed join — k output rows per point). With duplicate keys the
    ring path's per-key window would collapse duplicates while the
    broadcast path emits per input row; uniqueness makes every
    strategy agree.
    """
    if strategy not in ("auto", "broadcast", "grid", "ring"):
        raise ValueError(f"unknown kNN strategy {strategy!r}")
    if strategy == "auto":
        strategy = _knn_auto_strategy(
            points, targets, broadcast_threshold, grid_threshold,
            n_points=n_points, n_targets=n_targets,
        )
    if strategy == "broadcast":
        return _knn_broadcast(
            points.select(point_key, lon_col, lat_col),
            targets,
            k,
            target_key,
            lon_col,
            lat_col,
            t_lon,
            t_lat,
        )
    if strategy == "grid":
        grid_out = _knn_grid(
            points.select(point_key, lon_col, lat_col),
            targets, k, point_key, target_key, lon_col, lat_col, t_lon, t_lat,
            res=res,
        )
        resolved = grid_out.filter(F.col(target_key).isNotNull())
        unres = grid_out.filter(F.col(target_key).isNull()).select(
            point_key, lon_col, lat_col
        )
        if unres.limit(1).isEmpty():
            return resolved
        # sparse-neighborhood stragglers escalate to the ring search,
        # which carries its own guarantee + brute-force tail
        fb = knn_join(
            unres, targets, None, k, point_key, target_key,
            lon_col, lat_col, t_lon, t_lat, max_rounds, strategy="ring",
        )
        return resolved.unionByName(fb.select(*resolved.columns))

    from ..functions.geo import haversine_m

    # One cheap agg over the target side drives BOTH adaptive knobs
    # below (auto resolution + initial ring).
    t_stats = targets.agg(
        F.min(t_lon), F.max(t_lon), F.min(t_lat), F.max(t_lat), F.count(F.lit(1))
    ).first()
    n_targets = t_stats[4] or 0

    if res is None:
        # Density-adaptive resolution: pick the grid where an occupied
        # cell holds ~k targets, so a ring-1 probe sees ~9k candidates —
        # enough to resolve most points in one round without drowning
        # the join in candidates. A fixed res that's too coarse for a
        # dense target side costs 100×+ in candidate rows (measured:
        # 200k targets at res 16 → ~1.1k candidates/point).
        import math

        if n_targets:
            span_x = max(float(t_stats[1] - t_stats[0]), 1e-9)
            span_y = max(float(t_stats[3] - t_stats[2]), 1e-9)
            n_side = math.sqrt(
                max(1.0, (n_targets / max(1, k)) * (360.0 * 180.0) / (span_x * span_y))
            )
            res = min(24, max(6, math.ceil(math.log2(max(2.0, n_side)))))
        else:
            res = 12

    n = 1 << res
    # conservative per-cell metric extents at the point's latitude
    cell_h_m = 180.0 / n * geom.EARTH_M_PER_DEG_LAT

    t = targets.select(
        F.col(target_key),
        F.col(t_lon),
        F.col(t_lat),
        cells.cell_col(F.col(t_lat), F.col(t_lon), res).alias("_tcell"),
    )
    p0 = points.select(
        F.col(point_key),
        F.col(lon_col),
        F.col(lat_col),
        cells.cell_col(F.col(lat_col), F.col(lon_col), res).alias("_pcell"),
    )

    from pyspark.sql import Window

    # Eager localCheckpoint, not persist(): each round's working set is
    # materialized as RDD blocks with TRUNCATED lineage. The persist()
    # formulation routed every round through AQE TableCacheQueryStage,
    # whose cache-materialization interleaves with broadcast builds and
    # (observed, local mode under concurrent stages) fails the
    # broadcast's execution-memory acquisition — "Not enough memory to
    # build and broadcast" with 99% of the heap free. Checkpointed
    # rounds also stop the plan from growing round-over-round.
    unresolved = p0.localCheckpoint()
    n_unresolved = unresolved.count()
    results: list[DataFrame] = []

    # Density-adaptive initial ring: starting at ring 1 when targets
    # are sparse burns 2-3 full join+window rounds before the
    # guarantee radius reaches the typical NN distance. Using the same
    # target stats, pick the smallest ring with (2r+1)^2 * d >= 8k so
    # the k-th candidate is well inside the guarantee radius for most
    # points. Exactness is unaffected — the ring only seeds the
    # escalation loop.
    ring = 1
    if n_targets:
        cell_w_deg = 360.0 / n   # n x n grid: columns span 360/n degrees
        cell_h_deg = 180.0 / n
        span_x = max(float(t_stats[1] - t_stats[0]), cell_w_deg)
        span_y = max(float(t_stats[3] - t_stats[2]), cell_h_deg)
        occ_cells = max(1.0, (span_x / cell_w_deg) * (span_y / cell_h_deg))
        d = n_targets / occ_cells
        import math

        ring = max(1, math.ceil((math.sqrt(8.0 * k / d) - 1.0) / 2.0))
        # never start wider than the occupied region itself
        ring = min(ring, max(1, int(math.sqrt(occ_cells))))

    for round_i in range(max_rounds):
        if n_unresolved == 0:
            break
        # Per-point candidate-cell budget: a sparse target side (small
        # k/d ratio) can derive a ring hundreds of cells wide, and the
        # ×4 escalation then asks for multi-million-element cell arrays
        # per point — at which point materializing the fan-out costs
        # more than the exact brute-force tail below (and auto-selection
        # only routes here for DENSE target sides, where rings stay
        # single-digit; a huge ring means a forced strategy or a
        # pathological density, both better served by the tail).
        ring_x = min(ring, n // 2)   # wrap covers every column at n//2
        ring_y = min(ring, n - 1)    # y clamps at the poles
        if (2 * ring_x + 1) * (2 * ring_y + 1) > 16384:
            break
        # candidate cells: square k-ring of radius `ring` (JVM sequence cross)
        px = F.shiftright(F.col("_pcell"), 29).bitwiseAND(F.lit((1 << 29) - 1))
        py = F.col("_pcell").bitwiseAND(F.lit((1 << 29) - 1))
        res_term = F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
        # x wraps modulo n (antimeridian adjacency — ADVICE r2), y
        # clamps; array_distinct collapses the wrap overlap when
        # 2·ring+1 > n so the candidate set never exceeds the grid.
        cand_cells = F.array_distinct(
            F.flatten(
                F.transform(
                    F.sequence(px - ring_x, px + ring_x),
                    lambda x: F.transform(
                        F.sequence(F.greatest(py - ring_y, F.lit(0)), F.least(py + ring_y, F.lit(n - 1))),
                        lambda y: res_term
                        + F.pmod(x, F.lit(n)).cast("long") * F.lit(1 << 29).cast("long")
                        + y,
                    ),
                )
            )
        )
        probe = unresolved.withColumn("_tcell", F.explode(cand_cells))
        # shuffle_hash hint on the target side: this path exists for
        # target tables too big to materialize on one node, so letting
        # the local planner broadcast t whenever it LOOKS small would be
        # the wrong plan at scale — and empirically the driver-side
        # build of a ~150k-row broadcast OOMs under concurrent AQE
        # stages (Spark 4.1 local mode). Cell-equi shuffle join keeps
        # both sides distributed, skew handled by AQE.
        cand = probe.join(t.hint("shuffle_hash"), "_tcell").withColumn(
            "_dist_m", haversine_m(F.col(lat_col), F.col(lon_col), F.col(t_lat), F.col(t_lon))
        )
        w = Window.partitionBy(point_key).orderBy(F.asc("_dist_m"), F.asc(target_key))
        topk = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .drop("_tcell")
        )
        # guarantee: the k-th neighbor must be closer than any unsearched
        # cell can be. Vertical: unsearched rows are ≥ ring_y·cell_h away
        # (meridian distance, latitude-free). Horizontal: unsearched
        # columns are ≥ ring_x·cell_w away, with cell_w = 2·cell_h·cos
        # evaluated at the WORST latitude reachable by searched rows —
        # (ring_y+1) cell-heights poleward of the point (ADVICE r2: the
        # point's own cos overstates the bound near poles; clamped at
        # the pole it degrades to 0 and the point keeps escalating,
        # ending in the exact brute-force tail). When the wrap already
        # covers every column there are no unsearched columns, and when
        # the whole grid is searched the top-k is exact by construction.
        x_cover_all = (2 * ring_x + 1) >= n
        y_cover_all = ring_y >= n - 1
        vert_m = F.lit(float(ring_y * cell_h_m))
        if x_cover_all:
            guarantee_m = vert_m * F.lit(0.999)
        else:
            reach_deg = F.least(
                F.lit(90.0),
                F.abs(F.col(lat_col)) + F.lit(float((ring_y + 1) * 180.0 / n)),
            )
            horiz_m = F.lit(float(ring_x * 2 * cell_h_m)) * F.greatest(
                F.lit(0.0), F.cos(F.radians(reach_deg))
            )
            guarantee_m = F.least(vert_m, horiz_m) * F.lit(0.999)
        has_k = F.count(F.lit(1)).over(Window.partitionBy(point_key)) >= k
        if x_cover_all and y_cover_all:
            guarantee = has_k
        else:
            guarantee = (
                F.max(F.col("_dist_m")).over(Window.partitionBy(point_key))
                <= guarantee_m
            ) & has_k
        resolved = (
            topk.withColumn("_ok", guarantee)
            .filter(F.col("_ok"))
            .drop("_ok", "_rn")
            .localCheckpoint()
        )
        results.append(resolved)
        done_keys = resolved.select(point_key).distinct()
        unresolved = unresolved.join(done_keys, point_key, "left_anti").localCheckpoint()
        n_unresolved = unresolved.count()
        ring *= 4  # 1 → 4 → 16 cells: three density regimes, then brute force

    if n_unresolved > 0:
        # exact brute-force for stragglers — rare, bounded; broadcast
        # the STRAGGLER side (small by construction), never the targets
        cand = F.broadcast(unresolved.drop("_pcell")).crossJoin(t.drop("_tcell")).withColumn(
            "_dist_m", haversine_m(F.col(lat_col), F.col(lon_col), F.col(t_lat), F.col(t_lon))
        )
        w = Window.partitionBy(point_key).orderBy(F.asc("_dist_m"), F.asc(target_key))
        results.append(
            cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")
        )

    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r.drop("_pcell"), allowMissingColumns=True)
    # intermediate checkpoint blocks are released when their RDDs are
    # garbage-collected; the returned frame carries only its own blocks
    return out.drop("_pcell").localCheckpoint()


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

