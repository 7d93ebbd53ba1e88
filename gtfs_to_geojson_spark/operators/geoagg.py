"""Distributed geometry aggregations A1–A3 + G2/G3 kernels.

* A1 envelope  — pure DataFrame min/max (map-side partial agg, no UDF)
* A2 convex    — two-phase mergeable hull: per-batch partial
  (mapInPandas, shrinks each batch to ≤ its hull) → one tiny final
  merge per group. Associativity proven in geometry.convex_hull.
* G3 buffers   — stop buffers are a pure Column expression (n-gon with
  cos(lat) lon-scaling — stays in codegen); line buffers are per-route
  capsule kernels (grouped map).
* A3 dissolve  — per-cell polygon union (grouped map) + final merge of
  the per-cell results (grouped map per key); single-feature short-circuit and
  union-failure fallback both mirror the reference
  (src/lib/geojson-utils.ts:159-170).
* G2 simplify  — RDP in an Arrow-batched pandas UDF; skips MultiPolygon
  and is skipped entirely when precision is unset
  (geojson-utils.ts:119-147).

The aggregations take ``keys``: columns the result is grouped by (the
pipeline's ``GROUP``). No keys aggregates the whole input as one group.
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
# A1 envelope
# ---------------------------------------------------------------------------


def envelope_bounds(points: DataFrame, lon_col: str = "lon", lat_col: str = "lat", keys=()) -> DataFrame:
    """Bbox of point rows — one map-side partial agg. Returns keys +
    (min_lon, min_lat, max_lon, max_lat): one row per key, or one row
    without keys."""
    return points.groupBy(*keys).agg(
        F.min(lon_col).alias("min_lon"),
        F.min(lat_col).alias("min_lat"),
        F.max(lon_col).alias("max_lon"),
        F.max(lat_col).alias("max_lat"),
    )


def bbox_polygon_col(min_lon, min_lat, max_lon, max_lat):
    """G4 — 5-point closed rectangle ring as a Column (turf bboxPolygon
    corner order, reference formats/envelope.ts:14)."""
    def pt(x, y):
        return F.array(x, y)

    return F.array(
        F.array(
            pt(min_lon, min_lat), pt(max_lon, min_lat), pt(max_lon, max_lat),
            pt(min_lon, max_lat), pt(min_lon, min_lat),
        )
    )


# ---------------------------------------------------------------------------
# A2 convex hull (partial + final)
# ---------------------------------------------------------------------------


def convex_hulls(
    points: DataFrame, lon_col: str = "stop_lon", lat_col: str = "stop_lat", keys=()
) -> DataFrame:
    """Distributed convex hull per key: partial hull per Arrow batch
    and key (mapInPandas — output ≤ hull of the batch), final merge over
    each key's partials (grouped map). Returns keys + ``ring``, the
    closed CCW ring; a key with <3 distinct points gets no row
    (reference warns + emits nothing, formats/convex.ts:13-22)."""
    keys = list(keys)
    key_types = _ddl(points, keys)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for key, part in pdf.groupby(keys, sort=False) if keys else [((), pdf)]:
                pts = np.column_stack([part[lon_col].to_numpy(), part[lat_col].to_numpy()])
                hull = geom.convex_hull(pts)
                keep = pts if hull is None else hull[:-1]
                out = pd.DataFrame({lon_col: keep[:, 0], lat_col: keep[:, 1]})
                for k, v in zip(keys, key):
                    out[k] = v
                yield out

    def final(key, pdf: pd.DataFrame) -> pd.DataFrame:
        hull = geom.convex_hull(np.column_stack([pdf[lon_col].to_numpy(), pdf[lat_col].to_numpy()]))
        rings = [] if hull is None else [hull.tolist()]
        return pd.DataFrame(
            {**{k: [v] * len(rings) for k, v in zip(keys, key)}, "ring": pd.Series(rings, dtype=object)}
        )

    coords = f"{lon_col} double, {lat_col} double"
    partials = points.select(*keys, lon_col, lat_col).dropna().mapInPandas(
        partial, schema=", ".join(filter(None, [key_types, coords]))
    )
    return partials.groupBy(*keys).applyInPandas(
        final, ", ".join(filter(None, [key_types, "ring array<array<double>>"]))
    )


def convex_hull_agg(points: DataFrame, lon_col: str = "stop_lon", lat_col: str = "stop_lat") -> list[list[float]] | None:
    """The hull of all points as plain lists (the one-group case of
    :func:`convex_hulls`), or None for <3 distinct points."""
    rows = convex_hulls(points, lon_col, lat_col).collect()
    return [[float(x), float(y)] for x, y in rows[0]["ring"]] if rows else None


# ---------------------------------------------------------------------------
# G3 stop buffers — pure Column n-gon (no Python in the row path)
# ---------------------------------------------------------------------------


def stop_buffer_ring_col(lat_col, lon_col, meters: float, steps: int = 32):
    """Closed n-gon ring around each (lat, lon) as a Column expression:
    coordinates nest as array<array<double>> (one GeoJSON Polygon ring).
    Longitude radius scaled by cos(lat) — same local-frame model as
    geometry.buffer_point, so tests can cross-check exactly."""
    angles = [2.0 * math.pi * i / steps for i in range(steps)] + [0.0]
    m_per_deg = geom.EARTH_M_PER_DEG_LAT
    sx = F.greatest(F.cos(F.radians(lat_col)), F.lit(1e-9)) * F.lit(m_per_deg)
    pts = [
        F.array(
            lon_col + F.lit(meters * math.cos(a)) / sx,
            lat_col + F.lit(meters * math.sin(a) / m_per_deg),
        )
        for a in angles
    ]
    return F.array(*pts)


# ---------------------------------------------------------------------------
# G3 line buffers (grouped map — per-feature capsule union)
# ---------------------------------------------------------------------------

_POLY = T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType())))


def line_buffer_polygons(lines: DataFrame, meters: float, key_cols: list[str]) -> DataFrame:
    """Per input LineString row → one Polygon (outer ring[s]) buffering
    the line: capsules per segment unioned per feature; on union
    failure, falls back to the convex hull of the capsule vertices
    (still contains the line — the golden contract for lines-buffer,
    FIXTURES.md §3). Arrow-batched mapInPandas; numpy inside."""
    in_cols = key_cols + ["coordinates"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rings = []
            for coords in pdf["coordinates"]:
                arr = np.asarray([[c[0], c[1]] for c in coords], dtype=np.float64)
                caps = geom.buffer_line(arr, meters)
                rings, ok = geom.union_or_parts(caps)
                if not ok or len([r for r in rings if geom.signed_area(r) > 0]) > 1:
                    hull = geom.convex_hull(np.vstack([r[:-1] for r in caps]))
                    rings = [hull] if hull is not None else [caps[0]]
                poly = [r.tolist() for r in rings]
                out_rings.append(poly)
            res = pdf[key_cols].copy()
            res["polygon"] = out_rings
            yield res

    schema = f"{_ddl(lines, key_cols)}, polygon array<array<array<double>>>"
    return lines.select(*in_cols).mapInPandas(kernel, schema)


def _ddl(df: DataFrame, cols) -> str:
    """``"c1 type1, c2 type2"`` for columns of ``df`` (one schema fetch)."""
    types = dict(df.dtypes)
    return ", ".join(f"{c} {types[c]}" for c in cols)


# ---------------------------------------------------------------------------
# A3 dissolve — per-cell union + final merge
# ---------------------------------------------------------------------------


def dissolve_polygons(
    polys: DataFrame,
    poly_col: str = "polygon",
    cell_res: int | None = None,
    salt_target_rows: int | None = 5000,
    keys=(),
) -> DataFrame:
    """Union the Polygon rows of each key into MultiPolygon parts.
    Returns keys + ``poly_col``, one row per output Polygon (outer ring
    CCW first, its holes after); no keys unions the whole input.

    Scale path (SURVEY.md A3): group rings by the grid cell of their
    first ring's centroid at a resolution where cells ≫ polygon size,
    union each (key, cell)'s rings in a grouped-map kernel (map-side
    shrink), then merge each key's cell results in a second grouped
    map. Mirrors the reference's two behaviors: single-feature
    short-circuit (geojson-utils.ts:160-162) and fallback-to-parts on
    union failure (:135-146). Kernels sort their input, so the parts
    do not depend on row order.

    One action runs here: a per-key count and bbox in one aggregation,
    which picks each key's cell resolution (unless ``cell_res`` is
    given); the returned plan evaluates the input a second time. When
    some key
    holds more than ``salt_target_rows`` polygons, a cell histogram
    follows, and a hot cell's union runs as salted partials first (per
    (key, cell, salt)) before the per-cell merge — grouped-map skew
    handling; None disables. Union associativity keeps the result exact.
    """
    keys = list(keys)
    key_types = [_ddl(polys, keys)] if keys else []
    poly_t = f"{poly_col} array<array<array<double>>>"

    def ring0(init: str, fn: str, i: int):
        return F.expr(f"aggregate({poly_col}[0], cast({init} as double), (a, c) -> {fn}(a, c[{i}]))")

    stats = polys.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(ring0("180.0", "least", 0)).alias("mnx"),
        F.max(ring0("-180.0", "greatest", 0)).alias("mxx"),
        F.min(ring0("90.0", "least", 1)).alias("mny"),
        F.max(ring0("-90.0", "greatest", 1)).alias("mxy"),
    ).collect()
    stats = [r for r in stats if r.n]  # no keys: one row, even for no input
    if not stats:
        return polys.select(*keys, poly_col).limit(0)

    # centroid-of-first-ring cell assignment (JVM-side), at a
    # resolution picked from each key's bbox so one cell covers many
    # buffers (few groups, the final merge handles borders)
    cx = F.expr(f"aggregate({poly_col}[0], cast(0.0 as double), (a, c) -> a + c[0]) / size({poly_col}[0])")
    cy = F.expr(f"aggregate({poly_col}[0], cast(0.0 as double), (a, c) -> a + c[1]) / size({poly_col}[0])")
    res_of = {
        tuple(r[k] for k in keys): cell_res if cell_res is not None
        else cells.cover_res_for_bbox(r.mnx, r.mny, r.mxx, r.mxy, target_cells=16)
        for r in stats
    }
    if len(set(res_of.values())) == 1:
        cell = cells.cell_col(cy, cx, next(iter(res_of.values())))
    else:
        res_table = polys.sparkSession.createDataFrame(
            [(*k, v) for k, v in res_of.items()], ", ".join([*key_types, "_res int"])
        )
        polys = polys.join(F.broadcast(res_table), keys)
        cell = None
        for res in sorted(set(res_of.values())):
            c = cells.cell_col(cy, cx, res)
            cell = F.when(F.col("_res") == res, c) if cell is None else cell.when(F.col("_res") == res, c)
    with_cell = polys.select(*keys, poly_col, cell.alias("cell"))

    def _union_pdf(pdf: pd.DataFrame) -> list:
        rings: list[np.ndarray] = []
        for poly in sorted(pdf[poly_col], key=_poly_order):
            rings.extend(_ring_array(ring) for ring in poly)
        # pre-union simplify (reference v2.0.4: shrink before union)
        rings = [geom.simplify_ring(r, 1e-7) for r in rings]
        merged: list[np.ndarray] = []
        for comp in geom.connected_components(rings):
            part, _ok = geom.union_or_parts([rings[i] for i in comp])
            merged.extend(part)
        return [r.tolist() for r in merged]

    def cell_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({**{k: [v] for k, v in zip(keys, key)}, "cell": [key[len(keys)]],
                             poly_col: [_union_pdf(pdf)]})

    def merge_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        outs, holes = _merge_parts(sorted(pdf[poly_col], key=_poly_order))
        return pd.DataFrame({**{k: [v] for k, v in zip(keys, key)}, "cell": [key[len(keys)]],
                             poly_col: [[r.tolist() for r in outs + holes]]})

    cell_schema = ", ".join([*key_types, "cell long", poly_t])
    # grouped-map skew (SURVEY §7 hard part 4): the union kernel is
    # superlinear in rings-per-group, so one mega-city cell dominates
    # the stage. When any cell exceeds the salt target, partial unions
    # run per (key, cell, salt) first — union is associative, so salted
    # partials + per-cell merge + final merge is exact.
    cell_groups, kernel = with_cell.groupBy(*keys, "cell"), cell_kernel
    if salt_target_rows is not None and max(r.n for r in stats) > salt_target_rows:
        # one struct key, so that null key values still join
        kcell = with_cell.withColumn("_kcell", F.struct(*keys, "cell"))
        hot = skew.hot_keys(kcell, "_kcell", salt_target_rows)
        if hot.limit(1).count():
            salted = skew.salt(kcell.withColumn("_rid", F.monotonically_increasing_id()), hot, "_kcell", "_rid")
            cell_groups = (
                salted.groupBy(*keys, "cell", "_salt").applyInPandas(cell_kernel, cell_schema)
                .groupBy(*keys, "cell")
            )
            kernel = merge_kernel
    cell_results = cell_groups.applyInPandas(kernel, cell_schema)

    def final_kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # one entry per cell, tiny; cell order makes the merge deterministic
        parts = _group_holes(*_merge_parts(pdf.sort_values("cell")[poly_col]))
        return pd.DataFrame(
            {**{k: [v] * len(parts) for k, v in zip(keys, key)}, poly_col: pd.Series(parts, dtype=object)}
        )

    return cell_results.groupBy(*keys).applyInPandas(final_kernel, ", ".join([*key_types, poly_t]))


def _merge_parts(polys) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """(outer rings, hole rings) of the union of partial unions, each a
    flat ring list (outers CCW, holes CW): the salted partials of one
    cell, or the cells of one key. The outer rings are unioned; holes
    come back from ``_open_holes``, as no union of outer rings sees them."""
    per_part = [[_ring_array(ring) for ring in poly] for poly in polys if len(poly)]
    outers = [r for rings in per_part for r in rings if geom.signed_area(r) >= 0]
    merged: list[np.ndarray] = []
    for comp in geom.connected_components(outers):
        part, _ok = geom.union_or_parts([outers[i] for i in comp])
        merged.extend(part)
    outs = [r for r in merged if geom.signed_area(r) >= 0] or merged
    holes = [r for r in merged if geom.signed_area(r) < 0]
    for r in _open_holes(per_part):
        (outs if geom.signed_area(r) >= 0 else holes).append(r)
    return outs, holes


def _open_holes(per_part: list[list[np.ndarray]]) -> list[np.ndarray]:
    """What stays open of each part's holes once all parts merge. A
    part's union sees only its own rings, so another part's polygons
    may cover part or all of a hole it encloses, and the union of outer
    rings cannot see holes at all (it also swallows a part's islands,
    its outer rings inside its own holes). Each hole loses what the
    other parts' polygons and its own islands cover; the rest comes back
    as CW hole rings, plus a CCW ring for each island of cover left
    inside one. A region open in several parts sits in a hole of each,
    so it is kept once, for the first part whose outer rings enclose it:
    a later part's hole also loses the earlier parts' whole outer area.
    A hole whose difference cannot be traced is dropped, so the merge
    errs toward covering too much, never toward a hole over a buffer."""
    boxes = [geom.bbox(np.vstack(rings)) for rings in per_part]
    out: list[np.ndarray] = []
    for i, rings in enumerate(per_part):
        own_outers = [r for r in rings if geom.signed_area(r) >= 0]
        for hole in (r for r in rings if geom.signed_area(r) < 0):
            hx0, hy0, hx1, hy1 = geom.bbox(hole)
            islands = [r for r in own_outers if geom.points_in_ring(r[:1, 0], r[:1, 1], hole)[0]]
            left = [hole[::-1]]
            try:
                if islands:
                    left = geom.polygon_difference(left, islands)
                for j, (x0, y0, x1, y1) in enumerate(boxes):
                    if left and j != i and x0 <= hx1 and hx0 <= x1 and y0 <= hy1 and hy0 <= y1:
                        cover = per_part[j] if j > i else [r for r in per_part[j] if geom.signed_area(r) >= 0]
                        left = geom.polygon_difference(left, cover)
            except geom.UnionError:
                continue
            out.extend(r[::-1] for r in left)
    return out


def _ring_array(ring) -> np.ndarray:
    """A ring as Arrow hands it to pandas (nested object arrays) → Nx2."""
    return np.asarray([[p[0], p[1]] for p in ring], dtype=np.float64)


def _poly_order(poly) -> list:
    """Sort key of a Polygon (rings of [lon, lat] points): its
    coordinates, so kernels see their rows in one fixed order."""
    return [tuple(p) for ring in poly for p in ring]


def _group_holes(outers: list[np.ndarray], holes: list[np.ndarray]) -> list[list[list[list[float]]]]:
    """Assign each hole ring to the smallest containing outer →
    GeoJSON MultiPolygon coordinate nesting."""
    polys: list[list[np.ndarray]] = [[o] for o in outers]
    areas = [abs(geom.signed_area(o)) for o in outers]
    for h in holes:
        px, py = h[0, 0], h[0, 1]
        best, best_area = None, None
        for i, o in enumerate(outers):
            if geom.points_in_ring(np.asarray([px]), np.asarray([py]), o)[0]:
                if best_area is None or areas[i] < best_area:
                    best, best_area = i, areas[i]
        if best is not None:
            polys[best].append(h)
    return [[r.tolist() for r in rings] for rings in polys]


# ---------------------------------------------------------------------------
# G2 simplify (RDP pandas UDF over LineString coords)
# ---------------------------------------------------------------------------


def simplify_lines_udf(precision: int | None):
    """Returns a pandas UDF simplifying array<array<double>> coords with
    tolerance 1/10^precision (reference geojson-utils.ts:124-129), or
    None when precision is unset (reference skips, :120-122)."""
    if precision is None:
        return None
    tol = 1.0 / (10.0**precision)

    @F.pandas_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
    def simp(s: pd.Series) -> pd.Series:
        out = []
        for coords in s:
            arr = np.asarray([[c[0], c[1]] for c in coords], dtype=np.float64)
            if len(arr) <= 2:
                out.append(arr.tolist())
                continue
            out.append(geom.simplify_line(arr, tol).tolist())
        return pd.Series(out)

    return simp


# ---------------------------------------------------------------------------
# Polygon clip — boolean overlay (intersection / difference) against a
# broadcast clip geometry (engine-new; extends G5's overlay machinery)
# ---------------------------------------------------------------------------


def clip_polygons(
    polys: DataFrame,
    clip_rings: list,
    op: str = "intersection",
    poly_col: str = "polygon",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Clip every Polygon row against a fixed clip geometry (list of
    rings, lon/lat pairs): ``op`` ∈ {'intersection', 'difference'}.

    The clip geometry rides in the task closure (it is a broadcast-dim
    analog — a region boundary, an AOI mask), the table side streams
    through ``mapInPandas`` one Arrow batch at a time, numpy overlay
    kernel per row. Rows whose result is empty are dropped; rows whose
    overlay degenerates (UnionError) fall back to the uncut input —
    the same failure contract as dissolve/union (reference
    src/lib/geojson-utils.ts:135-146). Output: key columns +
    ``polygon`` (rings, outers CCW / holes CW) + ``clip_status``
    ('clipped' | 'fallback')."""
    if op not in ("intersection", "difference"):
        raise ValueError(f"op must be intersection|difference, got {op!r}")
    key_cols = key_cols if key_cols is not None else [
        c for c in polys.columns if c != poly_col
    ]
    clip = [np.asarray(r, dtype=np.float64) for r in clip_rings]
    fn = geom.polygon_intersection if op == "intersection" else geom.polygon_difference

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep_rows, out_polys, status = [], [], []
            for i, rings in enumerate(pdf[poly_col]):
                rr = [
                    np.asarray([[c[0], c[1]] for c in ring], dtype=np.float64)
                    for ring in rings
                ]
                try:
                    cut = fn(rr, clip)
                    st = "clipped"
                except geom.UnionError:
                    cut, st = rr, "fallback"
                if not cut:
                    continue
                keep_rows.append(i)
                out_polys.append([r.tolist() for r in cut])
                status.append(st)
            res = pdf.iloc[keep_rows][key_cols].reset_index(drop=True)
            # explicit object dtype: an all-dropped batch would otherwise
            # produce an empty float64 column Arrow can't cast to the
            # nested list type
            res["polygon"] = pd.Series(out_polys, dtype=object)
            res["clip_status"] = pd.Series(status, dtype=object)
            yield res

    schema = f"{_ddl(polys, key_cols)}, polygon array<array<array<double>>>, clip_status string"
    return polys.select(*(key_cols + [poly_col])).mapInPandas(kernel, schema)
