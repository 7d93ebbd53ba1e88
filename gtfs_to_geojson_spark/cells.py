"""Hierarchical global grid-cell index ("H3/S2-style", from scratch).

The engine's spatial backbone (SURVEY.md §7.6): every spatial join
(point-in-envelope J6, point-in-polygon J7, kNN J8, image tile
assignment J9) is turned from a theta/NLJ join into a hash equi-join by
pre-joining on grid-cell ids, with an exact residual predicate after.

Design
------
At resolution ``r`` (0..28) the world ``lon ∈ [-180, 180] × lat ∈
[-90, 90]`` is an equirectangular ``2^r × 2^r`` grid. A cell id packs
``(res, x, y)`` into one int64::

    cell = (res << 58) | (x << 29) | y        (x, y < 2^29)

Properties that matter for Spark:

* **JVM-expressible** — ``cell_col`` builds the id with built-in
  Column functions only (floor/shift/cast), so cell encoding of a
  100 TB table never leaves whole-stage codegen. No UDF.
* **Parent/child are bit-shifts** — cheap rollups and ring expansion.
* **SQL-parity** — the same id is computable in ANSI SQL (DuckDB
  oracle): ``res*2^58 + floor(...)*2^29 + floor(...)``.

The numpy mirror functions are used inside geometry kernels
(cover/kring in pandas UDFs) and in tests.

Unlike H3 (hex, icosahedral) this grid is rectangular; neighbor and
cover semantics are simpler and exactly reproducible in SQL, which is
what the correctness gate needs. Cell *areas* vary with latitude —
irrelevant for correctness (cells are only a pre-filter; exact
predicates decide membership) and handled for skew by salting
(operators/spatial.py), not by equal-area cells.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_RES = 28
_XY_BITS = 29
_RES_SHIFT = 58

# ---------------------------------------------------------------------------
# numpy side (used inside pandas-UDF kernels and tests)
# ---------------------------------------------------------------------------


def encode(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Vectorized (lat, lon) → int64 cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    n = 1 << res
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << _RES_SHIFT) | (x << _XY_BITS) | y


def decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell id → (res, x, y) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> _RES_SHIFT).astype(np.int64)
    x = (cell >> _XY_BITS) & ((1 << _XY_BITS) - 1)
    y = cell & ((1 << _XY_BITS) - 1)
    return res, x, y


def pack(res: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (np.int64(res) << _RES_SHIFT) | (x << _XY_BITS) | y


def cell_bounds(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (min_lon, min_lat, max_lon, max_lat) arrays."""
    res, x, y = decode(cell)
    n = (np.int64(1) << res).astype(np.float64)
    min_lon = x / n * 360.0 - 180.0
    max_lon = (x + 1) / n * 360.0 - 180.0
    min_lat = y / n * 180.0 - 90.0
    max_lat = (y + 1) / n * 180.0 - 90.0
    return min_lon, min_lat, max_lon, max_lat


def parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Coarsen cell ids to ``parent_res`` (must be <= their res)."""
    res, x, y = decode(cell)
    d = res - parent_res
    if np.any(d < 0):
        raise ValueError("parent_res must be <= cell res")
    return pack(parent_res, x >> d, y >> d)


def children(cell: int, child_res: int) -> np.ndarray:
    """All descendant cells of one cell at ``child_res``."""
    res, x, y = decode(np.asarray([cell]))
    d = int(child_res - res[0])
    if d < 0:
        raise ValueError("child_res must be >= cell res")
    side = 1 << d
    cx = (int(x[0]) << d) + np.arange(side, dtype=np.int64)
    cy = (int(y[0]) << d) + np.arange(side, dtype=np.int64)
    gx, gy = np.meshgrid(cx, cy, indexing="ij")
    return pack(child_res, gx.ravel(), gy.ravel())


def kring(cell: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k (incl. the cell itself).

    Longitude wraps; latitude clamps at the poles. The numpy twin of
    the grid kNN's 3×3 neighbourhood (J8, k=1).
    """
    res, x, y = decode(np.asarray([cell]))
    r, x0, y0 = int(res[0]), int(x[0]), int(y[0])
    n = 1 << r
    dx = np.arange(-k, k + 1, dtype=np.int64)
    dy = np.arange(-k, k + 1, dtype=np.int64)
    gx, gy = np.meshgrid((x0 + dx) % n, y0 + dy, indexing="ij")
    keep = (gy >= 0) & (gy < n)
    return np.unique(pack(r, gx[keep].ravel(), gy[keep].ravel()))


def ring(cell: int, k: int) -> np.ndarray:
    """The hollow ring at exactly Chebyshev distance k."""
    if k == 0:
        return np.asarray([cell], dtype=np.int64)
    inner = set(kring(cell, k - 1).tolist())
    return np.asarray(
        [c for c in kring(cell, k).tolist() if c not in inner], dtype=np.int64
    )


def cover_bbox(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float, res: int
) -> np.ndarray:
    """All cells at ``res`` intersecting the bbox (inclusive edges).

    Guaranteed superset of exact containment — the residual predicate
    downstream makes the join exact (SURVEY.md §5 property test 4).
    """
    n = 1 << res
    x0 = int(np.clip(np.floor((min_lon + 180.0) / 360.0 * n), 0, n - 1))
    x1 = int(np.clip(np.floor((max_lon + 180.0) / 360.0 * n), 0, n - 1))
    y0 = int(np.clip(np.floor((min_lat + 90.0) / 180.0 * n), 0, n - 1))
    y1 = int(np.clip(np.floor((max_lat + 90.0) / 180.0 * n), 0, n - 1))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return pack(res, gx.ravel(), gy.ravel())


def cover_res_for_bbox(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float,
    target_cells: int = 64, max_res: int = 20,
) -> int:
    """Pick a resolution so the bbox is covered by ≈``target_cells``."""
    dlon = max(max_lon - min_lon, 1e-12) / 360.0
    dlat = max(max_lat - min_lat, 1e-12) / 180.0
    for r in range(max_res, -1, -1):
        n = 1 << r
        if (dlon * n + 1) * (dlat * n + 1) <= target_cells:
            return r
    return 0


# ---------------------------------------------------------------------------
# Spark side — pure Column expressions (stay in whole-stage codegen)
# ---------------------------------------------------------------------------


def xy_col(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    n = float(1 << res)
    x = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)), F.lit(0)),
        F.lit(int(n) - 1),
    )
    y = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n)), F.lit(0)),
        F.lit(int(n) - 1),
    )
    return x.cast("long"), y.cast("long")


def cell_col(lat: Column, lon: Column, res: int) -> Column:
    """(lat, lon) Columns → int64 cell id, built-ins only (no UDF)."""
    x, y = xy_col(lat, lon, res)
    return (
        F.lit(res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + x * F.lit(1 << _XY_BITS).cast("long")
        + y
    ).alias(f"cell_r{res}")


def cell_bounds_col(cell: Column, res: int) -> dict[str, Column]:
    """Cell id → its lon/lat bounding box, built-ins only (the Column
    mirror of :func:`cell_bounds`) — lets a tile-id column become a
    join-ready envelope without leaving codegen."""
    n = float(1 << res)
    x = F.shiftright(cell, _XY_BITS).bitwiseAND(F.lit((1 << _XY_BITS) - 1)).cast("double")
    y = cell.bitwiseAND(F.lit((1 << _XY_BITS) - 1)).cast("double")
    return {
        "min_lon": x / F.lit(n) * F.lit(360.0) - F.lit(180.0),
        "min_lat": y / F.lit(n) * F.lit(180.0) - F.lit(90.0),
        "max_lon": (x + F.lit(1.0)) / F.lit(n) * F.lit(360.0) - F.lit(180.0),
        "max_lat": (y + F.lit(1.0)) / F.lit(n) * F.lit(180.0) - F.lit(90.0),
    }


def parent_col(cell: Column, res: int, parent_res: int) -> Column:
    """Re-pack a cell Column at a coarser resolution, built-ins only."""
    d = res - parent_res
    x = F.shiftright(cell, _XY_BITS).bitwiseAND(F.lit((1 << _XY_BITS) - 1))
    y = cell.bitwiseAND(F.lit((1 << _XY_BITS) - 1))
    return (
        F.lit(parent_res).cast("long") * F.lit(1 << _RES_SHIFT).cast("long")
        + F.shiftright(x, d) * F.lit(1 << _XY_BITS).cast("long")
        + F.shiftright(y, d)
    )


def cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The same cell id as ANSI SQL text (DuckDB-oracle parity)."""
    n = 1 << res
    x = (
        f"least(greatest(floor(({lon_expr} + 180.0) / 360.0 * {n}), 0), {n - 1})"
    )
    y = (
        f"least(greatest(floor(({lat_expr} + 90.0) / 180.0 * {n}), 0), {n - 1})"
    )
    return (
        f"(CAST({res} AS BIGINT) * {1 << _RES_SHIFT} "
        f"+ CAST({x} AS BIGINT) * {1 << _XY_BITS} + CAST({y} AS BIGINT))"
    )


# ---------------------------------------------------------------------------
# Morton (Z-order) keys — spatial data layout at scale
# ---------------------------------------------------------------------------
# The packed cell id above is row-major (x*2^29 + y): consecutive ids
# sweep a whole row of the grid, so sorting a table by cell id gives
# good locality in x and none in y. The Morton key interleaves the x/y
# bits instead, which buys the property that makes spatial layout work
# at 100 TB: every cell at ANY coarser resolution is one contiguous
# Morton range at the data resolution. A table written sorted by
# Morton key therefore answers "rows in this (parent) cell" with a
# simple BETWEEN range predicate that parquet min/max stats prune at
# the file and row-group level — no spatial library in the scan path.

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each value so bit i lands at bit 2i."""
    v = np.asarray(v).astype(np.uint64) & np.uint64(0xFFFFFFFF)
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Interleave (x, y) grid indices (< 2^29) into a Z-order key.
    x takes the odd bits, y the even bits; result < 2^58 (int64-safe)."""
    return ((_part1by1(x) << np.uint64(1)) | _part1by1(y)).astype(np.int64)


def morton_encode(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """(lat, lon) → Z-order key at ``res`` (numpy mirror of morton_col)."""
    _, x, y = decode(encode(lat, lon, res))
    return morton(x, y)


def morton_range_for_cell(cell: int, data_res: int) -> tuple[int, int]:
    """Inclusive [lo, hi] Morton range (at ``data_res``) covered by a
    cell at any resolution <= data_res — the contiguity property that
    turns cell containment into a parquet-prunable BETWEEN."""
    res, x, y = decode(np.asarray([cell]))
    d = int(data_res - int(res[0]))
    if d < 0:
        raise ValueError("data_res must be >= cell res")
    base = int(morton(np.asarray([int(x[0])]), np.asarray([int(y[0])]))[0])
    lo = base << (2 * d)
    hi = ((base + 1) << (2 * d)) - 1
    return lo, hi


def _spread_col(v: Column) -> Column:
    for shift, mask in _SPREAD_MASKS:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def morton_col(lat: Column, lon: Column, res: int) -> Column:
    """Z-order key as a pure Column expression (whole-stage codegen;
    5 shift/mask rounds per axis — no UDF)."""
    x, y = xy_col(lat, lon, res)
    return (
        F.shiftleft(_spread_col(x), 1).bitwiseOR(_spread_col(y))
    ).alias(f"morton_r{res}")


def morton_from_cell_col(cell: Column) -> Column:
    """Packed cell id → Z-order key of its (x, y), built-ins only."""
    x = F.shiftright(cell, _XY_BITS).bitwiseAND(F.lit((1 << _XY_BITS) - 1))
    y = cell.bitwiseAND(F.lit((1 << _XY_BITS) - 1))
    return F.shiftleft(_spread_col(x), 1).bitwiseOR(_spread_col(y))


def _spread_sql(expr: str) -> str:
    out = expr
    for shift, mask in _SPREAD_MASKS:
        out = f"(({out} | ({out} << {shift})) & {mask})"
    return out


def morton_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The same Z-order key as SQL text (DuckDB-oracle parity)."""
    n = 1 << res
    x = (
        f"CAST(least(greatest(floor(({lon_expr} + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    )
    y = (
        f"CAST(least(greatest(floor(({lat_expr} + 90.0) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    )
    return f"(({_spread_sql(x)} << 1) | {_spread_sql(y)})"
