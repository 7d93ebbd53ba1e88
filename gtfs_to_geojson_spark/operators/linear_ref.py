"""J14/G14 — linear referencing: snap points to polyline segments and
measure the distance ALONG the line to the snapped foot.

This is the GTFS ``shape_dist_traveled`` computation the reference's
data model carries but its exporter never derives (the reference draws
shapes as LineStrings, ``src/lib/formats/lines.ts``, and joins stops to
routes only through stop_times — it has no geometric stop→shape
matcher). At transit level this op answers "how far along its shape is
each stop", the prerequisite for schedule interpolation, headway maps
and corridor chainage; at web scale it is the map-matching primitive
(point → nearest road segment + linear reference).

Two variants, one codegen kernel:

* :func:`snap_points_to_segments` — UNKEYED, radius-bounded: every
  point finds its nearest segment among ALL lines within ``max_dist``.
  Candidates come from one hash equi-join on grid cells: each segment's
  bbox, padded by ``max_dist``, explodes to its cover cells (the
  flat-explode PBSM cover of operators/overlap.py); each point hashes
  to its SINGLE cell. Any segment within ``max_dist`` of a point
  necessarily covers that point's cell, so the candidate set is exact
  and each (point, segment) pair meets at most once — no dedup pass.
* :func:`locate_along_keyed` — KEYED: the point already knows its line
  (a stop and its trip's ``shape_id``); candidates are one hash
  equi-join on the key. No radius, no cells.

Both reduce with ONE map-side-combinable aggregation:
``min(struct(dist2, line, seg, ...))`` — an argmin that partially
aggregates before the shuffle (a window row_number would sort every
candidate; the struct-min ships at most one row per point per map
task). Tie-break is total and deterministic: (dist², line id, seg idx).

The projection math is pure Column arithmetic (whole-stage codegen, no
UDF): with the segment scaled to local planar meters via constant
per-axis factors ``kx, ky`` (equirectangular — exact enough at transit
extents; pass 1.0 to stay in degrees),

    ex = (bx-ax)·kx   ey = (by-ay)·ky     (segment vector)
    wx = (px-ax)·kx   wy = (py-ay)·ky     (point - segment start)
    t  = clamp(  (wx·ex + wy·ey) / (ex²+ey²),  0, 1 )   (0 if len2=0)
    dist² = (wx-t·ex)² + (wy-t·ey)²
    along = cum0 + t·√(ex²+ey²)

where ``cum0`` is the summed length of the line's preceding segments
(:func:`segments_from_vertices`). Every formula has a structurally
identical ANSI-SQL mirror, so the DuckDB oracle reproduces the argmin
bit-for-bit (plans/oracle_queries.py: j14_snap_nearest_segment,
g14_locate_along).

Scale notes (the 100-TB shape of this op): the point side — the big
side — is never exploded, never sorted, and carries one row into the
join and at most one out of the partial agg. The segment side explodes
by its cover (O(1-3) cells per padded bbox at a res sized to
``max_dist``); hot cells behave like every other cell join here (AQE
skew split; the overlap.py salting pattern applies unchanged if a
planet-scale road network concentrates — not wired up until a measured
need). Per-line windows in :func:`segments_from_vertices` partition by
line id: fine for line tables (a shape is thousands of vertices, and
the LINES side of a snap is the dimension side); a single line with
10^9 vertices would need operators/scan.py's grouped prefix scan
instead — documented, not silently slow.

Grid-edge note: cover indices clamp at the grid edge via the same
monotone ``xy_col`` both sides (a point's cell always stays inside a
nearby segment's padded cover — same argument as operators/overlap.py),
but like the overlay joins this path does NOT wrap the antimeridian: a
point and segment within ``max_dist`` across lon ±180° will not meet.
The grid kNN (operators/spatial.py) wraps; use its 3×3 neighbourhood as
the template if a dataset ever straddles ±180°.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cells

#: default column names for a segment frame
SEG_COLS = ("line_id", "seg_idx", "ax", "ay", "bx", "by", "cum0")


def segments_from_vertices(
    vertices: DataFrame,
    line_id: str = "line_id",
    seq: str = "seq",
    x: str = "x",
    y: str = "y",
    kx: float = 1.0,
    ky: float = 1.0,
) -> DataFrame:
    """Vertex rows (line, seq, x, y) → segment rows with cumulative
    start offsets. Two windows per line id (lead + running sum), both
    bounded by the line's own vertex count. seg_idx is 0-based and
    dense regardless of seq gaps; cum0 is in the kx/ky-scaled metric.
    """
    w = Window.partitionBy(line_id).orderBy(seq)
    seg = (
        vertices.select(
            F.col(line_id).alias("line_id"),
            (F.row_number().over(w) - F.lit(1)).cast("long").alias("seg_idx"),
            F.col(x).alias("ax"),
            F.col(y).alias("ay"),
            F.lead(x).over(w).alias("bx"),
            F.lead(y).over(w).alias("by"),
        )
        .filter(F.col("bx").isNotNull())
    )
    ex = (F.col("bx") - F.col("ax")) * F.lit(float(kx))
    ey = (F.col("by") - F.col("ay")) * F.lit(float(ky))
    seg_len = F.sqrt(ex * ex + ey * ey)
    wcum = (
        Window.partitionBy("line_id")
        .orderBy("seg_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return seg.withColumn(
        "cum0", F.coalesce(F.sum(seg_len).over(wcum), F.lit(0.0))
    )


def _residual_cols(kx: float, ky: float) -> dict[str, Column]:
    """The projection kernel on a joined (point, segment) row — shared
    verbatim by both variants so the SQL mirror exists once."""
    ex = (F.col("bx") - F.col("ax")) * F.lit(float(kx))
    ey = (F.col("by") - F.col("ay")) * F.lit(float(ky))
    wx = (F.col("lon") - F.col("ax")) * F.lit(float(kx))
    wy = (F.col("lat") - F.col("ay")) * F.lit(float(ky))
    len2 = ex * ex + ey * ey
    t = F.least(
        F.greatest(
            F.when(len2 > F.lit(0.0), (wx * ex + wy * ey) / len2).otherwise(F.lit(0.0)),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    rx = wx - t * ex
    ry = wy - t * ey
    return {
        "_dist2": rx * rx + ry * ry,
        "_t": t,
        "_along": F.col("cum0") + t * F.sqrt(len2),
    }


def _argmin_nearest(cand: DataFrame, point_cols: list[str]) -> DataFrame:
    """One hash agg: min(struct(dist², line, seg, t, along, dist)) per
    point — partial-aggregates map-side, ships ≤1 row per point per
    task, and its (dist², line_id, seg_idx) prefix is a total order so
    the payload fields can never decide a comparison."""
    best = F.min(
        F.struct(
            F.col("_dist2").alias("d2"),
            F.col("line_id").alias("line_id"),
            F.col("seg_idx").alias("seg_idx"),
            F.col("_t").alias("t"),
            F.col("_along").alias("along"),
        )
    ).alias("_best")
    out = cand.groupBy(*point_cols).agg(best)
    return out.select(
        *point_cols,
        F.col("_best.line_id").alias("line_id"),
        F.col("_best.seg_idx").alias("seg_idx"),
        F.col("_best.t").alias("t"),
        F.col("_best.along").alias("along"),
        F.sqrt(F.col("_best.d2")).alias("dist"),
    )


def snap_points_to_segments(
    points: DataFrame,
    segments: DataFrame,
    max_dist: float,
    res: int,
    point_id: str = "point_id",
    kx: float = 1.0,
    ky: float = 1.0,
    shuffle_hash: bool = True,
) -> DataFrame:
    """Radius-bounded nearest-segment snap (unkeyed). Points carry
    (point_id, lon, lat); segments carry SEG_COLS (build them with
    :func:`segments_from_vertices`). ``max_dist`` is in the kx/ky
    metric (meters if kx/ky are meters-per-degree; degrees at the
    default 1.0). Points with no segment within ``max_dist`` are
    dropped (the caller left-joins back if it needs misses — at
    10^12 rows an explicit miss row per unmatched point is usually
    waste). Size ``res`` so a cell is about TWICE ``max_dist`` wide —
    the measured knee (tools/linear_ref_scale_bench.py res sweep at
    40M points: cell≈2r is 2-3× faster than cell≈r or cell≈4r):
    coarser cells blow up the per-cell candidate cross, finer cells
    blow up the padded-bbox cover explode.

    ``shuffle_hash=True`` (default) hints the exploded segment side
    into a shuffled hash join (no sort of either stream — same
    measured win as operators/overlap.py). The per-partition build
    must fit execution memory: at N concurrent tasks each build gets
    ~heap·0.6/N, so size shuffle partitions ≥ exploded_rows·56B·N/that
    (a 40M-row explode at 32 local threads wants ≥256 partitions).
    Pass False for sort-merge's graceful sort-spill when it can't.
    """
    if not 0 <= res <= cells.MAX_RES:
        # past MAX_RES the x*2^29+y packing overflows into neighboring
        # bit fields and cell ids silently collide — fail loudly like
        # rasterize_counts and cells.encode do (ADVICE r4)
        raise ValueError(f"res must be in [0, {cells.MAX_RES}], got {res}")
    pad_x = float(max_dist) / float(kx)
    pad_y = float(max_dist) / float(ky)
    seg = segments.select(*SEG_COLS).withColumns(
        {
            "min_lon": F.least("ax", "bx") - F.lit(pad_x),
            "max_lon": F.greatest("ax", "bx") + F.lit(pad_x),
            "min_lat": F.least("ay", "by") - F.lit(pad_y),
            "max_lat": F.greatest("ay", "by") + F.lit(pad_y),
        }
    )
    x0, y0 = cells.xy_col(F.col("min_lat"), F.col("min_lon"), res)
    x1, y1 = cells.xy_col(F.col("max_lat"), F.col("max_lon"), res)
    seg = (
        seg.withColumn("_x", F.explode(F.sequence(x0, x1)))
        .withColumn("_y", F.explode(F.sequence(y0, y1)))
        .withColumn(
            "_cell",
            F.lit(res).cast("long") * F.lit(1 << 58).cast("long")
            + F.col("_x") * F.lit(1 << 29).cast("long")
            + F.col("_y"),
        )
        .drop("_x", "_y", "min_lon", "max_lon", "min_lat", "max_lat")
    )
    pts = points.select(
        F.col(point_id).alias("point_id"), "lon", "lat"
    ).withColumn("_cell", cells.cell_col(F.col("lat"), F.col("lon"), res))
    cand = pts.join(seg.hint("shuffle_hash") if shuffle_hash else seg, "_cell").drop("_cell")
    r = _residual_cols(kx, ky)
    cand = cand.withColumns(r).filter(F.col("_dist2") <= F.lit(float(max_dist) ** 2))
    return _argmin_nearest(cand, ["point_id", "lon", "lat"]).drop("lon", "lat")


def locate_along_keyed(
    points: DataFrame,
    segments: DataFrame,
    key: str,
    point_id: str = "point_id",
    kx: float = 1.0,
    ky: float = 1.0,
) -> DataFrame:
    """Keyed linear referencing: each point carries the id of the line
    it belongs to (``key`` == segments.line_id); output is its nearest
    segment ON THAT LINE plus t / along / dist. One hash equi-join on
    the key (the segment side of a key is one polyline — bounded), one
    partial-aggregating argmin. Points whose key has no segments drop
    out (inner join) — GTFS trips with a missing shape are S6's
    missing-shape guard upstream, not silent zeros here."""
    pts = points.select(
        F.col(point_id).alias("point_id"),
        F.col(key).alias("line_id"),
        "lon",
        "lat",
    )
    cand = pts.join(segments.select(*SEG_COLS), "line_id")
    r = _residual_cols(kx, ky)
    cand = cand.withColumns(r)
    best = F.min(
        F.struct(
            F.col("_dist2").alias("d2"),
            F.col("seg_idx").alias("seg_idx"),
            F.col("_t").alias("t"),
            F.col("_along").alias("along"),
        )
    ).alias("_best")
    out = cand.groupBy("point_id", "line_id").agg(best)
    return out.select(
        "point_id",
        "line_id",
        F.col("_best.seg_idx").alias("seg_idx"),
        F.col("_best.t").alias("t"),
        F.col("_best.along").alias("along"),
        F.sqrt(F.col("_best.d2")).alias("dist"),
    )


def position_along_keyed(
    measures: DataFrame,
    segments: DataFrame,
    key: str = "line_id",
    measure_id: str = "measure_id",
    along: str = "along",
    kx: float = 1.0,
    ky: float = 1.0,
) -> DataFrame:
    """Inverse linear referencing: (measure_id, line key, along) rows →
    the (lon, lat) point that far along the line — the other half of
    :func:`locate_along_keyed` (GTFS: interpolate a vehicle position
    from schedule progress; the reference stores shape_dist_traveled
    but never inverts it either).

    The covering segment is the one with the LARGEST cum0 ≤ along.
    cum0 ties ARE possible — a zero-length segment (duplicate
    consecutive vertices, common in real GTFS shapes) shares its cum0
    with the segment after it — and the tie breaks toward the LARGEST
    seg_idx, i.e. the real segment that follows, so an along strictly
    inside it interpolates instead of collapsing onto the duplicated
    vertex (where t would clamp to 0). along < 0 clamps
    to the line start, along ≥ total length to the line end, exactly
    like the forward op clamps t. Same shapes as the forward op: one
    hash equi-join on the key, one map-side-combinable min(struct)
    argmin, pure-Column interpolation — 0 Python, and the SQL mirror
    (g15_position_along) is expression-order identical.
    """
    m = measures.select(
        F.col(measure_id).alias("measure_id"),
        F.col(key).alias("line_id"),
        F.col(along).cast("double").alias("_along"),
    )
    cand = m.join(segments.select(*SEG_COLS), "line_id")
    # ordering key: prefer covering segments (cum0 <= along), among
    # them the largest cum0; if none cover (along < 0), the smallest
    not_cover = (F.col("cum0") > F.col("_along")).cast("int")
    cum_rank = F.when(
        F.col("cum0") <= F.col("_along"), -F.col("cum0")
    ).otherwise(F.col("cum0"))
    best = F.min(
        F.struct(
            not_cover.alias("nc"),
            cum_rank.alias("ck"),
            (-F.col("seg_idx")).alias("nsi"),
            F.col("ax").alias("ax"),
            F.col("ay").alias("ay"),
            F.col("bx").alias("bx"),
            F.col("by").alias("by"),
            F.col("cum0").alias("cum0"),
        )
    ).alias("_best")
    out = cand.groupBy("measure_id", "line_id", "_along").agg(best)
    ex = (F.col("_best.bx") - F.col("_best.ax")) * F.lit(float(kx))
    ey = (F.col("_best.by") - F.col("_best.ay")) * F.lit(float(ky))
    seg_len = F.sqrt(ex * ex + ey * ey)
    t = F.least(
        F.greatest(
            F.when(
                seg_len > F.lit(0.0),
                (F.col("_along") - F.col("_best.cum0")) / seg_len,
            ).otherwise(F.lit(0.0)),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    return out.select(
        "measure_id",
        "line_id",
        F.col("_along").alias("along"),
        (-F.col("_best.nsi")).alias("seg_idx"),
        t.alias("t"),
        (F.col("_best.ax") + t * (F.col("_best.bx") - F.col("_best.ax"))).alias("lon"),
        (F.col("_best.ay") + t * (F.col("_best.by") - F.col("_best.ay"))).alias("lat"),
    )


# meters-per-degree constants for the equirectangular local metric.
# 111320 ≈ one degree of longitude at the equator on the WGS84 sphere;
# callers scale it by cos(reference latitude) for kx.
M_PER_DEG = 111320.0


def meters_scale(ref_lat_deg: float) -> tuple[float, float]:
    """(kx, ky) meters-per-degree at a reference latitude — constants,
    chosen once per dataset extent, NEVER data-dependent per row (a
    per-row cos(lat) would be fine for codegen but break the shared
    cum0 metric along a line that spans latitudes)."""
    import math

    return (M_PER_DEG * math.cos(math.radians(ref_lat_deg)), M_PER_DEG)
