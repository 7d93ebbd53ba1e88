"""The nine output formats (reference ``src/formats/*.ts``), each a
pure function ``(feed, config, query, groups) → DataFrame[GROUP,
feature_json]`` that builds a plan. The only Spark jobs a format call
runs are the agency-name read when no ``groups`` are given and, for the
dissolved formats, ``geoagg.dissolve_polygons``' bbox aggregation.

``groups`` says which files the features are for: its table has one
row per file — ``GROUP`` plus the ``with_eq`` keys that select the
file's trips. Without it, the call is the one-group case: every trip
under ``q`` belongs to group 0, the same code with a one-row table.
Each format builds one ``filters.trip_facts`` and derives every
relational input from it.

Dispatch mirrors the reference's static format table
(src/lib/gtfs-to-geojson.ts:73-113). Every format returns features as
JSON strings (``to_json`` drops null properties — F5, the reference's
``omitBy(props, isNil)`` at geojson-utils.ts:34) with the ``GROUP`` of
the file they go to; ``sinks.ORDER``, where present, orders features
within a file.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import sinks
from ..functions import geo
from . import geoagg, relational
from .filters import GROUP, BaseQuery, TripFacts, filter_used_stops, one_group, trip_facts


def feature_json(props: Column, geom_type: str, coords: Column) -> Column:
    return F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            props.alias("properties"),
            F.struct(
                F.lit(geom_type).alias("type"), coords.alias("coordinates")
            ).alias("geometry"),
        )
    ).alias("feature_json")


STOP_PROP_COLS = [
    "stop_id", "stop_name", "location_type", "parent_station", "zone_id", "stop_url",
]
ROUTE_PROP_COLS = relational.ROUTE_STRUCT_COLS + ["category", "subcategory", "running_way"]


def agency_name(feed) -> str | None:
    """First agency's name (reference falls back to agencies[0],
    src/lib/gtfs-to-geojson.ts:297-308)."""
    row = feed["agency"].orderBy("agency_id").limit(1).collect()
    return row[0]["agency_name"] if row else None


@dataclass(frozen=True)
class Groups:
    """The files one format call emits features for: ``table`` (GROUP
    + with_eq keys, one row per file) and the feed's ``agency_name``,
    read once per run."""

    table: DataFrame
    agency_name: str | None

    @classmethod
    def single(cls, feed) -> "Groups":
        return cls(one_group(feed["trips"].sparkSession), agency_name(feed))


def _agency(g: Groups) -> Column:
    return F.lit(g.agency_name).alias("agency_name")


def _stop_features(feed, cfg, facts: TripFacts, g: Groups) -> DataFrame:
    sw = relational.stops_with_routes(feed["stops"], feed["routes"], facts)
    coords = geo.round_coords_point(
        F.array("stop_lon", "stop_lat"), cfg.coordinate_precision
    )
    props = F.struct(*[F.col(c) for c in STOP_PROP_COLS], F.col("routes"), _agency(g))
    return sw.select(GROUP, feature_json(props, "Point", coords))


def _route_lines(feed, facts: TripFacts) -> tuple[DataFrame, DataFrame]:
    """Route geometry per group: MultiLineStrings from shapes, and
    stop-derived LineStrings per (route, direction) for the groups
    without shapes."""
    ra = feed.get("route_attributes")
    ml = relational.route_multilinestrings(feed["shapes"], feed["routes"], ra, facts)
    sd = relational.stop_derived_linestrings(feed["stops"], feed["routes"], ra, facts)
    return ml, sd


def _route_points(feed, facts: TripFacts) -> DataFrame:
    """(GROUP, lon, lat) of every vertex of the groups' route lines —
    the point set of ``_route_lines`` without assembling the lines:
    the shape points of the route's shapes, or the stops the
    stop-derived lines pass through. As there, only routes present in
    the routes table count."""
    routes = feed["routes"].select("route_id")
    pairs = relational.route_shape_pairs(facts).join(routes, "route_id", "left_semi")
    shape_pts = feed["shapes"].join(pairs, "shape_id").select(
        GROUP, F.col("shape_pt_lon").alias("lon"), F.col("shape_pt_lat").alias("lat")
    )
    stop_pts = (
        facts.shapeless_stop_rows()
        .join(routes, "route_id", "left_semi")
        .join(feed["stops"], "stop_id")
        .select(GROUP, F.col("stop_lon").alias("lon"), F.col("stop_lat").alias("lat"))
    )
    return shape_pts.unionByName(stop_pts)


def route_line_rows(feed, facts: TripFacts) -> DataFrame:
    """Per-route LineString rows of every group (shape MultiLineStrings
    exploded, or stop-derived) — input to lines-buffer /
    lines-dissolved."""
    ml, sd = _route_lines(feed, facts)
    exploded = ml.select(
        *[c for c in ml.columns if c != "coordinates"],
        F.explode("coordinates").alias("coordinates"),
    )
    return exploded.unionByName(sd, allowMissingColumns=True)


def _line_features(feed, cfg, facts: TripFacts, g: Groups) -> DataFrame:
    """Lines: MultiLineString per route from shapes; per-group fallback
    to stop-derived LineStrings when the group's trips have no shapes."""
    simp = geoagg.simplify_lines_udf(cfg.coordinate_precision)
    ml, sd = _route_lines(feed, facts)
    if simp is not None:
        # simplify each member line (pandas UDF is per-LineString):
        # posexplode → RDP → re-collect in position order
        ml = (
            ml.select(
                *[c for c in ml.columns if c != "coordinates"],
                F.posexplode("coordinates").alias("_pos", "_line"),
            )
            .withColumn("_line", simp(F.col("_line")))
            .groupBy(*[c for c in ml.columns if c != "coordinates"])
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_pos"), F.col("_line").alias("l")))),
                    lambda x: x["l"],
                ).alias("coordinates")
            )
        )
        sd = sd.withColumn("coordinates", simp(F.col("coordinates")))
    props = F.struct(*[F.col(c) for c in ROUTE_PROP_COLS], _agency(g))
    p = cfg.coordinate_precision
    return ml.select(
        GROUP, feature_json(props, "MultiLineString", geo.round_coords_multiline(F.col("coordinates"), p))
    ).unionByName(
        sd.select(GROUP, feature_json(props, "LineString", geo.round_coords_line(F.col("coordinates"), p)))
    )


def _facts(feed, q: BaseQuery, groups: Groups | None) -> tuple[TripFacts, Groups]:
    g = groups or Groups.single(feed)
    return trip_facts(feed, q, g.table), g


def fmt_stops(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    return _stop_features(feed, cfg, *_facts(feed, q, groups))


def fmt_lines(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    return _line_features(feed, cfg, *_facts(feed, q, groups))


def fmt_lines_and_stops(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """A12 — merged FeatureCollections (reference
    formats/lines-and-stops.ts:16-17 via mergeGeojson,
    geojson-utils.ts:112-114): union-all of line + stop features, lines
    first in each file."""
    facts, g = _facts(feed, q, groups)
    lines = _line_features(feed, cfg, facts, g).withColumn(sinks.ORDER, F.lit(0))
    stops = _stop_features(feed, cfg, facts, g).withColumn(sinks.ORDER, F.lit(1))
    return lines.unionByName(stops)


def fmt_envelope(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """A1/G4 — single Polygon Feature = bbox of all route lines, props
    ``{agency_name}`` only (reference formats/envelope.ts;
    examples/envelope.geojson). The bbox is taken over the lines'
    vertices directly."""
    facts, g = _facts(feed, q, groups)
    b = geoagg.envelope_bounds(_route_points(feed, facts), keys=[GROUP])
    p = cfg.coordinate_precision
    rnd = (lambda c: F.round(c, p)) if p is not None else (lambda c: c)
    coords = geoagg.bbox_polygon_col(
        rnd(F.col("min_lon")), rnd(F.col("min_lat")), rnd(F.col("max_lon")), rnd(F.col("max_lat"))
    )
    return b.where(F.col("min_lon").isNotNull()).select(
        GROUP, feature_json(F.struct(_agency(g)), "Polygon", coords)
    )


def fmt_convex(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """A2 — convex hull Polygon over used stops; no feature when
    degenerate (<3 distinct points — reference warns and emits null,
    formats/convex.ts:13-22)."""
    facts, g = _facts(feed, q, groups)
    used = filter_used_stops(feed["stops"], facts)
    hulls = geoagg.convex_hulls(used, keys=[GROUP])
    coords = geo.round_coords_polygon(F.array("ring"), cfg.coordinate_precision)
    return hulls.select(GROUP, feature_json(F.struct(_agency(g)), "Polygon", coords))


def fmt_stops_buffer(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """G3 — Polygon per used stop, radius bufferSizeMeters (default 400,
    reference src/lib/gtfs-to-geojson.ts:34; formats/stops-buffer.ts:9).
    Ring construction is a pure Column expression — stays in codegen."""
    facts, g = _facts(feed, q, groups)
    sw = relational.stops_with_routes(feed["stops"], feed["routes"], facts)
    ring = geoagg.stop_buffer_ring_col(
        F.col("stop_lat"), F.col("stop_lon"), cfg.buffer_size_meters
    )
    coords = geo.round_coords_polygon(F.array(ring), cfg.coordinate_precision)
    props = F.struct(*[F.col(c) for c in STOP_PROP_COLS], F.col("routes"), _agency(g))
    return sw.select(GROUP, feature_json(props, "Polygon", coords))


def _line_buffers(feed, cfg, facts: TripFacts) -> DataFrame:
    lines = route_line_rows(feed, facts)
    keys = [c for c in lines.columns if c != "coordinates"]
    return geoagg.line_buffer_polygons(lines, cfg.buffer_size_meters, keys)


def fmt_lines_buffer(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """G3 — Polygon per route buffering its line
    (reference formats/lines-buffer.ts:12)."""
    facts, g = _facts(feed, q, groups)
    buf = _line_buffers(feed, cfg, facts)
    coords = geo.round_coords_polygon(F.col("polygon"), cfg.coordinate_precision)
    prop_cols = [c for c in ROUTE_PROP_COLS if c in buf.columns]
    props = F.struct(*[F.col(c) for c in prop_cols], _agency(g))
    return buf.select(GROUP, feature_json(props, "Polygon", coords))


def _dissolved_features(cfg, polys: DataFrame, g: Groups) -> DataFrame:
    """Shared tail of the two dissolved formats: A3 union per group →
    one Feature per resulting polygon, props ``{agency_name}`` (row-set
    semantics contract, SURVEY.md §5)."""
    parts = geoagg.dissolve_polygons(polys, keys=[GROUP])
    coords = geo.round_coords_polygon(F.col("polygon"), cfg.coordinate_precision)
    return parts.select(GROUP, feature_json(F.struct(_agency(g)), "Polygon", coords))


def fmt_stops_dissolved(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """A3 — union of all stop buffers (reference
    formats/stops-dissolved.ts:12-14 via unionGeojson)."""
    facts, g = _facts(feed, q, groups)
    used = filter_used_stops(feed["stops"], facts)
    ring = geoagg.stop_buffer_ring_col(F.col("stop_lat"), F.col("stop_lon"), cfg.buffer_size_meters)
    return _dissolved_features(cfg, used.select(GROUP, F.array(ring).alias("polygon")), g)


def fmt_lines_dissolved(feed, cfg, q: BaseQuery, groups: Groups | None = None) -> DataFrame:
    """A3 — union of all route-line buffers (reference
    formats/lines-dissolved.ts:16-22: buffer → simplify → union)."""
    facts, g = _facts(feed, q, groups)
    return _dissolved_features(cfg, _line_buffers(feed, cfg, facts).select(GROUP, "polygon"), g)


FORMATS = {
    "stops": fmt_stops,
    "lines": fmt_lines,
    "lines-and-stops": fmt_lines_and_stops,
    "envelope": fmt_envelope,
    "convex": fmt_convex,
    "stops-buffer": fmt_stops_buffer,
    "lines-buffer": fmt_lines_buffer,
    "stops-dissolved": fmt_stops_dissolved,
    "lines-dissolved": fmt_lines_dissolved,
}
