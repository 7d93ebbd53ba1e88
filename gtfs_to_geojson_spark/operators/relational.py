"""Relational joins + ordered aggregations (J1–J5, A4–A10, O1–O3).

These produce the intermediate DataFrames every output format consumes.
All ordering-sensitive reference semantics (uniqBy first-wins, maxBy,
stoptimes order, toposort fallback) are made explicitly deterministic —
never dependent on Spark row order (SURVEY.md §7 hard part 2).

The trip-driven operators read one ``filters.TripFacts`` (the grouped
trips and their stop rows); ``GROUP`` joins every key they group, join
or deduplicate on.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .filters import GROUP, TripFacts, filter_used_stops


def route_props(routes: DataFrame, route_attributes: DataFrame | None) -> DataFrame:
    """Route dimension with formatted colors (P3) and optional
    route_attributes left-joined (J3; reference
    src/lib/geojson-utils.ts:223-225,238-239)."""
    from ..functions.geo import hex_color

    out = routes.select(
        "route_id",
        "agency_id",
        "route_short_name",
        "route_long_name",
        "route_type",
        hex_color(F.col("route_color")).alias("route_color"),
        hex_color(F.col("route_text_color")).alias("route_text_color"),
        "route_url",
    )
    if route_attributes is not None:
        out = out.join(broadcast(route_attributes), "route_id", "left")
    return out


ROUTE_STRUCT_COLS = [
    "route_id", "agency_id", "route_short_name", "route_long_name",
    "route_type", "route_color", "route_text_color", "route_url",
]


def stops_with_routes(stops: DataFrame, routes: DataFrame, facts: TripFacts) -> DataFrame:
    """J1 + A10 — used stops, each with a sorted array of serving-route
    structs (examples/stops.geojson: per-stop ``routes`` array; parent
    stations carry an empty one). Route dimension is broadcast."""
    links = facts.stop_rows.select(GROUP, "stop_id", "route_id").distinct()
    rp = route_props(routes, None).select(*ROUTE_STRUCT_COLS)
    stop_routes = (
        links.join(broadcast(rp), "route_id")
        .groupBy(GROUP, "stop_id")
        .agg(F.sort_array(F.collect_set(F.struct(*ROUTE_STRUCT_COLS))).alias("routes"))
    )
    used = filter_used_stops(stops, facts)
    return used.join(stop_routes, [GROUP, "stop_id"], "left").withColumn(
        "routes", F.coalesce(F.col("routes"), F.array().cast(stop_routes.schema["routes"].dataType))
    )


def shape_linestrings(shapes: DataFrame) -> DataFrame:
    """A8 — window-ordered LineString assembly: shape points →
    ``array<array<double>>`` ordered by shape_pt_sequence. Pure
    DataFrame: ``array_sort(collect_list(struct(seq, coord)))`` — the
    struct sorts by its first field, so no wide sort and no UDF.
    (Reference: getShapesAsGeoJSON ordering, geojson-utils.ts:210-215.)
    """
    return (
        shapes.groupBy("shape_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("shape_pt_sequence").alias("seq"),
                            F.array("shape_pt_lon", "shape_pt_lat").alias("coord"),
                        )
                    )
                ),
                lambda x: x["coord"],
            ).alias("coordinates")
        )
    )


def route_shape_pairs(facts: TripFacts) -> DataFrame:
    """J2 — distinct ``GROUP, shape_id, route_id`` under the query (A4
    DISTINCT)."""
    return facts.pairs


def route_multilinestrings(
    shapes: DataFrame, routes: DataFrame, route_attributes: DataFrame | None, facts: TripFacts
) -> DataFrame:
    """J2 + A9 — one MultiLineString per route: every shape LineString
    of the route collected (sorted by shape_id for determinism), route
    props + optional attributes attached (examples/lines.geojson).
    Each shape is assembled once, however many groups use it."""
    pairs = route_shape_pairs(facts)
    ls = shape_linestrings(shapes.join(pairs.select("shape_id").distinct(), "shape_id", "left_semi"))
    per_route = (
        ls.join(pairs, "shape_id")
        .groupBy(GROUP, "route_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("shape_id"), F.col("coordinates").alias("c")))
                ),
                lambda x: x["c"],
            ).alias("coordinates")
        )
    )
    return per_route.join(broadcast(route_props(routes, route_attributes)), "route_id")


def headsign_dedup(trips_proj: DataFrame) -> DataFrame:
    """A5 — ``uniqBy(trips, 'trip_headsign')`` first-wins
    (reference src/lib/gtfs-to-geojson.ts:189). Spark has no row order,
    so "first" is pinned to min trip_id — deterministic where the
    reference's depends on SQLite retrieval order."""
    w = Window.partitionBy("trip_headsign").orderBy("trip_id")
    return (
        trips_proj.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# O2 — stop-graph toposort with cycle fallback (grouped-map kernel)
# ---------------------------------------------------------------------------


def _toposort_stop_order(pdf: pd.DataFrame) -> list[str]:
    """Kahn's algorithm over consecutive per-trip stop pairs, pinned
    deterministic (lexicographically smallest ready node first).
    Mirrors reference geojson-utils.ts:183-206: edge list from
    consecutive stops; on cycle fall back to the longest trip's order
    (maxBy, ties → smallest trip_id)."""
    edges: set[tuple[str, str]] = set()
    nodes: set[str] = set()
    by_trip: dict[str, list[tuple[int, str]]] = {}
    for trip_id, seq, sid in zip(pdf["trip_id"], pdf["stop_sequence"], pdf["stop_id"]):
        by_trip.setdefault(trip_id, []).append((seq, sid))
    trip_orders = {
        t: [s for _, s in sorted(v, key=lambda x: (x[0], x[1]))] for t, v in by_trip.items()
    }
    for order in trip_orders.values():
        nodes.update(order)
        for a, b in zip(order, order[1:]):
            if a != b:
                edges.add((a, b))
    succ: dict[str, set[str]] = {n: set() for n in nodes}
    indeg: dict[str, int] = {n: 0 for n in nodes}
    for a, b in edges:
        if b not in succ[a]:
            succ[a].add(b)
            indeg[b] += 1
    import heapq

    ready = [n for n in nodes if indeg[n] == 0]
    heapq.heapify(ready)
    out: list[str] = []
    while ready:
        n = heapq.heappop(ready)
        out.append(n)
        for m in sorted(succ[n]):
            indeg[m] -= 1
            if indeg[m] == 0:
                heapq.heappush(ready, m)
    if len(out) != len(nodes):
        # cycle → longest trip (A6 fallback): max length, ties → smallest trip_id
        max_len = max(len(v) for v in trip_orders.values())
        cands = sorted(t for t, v in trip_orders.items() if len(v) == max_len)
        out = trip_orders[cands[0]]
    return out


def stop_derived_linestrings(
    stops: DataFrame, routes: DataFrame, route_attributes: DataFrame | None, facts: TripFacts
) -> DataFrame:
    """Stop-derived LineString per (route_id, direction_id) of the
    groups without shapes (reference geojson-utils.ts:209-253:
    toposorted stop graph, cycle → longest trip, then position-preserving
    stop lookup J4). Grouped-map kernel per route — each group's graph
    is tiny, so imperative logic is appropriate here and nowhere else."""
    keys = [GROUP, "route_id", "direction_id"]
    st = (
        facts.shapeless_stop_rows()
        .join(stops.select("stop_id", "stop_lat", "stop_lon"), "stop_id")
        .select(*keys, "trip_id", "stop_sequence", "stop_id", "stop_lat", "stop_lon")
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        order = _toposort_stop_order(pdf)
        pos = {s: i for i, s in enumerate(order)}
        coords = [[None, None]] * len(order)
        for sid, lat, lon in zip(pdf["stop_id"], pdf["stop_lat"], pdf["stop_lon"]):
            coords[pos[sid]] = [float(lon), float(lat)]
        return pd.DataFrame({**{k: [v] for k, v in zip(keys, key)}, "coordinates": [coords]})

    types = dict(st.dtypes)
    out_schema = ", ".join(f"{k} {types[k]}" for k in keys) + ", coordinates array<array<double>>"
    lines = st.groupBy(*keys).applyInPandas(kernel, out_schema)
    return lines.join(broadcast(route_props(routes, route_attributes)), "route_id")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    right_payload_cols: list[str],
    how: str = "left",
) -> DataFrame:
    """As-of join (engine-new; the custom temporal operator Spark lacks
    natively): attach to every left row the most recent right row with
    ``right.ts <= left.ts`` within the same key.

    Scale shape: NOT a range cross join. Both sides are tagged, unioned,
    and a single running ``last(payload, ignoreNulls)`` window over
    ``(ts, side)`` per key carries the latest right payload forward to
    each left row — one shuffle on the key, state bounded by one payload
    per row, no candidate blowup however dense the right side is.

    Determinism: right rows sort before left rows at equal ts (ties at
    the same instant match), and callers must pre-deduplicate right
    rows sharing (key, ts) — same contract DuckDB's native ASOF JOIN
    leaves implementation-defined. Output: all left columns + struct
    column ``_asof`` with the matched right payload (null when no right
    row precedes; dropped when how='inner')."""
    payload = F.struct(*[F.col(c) for c in right_payload_cols]).alias("_asof")
    r = right.select(
        F.col(key_col), F.col(ts_col), F.lit(0).alias("_side"), payload
    )
    payload_t = r.schema["_asof"].dataType
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
    ).withColumn("_side", F.lit(1)).withColumn(
        "_asof", F.lit(None).cast(payload_t)
    )
    u = l.select(key_col, ts_col, "_side", "_asof", *[c for c in left_cols if c not in (key_col, ts_col)]).unionByName(
        r, allowMissingColumns=True
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_asof", ignorenulls=True).over(w))
    out = matched.filter(F.col("_side") == 1).drop("_side", "_asof").withColumnRenamed("_m", "_asof")
    if how == "inner":
        out = out.filter(F.col("_asof").isNotNull())
    elif how != "left":
        raise ValueError(f"how must be left|inner, got {how!r}")
    return out


def interval_point_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    ts_col: str,
    bucket_width: int,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Interval ⋈ point temporal join (engine-new): every (interval,
    point) pair with ``start <= ts <= end`` — the 1D analog of the
    spatial cell prejoin (J6). Values are integers (e.g. epoch µs).

    Scale shape: each interval explodes to its covering buckets
    (``sequence`` — ceil(len/width)+1 rows, bounded for bounded
    intervals), each point maps to exactly ONE bucket; the bucket (plus
    optional equi-keys) turns the range theta join into a hash join,
    and the exact residual runs after. No O(|I|·|P|) blowup, skew
    handled by AQE like any hash join."""
    key_cols = key_cols or []
    b = F.lit(int(bucket_width)).cast("long")
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (F.col(start_col).cast("long") / b).cast("long"),
                (F.col(end_col).cast("long") / b).cast("long"),
            )
        ),
    )
    pt = points.withColumn("_bucket", (F.col(ts_col).cast("long") / b).cast("long"))
    joined = pt.join(iv, ["_bucket"] + key_cols)
    return joined.filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
    ).drop("_bucket")
