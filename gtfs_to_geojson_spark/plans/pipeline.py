"""End-to-end run orchestration — the reference's buildGeoJSON
(src/lib/gtfs-to-geojson.ts:115-249) re-expressed.

The reference runs one query per output file under pLimit(20). Here a
run is one Spark plan. The driver collects only the group keys and
builds a group table, one row per output file:

* ``agency`` — one group, no keys (ts:236-243)
* ``route``  — one per (route_id, direction_id) left after the
  headsign dedup of the trips (ts:167-235)
* ``shape``  — one per distinct shape_id (ts:129-166)

File names are assigned on the driver in sorted key order (S7, with the
duplicate index). The format then computes every group's features in
one DataFrame with the group index as a column (``filters.trip_facts``
joins trips to groups), and one driver-side sink streams it into the
files. The job count of a run does not grow with the number of groups.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession

from .. import sinks
from ..operators import formats as fmt_mod
from ..operators import relational
from ..operators.filters import GROUP, BaseQuery, apply_query, group_table, one_group, service_window, trip_facts
from .run_spec import RunSpec


def build_base_query(feed, cfg: RunSpec) -> BaseQuery:
    """F1 + F2 — the reference's baseQuery construction
    (src/lib/gtfs-to-geojson.ts:122-127)."""
    svc = service_window(feed["calendar"], cfg.start_date, cfg.end_date)
    return BaseQuery(service_ids=svc)


def run(spark: SparkSession, feed: dict[str, DataFrame], cfg: RunSpec) -> dict:
    """Execute one run; returns stats (S9 — the reference logs feed
    version, counts, and a per-agency timer, src/lib/log-utils.ts and
    gtfs-to-geojson.ts:316-328)."""
    t0 = time.time()
    q = build_base_query(feed, cfg)
    fmt = fmt_mod.FORMATS[cfg.output_format]
    out_dir = cfg.out_dir or "./geojson_out"
    sinks.prep_directory(out_dir, cfg.overwrite)

    agency = fmt_mod.agency_name(feed)
    names, table = _groups(spark, feed, cfg, q, agency)
    feats = fmt(feed, cfg, q, fmt_mod.Groups(table, agency))
    files = sinks.write_geojson_groups(feats, [os.path.join(out_dir, n) for n in names])

    if cfg.zip_output:
        sinks.zip_outputs(out_dir, os.path.join(out_dir, "geojson.zip"))

    stats = {
        "files": len(files),
        "features": int(sum(f["n_features"] for f in files)),
        "bytes": int(sum(f["bytes"] for f in files)),
        "seconds": round(time.time() - t0, 3),
        "feed_version": _feed_version(feed),
        "output_format": cfg.output_format,
        "output_type": cfg.output_type,
        "outputs": files,
    }
    with open(os.path.join(out_dir, "log.json"), "w") as f:
        json.dump(stats, f, indent=1)
    return stats


def _groups(spark, feed, cfg: RunSpec, q: BaseQuery, agency: str | None) -> tuple[list[str], DataFrame]:
    """File names and the group table (``GROUP`` = index into the
    names). Only the key lists are collected (feed cardinality)."""
    types = dict(feed["trips"].dtypes)
    if cfg.output_type == "agency":
        name = agency.replace(" ", "-").lower() if agency else "agency"
        return [name + ".geojson"], one_group(spark)
    if cfg.output_type == "shape":
        # DISTINCT shape_ids (A4; reference ts:132), one file per shape
        shape_ids = sorted(
            r[0] for r in relational.route_shape_pairs(trip_facts(feed, q, one_group(spark)))
            .select("shape_id").distinct().collect()
        )
        rows = list(enumerate(shape_ids))
        names = [f"{_safe(sid)}.geojson" for sid in shape_ids]
        return names, group_table(spark, rows, f"{GROUP} int, shape_id {types['shape_id']} not null")
    if cfg.output_type == "route":
        # per route: headsign-deduped trips give the direction set
        # (reference ts:181-196: uniqBy headsign, then per direction)
        routes = apply_query(feed["routes"], q)
        trips_proj = apply_query(feed["trips"], q).select(
            "trip_id", "route_id", "direction_id", "trip_headsign"
        )
        dirs = (
            relational.headsign_dedup(trips_proj)
            .select("route_id", "direction_id")
            .distinct()
            .join(routes.select("route_id", "agency_id", "route_short_name"), "route_id")
            .collect()
        )
        seen: dict[str, int] = {}
        names, rows = [], []
        for row in sorted(dirs, key=lambda r: (str(r["route_id"]), str(r["direction_id"]))):
            # S7 filename: agency_id?_route_short_name?_route_id_direction
            parts = [row["agency_id"], row["route_short_name"], row["route_id"]]
            if row["direction_id"] is not None:
                parts.append(str(row["direction_id"]))
            base = _safe("_".join(str(p) for p in parts if p is not None))
            idx = seen.get(base)
            seen[base] = (idx or 0) + 1
            names.append(base + (f"_{idx}" if idx else "") + ".geojson")
            rows.append((len(rows), row["route_id"], row["direction_id"]))
        schema = f"{GROUP} int, route_id {types['route_id']} not null, direction_id {types['direction_id']}"
        return names, group_table(spark, rows, schema)
    raise ValueError(f"unknown output_type: {cfg.output_type}")


def _safe(s: str) -> str:
    return re.sub(r'[\\/:*?"<>|\x00-\x1f]', "", s)


def _feed_version(feed) -> str:
    fi = feed.get("feed_info")
    if fi is not None:
        row = fi.limit(1).collect()
        if row:
            return row[0]["feed_version"]
    return "Unknown"  # reference fallback, src/lib/log-utils.ts:13-17
