"""Column-level scalar helpers (SURVEY.md §2.9) — built-ins only.

Everything here compiles to JVM expressions inside whole-stage codegen;
no Python crosses the row path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex_color(col: Column) -> Column:
    """`#RRGGBB` formatting with null passthrough (G11/P3; reference
    src/lib/geojson-utils.ts:18-24 — prepends '#' only when set)."""
    return F.when(col.isNotNull(), F.concat(F.lit("#"), col))


def sanitize_filename(col: Column) -> Column:
    """Strip characters unsafe in filenames (G7; reference uses the
    `sanitize-filename` package at src/lib/file-utils.ts:8,120 — we pin
    the same observable effect: reserved chars removed)."""
    return F.regexp_replace(col, r'[\\/:*?"<>|\x00-\x1f]', "")


def yyyymmdd(ts: Column) -> Column:
    """Timestamp → fixed-width YYYYMMDD string; lexicographic compare is
    then order-equivalent to date compare (G12; reference compares
    date strings, src/lib/gtfs-to-geojson.ts:55,59)."""
    return F.date_format(ts, "yyyyMMdd")


def round_coords_point(c: Column, p: int | None) -> Column:
    if p is None:
        return c
    return F.transform(c, lambda x: F.round(x, p))


def round_coords_line(c: Column, p: int | None) -> Column:
    if p is None:
        return c
    return F.transform(c, lambda a: F.transform(a, lambda x: F.round(x, p)))


def round_coords_multiline(c: Column, p: int | None) -> Column:
    if p is None:
        return c
    return F.transform(
        c, lambda ln: F.transform(ln, lambda a: F.transform(a, lambda x: F.round(x, p)))
    )


# Polygon has the same nesting depth as MultiLineString
round_coords_polygon = round_coords_multiline


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle meters as a pure Column expression (JVM-side)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * 6_371_008.8) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
