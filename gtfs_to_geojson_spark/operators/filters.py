"""Predicate / filter operators F1–F7 (SURVEY.md §2.2).

The reference threads a ``query`` object ``{service_id[], route_id,
direction_id, shape_id}`` through every table read
(src/lib/gtfs-to-geojson.ts:122-127,149-151,192-196). Here that is a
small composition of ``filter`` + broadcast left-semi joins built once
and reused — Catalyst pushes the equality predicates into the scans.

Every run writes one file per group. A group is a row of a small group
table: ``GROUP`` (its index) plus the equality keys of its
``BaseQuery.with_eq``; a run without per-group keys has one group
(``one_group``). ``trip_facts`` joins trips to that table by the same
rule and to stop_times once; every GTFS operator and format reads its
``TripFacts`` and carries ``GROUP`` through its keys, so one plan
computes every group at once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import StructType


@dataclass
class BaseQuery:
    """The reference's threaded query predicate (its only IR)."""

    service_ids: DataFrame | None = None  # F1 result, or None = no date filter
    eq: dict[str, object] = field(default_factory=dict)  # F3 equality keys

    def with_eq(self, **kv) -> "BaseQuery":
        merged = dict(self.eq)
        merged.update({k: v for k, v in kv.items() if v is not None})
        return BaseQuery(self.service_ids, merged)


def service_window(calendar: DataFrame, start_date: str | None, end_date: str | None) -> DataFrame | None:
    """F1 — interval-overlap service filter
    (reference src/lib/gtfs-to-geojson.ts:49-71):
    ``start_date <= :endDate AND end_date >= :startDate``, each side
    optional; lexicographic compare on fixed-width YYYYMMDD strings.
    Returns a DataFrame of matching service_id, or None when no window
    was requested (the reference skips the filter entirely)."""
    if start_date is None and end_date is None:
        return None
    df = calendar
    if end_date is not None:
        df = df.filter(F.col("start_date") <= F.lit(str(end_date)))
    if start_date is not None:
        df = df.filter(F.col("end_date") >= F.lit(str(start_date)))
    return df.select("service_id").distinct()


def apply_query(df: DataFrame, q: BaseQuery) -> DataFrame:
    """F2 (service semi-join) + F3 (equality keys) on any table that
    has the relevant columns — mirrors node-gtfs applying the threaded
    baseQuery to every read."""
    out = df
    for k, v in q.eq.items():
        if k in out.columns:
            out = out.filter(F.col(k) == F.lit(v))
    if q.service_ids is not None and "service_id" in out.columns:
        out = out.join(broadcast(q.service_ids), "service_id", "left_semi")
    return out


GROUP = "_group"


def group_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A group table from driver-side rows. Built from pandas so that it
    is a local relation: the planner knows its size, and broadcasting
    it runs no Spark job."""
    st = StructType.fromDDL(schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=st.names, dtype=object), st)


def one_group(spark: SparkSession) -> DataFrame:
    """The group table of a run without per-group keys: one group, 0."""
    return group_table(spark, [(0,)], f"{GROUP} int")


def query_trips(trips: DataFrame, q: BaseQuery, groups: DataFrame) -> DataFrame:
    """``apply_query`` on trips, then each trip tagged with the ``GROUP``
    of every group it belongs to. A group's null key matches every
    value, as ``with_eq`` drops None keys, so a trip with a null
    ``direction_id`` and a trip of direction 0 both belong to the
    route's null-direction group. Non-nullable keys stay equi-join keys."""
    t = apply_query(trips, q)
    keys = [f for f in groups.schema.fields if f.name != GROUP]
    g = broadcast(groups.select(GROUP, *[F.col(f.name).alias("_g_" + f.name) for f in keys]))
    if not keys:
        return t.crossJoin(g)
    cond = None
    for f in keys:
        c = t[f.name] == g["_g_" + f.name]
        if f.nullable:
            c = g["_g_" + f.name].isNull() | c
        cond = c if cond is None else cond & c
    return t.join(g, cond).drop(*["_g_" + f.name for f in keys])


@dataclass(frozen=True)
class TripFacts:
    """Which trips go to which output group, and what they touch — the
    one derivation every GTFS operator and format reads.

    * ``trips``: ``GROUP, trip_id, route_id, direction_id, shape_id``
    * ``stop_rows``: ``trips`` joined to stop_times, adding ``stop_id,
      stop_sequence``
    * ``pairs``: distinct ``GROUP, shape_id, route_id`` of the trips
      with a shape (J2, A4 DISTINCT)
    * ``shaped``: the ``GROUP`` of every group whose trips reach a shape
      in the shapes TABLE. The other groups get stop-derived lines: the
      reference's early exit (geojson-utils.ts:212-215), decided per
      group. A feed whose shapes file is missing or excluded at import
      (README.md:161-169) still carries shape_ids on trips, and falls
      back.
    """

    trips: DataFrame
    stop_rows: DataFrame
    pairs: DataFrame
    shaped: DataFrame

    def shapeless_stop_rows(self) -> DataFrame:
        """The stop rows that stop-derived lines are built from: trips
        without a shape_id, in the groups without shapes."""
        return self.stop_rows.where(F.col("shape_id").isNull()).join(self.shaped, GROUP, "left_anti")


def trip_facts(feed: dict[str, DataFrame], q: BaseQuery, groups: DataFrame) -> TripFacts:
    """The trips of every group under ``q`` (``query_trips``) and their
    stop rows. Ungrouped callers pass ``one_group`` and drop ``GROUP``."""
    trips = query_trips(feed["trips"], q, groups).select(
        GROUP, "trip_id", "route_id", "direction_id", "shape_id"
    )
    stop_rows = feed["stop_times"].select("trip_id", "stop_id", "stop_sequence").join(trips, "trip_id")
    pairs = trips.where(F.col("shape_id").isNotNull()).select(GROUP, "shape_id", "route_id").distinct()
    shaped = pairs.join(feed["shapes"], "shape_id", "left_semi").select(GROUP)
    return TripFacts(trips, stop_rows, pairs, shaped)


def filter_used_stops(stops: DataFrame, facts: TripFacts) -> DataFrame:
    """F4 — "Only stops which are used in one or more routes will be
    output" (README.md:231; CHANGELOG v3.4.0): the stops of each group's
    stop rows, with ``GROUP`` appended to the stop columns, plus the
    parent stations whose children are used (observed in
    examples/stops.geojson: parent stations appear with empty routes)."""
    cols = [*stops.columns, GROUP]
    used = facts.stop_rows.select(GROUP, "stop_id").distinct()
    direct = stops.join(used, "stop_id").select(*cols)
    parents = (
        stops.join(
            direct.select(GROUP, F.col("parent_station").alias("stop_id"))
            .where(F.col("stop_id").isNotNull())
            .distinct(),
            "stop_id",
        )
        .filter(F.col("location_type") == 1)
        .select(*cols)
    )
    return direct.unionByName(parents).dropDuplicates([GROUP, "stop_id"])
