"""Hot-key salting: the one skew policy every operator shares, and the
only code that knows it.

A key is hot when it holds more than ``target`` rows; it gets
g = ceil(n / target) lanes. Each row on one side of a join or grouped
map takes one lane, ``pmod(xxhash64(id), g)`` (``salt``); each row on
the other side is copied into all g lanes (``fan_out``). Cold keys get
lane 0 and one copy, so they cost no extra rows. Every pair of rows
that shared a key still meets in exactly one (key, lane) group, and no
group holds more than about ``target`` rows of the salted side — the
bounded-replication grid of *Distributed Stream KNN Join* (SIGMOD
2021). AQE splits skewed join partitions at run time, but it cannot
split a grouped-map group, and salting keeps the per-task bound
whatever AQE decides.

The hot-key table holds hot keys only, so it is small enough to
broadcast into both sides' joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, target: int) -> DataFrame:
    """The values of ``key`` in ``df`` holding more than ``target``
    rows, each with its row count ``_n`` (long) and lane count ``_g`` =
    ceil(n / target) (int, at least 2). A null key never matches in the
    joins below, so a caller whose key columns may be null salts on a
    struct of them."""
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > target)
        .select(key, "_n", F.ceil(F.col("_n") / F.lit(target)).cast("int").alias("_g"))
    )


def salt(df: DataFrame, hot: DataFrame, key: str, id_col: str, lane: str = "_salt") -> DataFrame:
    """``df`` plus an int column ``lane``: ``pmod(xxhash64(id_col), g)``
    for rows of hot keys, 0 for cold keys. The lane depends only on the
    row's id, so a row keeps its lane when the plan is re-executed."""
    return df.join(F.broadcast(hot.select(key, "_g")), key, "left").withColumn(
        lane, F.coalesce(F.pmod(F.xxhash64(F.col(id_col)), F.col("_g")).cast("int"), F.lit(0))
    ).drop("_g")


def fan_out(df: DataFrame, hot: DataFrame, key: str, lane: str = "_salt") -> DataFrame:
    """``df`` with each row of a hot key copied once per lane in
    ``[0, g)`` (int column ``lane``), and each row of a cold key kept
    once with lane 0."""
    return df.join(F.broadcast(hot.select(key, "_g")), key, "left").withColumn(
        lane, F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_g"), F.lit(1)) - 1))
    ).drop("_g")
