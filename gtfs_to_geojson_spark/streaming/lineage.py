"""Checkpointed per-partition lineage — resumable batch (north rule).

The reference's only incremental behavior is ``skipImport`` whole-run
reuse (src/lib/gtfs-to-geojson.ts:287). The engine generalizes it to
partition granularity: work is bucketed by a stable key (cell bucket),
each completed bucket appends a manifest row
``(bucket, status, rows, ms, attempt)`` to a parquet manifest, and a
restart skips every bucket the manifest records as done, so only
missing buckets recompute (SURVEY.md §4 resume/lineage).

No Structured Streaming is needed — the reference is strictly batch —
but the manifest directory is exactly the shape a
``foreachBatch`` sink would keep, so a streaming source can reuse it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gtfs_to_geojson_spark.stages import mkdirs

MANIFEST_SCHEMA = "bucket long, status string, rows long, ms double, attempt int"


class LineageManifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        mkdirs(spark, path)

    def completed_buckets(self) -> DataFrame:
        """Buckets already done (idempotent re-reads tolerated). The
        schema-typed read returns no rows for an empty manifest."""
        return (
            self.spark.read.schema(MANIFEST_SCHEMA)
            .parquet(self.path)
            .filter(F.col("status") == "done")
            .select("bucket")
            .distinct()
        )

    def mark_done(self, rows: list[tuple[int, int, float]], attempt: int = 1) -> None:
        """Append manifest rows (bucket, n_rows, ms): one small parquet
        file per commit batch. Spark's commit protocol keeps a killed
        append's partial file in hidden ``_temporary`` staging, so the
        resume read never sees it."""
        self.spark.createDataFrame(
            [(int(b), "done", int(n), float(ms), attempt) for b, n, ms in rows],
            MANIFEST_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(self.path)


def run_bucketed_waves(
    spark: SparkSession,
    inputs: DataFrame,
    bucket_col: str,
    out_dir: str,
    manifest: LineageManifest,
    wave_size: int = 64,
    select_cols: list | None = None,
) -> tuple[int, int]:
    """Process every bucket with no 'done' manifest row, in WAVES: one
    partitioned write per wave_size buckets instead of one driver-loop
    job per bucket (thousands of buckets ⇒ thousands of tiny jobs is a
    driver bottleneck). Dynamic partition overwrite means a killed wave
    re-runs cleanly: only its own bucket directories are replaced, and
    completed waves' manifest rows keep them out of the pending set.
    Returns (n_buckets_processed, n_skipped).
    """
    all_buckets = [r[0] for r in inputs.select(bucket_col).distinct().collect()]
    done = {r[0] for r in manifest.completed_buckets().collect()}
    todo = sorted(b for b in all_buckets if b not in done)

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for i in range(0, len(todo), wave_size):
            wave = todo[i : i + wave_size]
            t0 = time.time()
            df = inputs.filter(F.col(bucket_col).isin([int(b) for b in wave]))
            if select_cols:
                df = df.select(*select_cols)
            df.write.mode("overwrite").partitionBy(bucket_col).parquet(out_dir)
            # manifest row counts come from the COMMITTED output, not a
            # re-execution of the wave pipeline: the partition filter
            # prunes to this wave's bucket dirs and only the partition
            # column is read, so the count is parquet-footer metadata —
            # the upstream compute (decode/join) runs exactly once
            counts = {
                r[0]: r[1]
                for r in spark.read.parquet(out_dir)
                .filter(F.col(bucket_col).isin([int(b) for b in wave]))
                .groupBy(bucket_col)
                .count()
                .collect()
            }
            ms = (time.time() - t0) * 1000.0 / max(1, len(wave))
            manifest.mark_done([(int(b), int(counts.get(b, 0)), ms) for b in wave])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    return len(todo), len(all_buckets) - len(todo)
