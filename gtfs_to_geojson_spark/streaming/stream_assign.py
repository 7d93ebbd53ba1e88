"""Structured Streaming tile assignment (SURVEY.md §2.10 stretch).

The reference is strictly batch; this is the optional file-arrival
mode: new image parquet drops land in a directory, ``readStream``
picks them up, and the SAME assignment operators run per micro-batch —
the operator suite is stream/batch agnostic because it is pure
DataFrame composition. Late data needs no watermark here (assignment
is stateless per row); the windowed-count variant shows where a
watermark plugs in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _sink

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def stream_images(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """``max_files_per_trigger`` is the latency/throughput dial: small
    batches bound end-to-end latency; large batches amortize per-batch
    planning/commit overhead when draining a backlog (measured ~6× in
    BENCH/STREAMING.md)."""
    return (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_tile_assignments(
    spark: SparkSession, input_dir: str, res: int = 14, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming J9a: identical operator call as the batch path."""
    from ..operators.spatial import assign_images_to_tiles

    return assign_images_to_tiles(
        stream_images(spark, input_dir, max_files_per_trigger), res=res
    )


def stream_windowed_tile_counts(
    spark: SparkSession,
    input_dir: str,
    res: int = 14,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation over the stream: images per
    (tile, event-time window). Event time is derived deterministically
    from the image id (no wall clock — reproducible across runs), so
    late data is simulated by id-order vs time-order divergence. With
    append output the sink emits a window only once the watermark
    passes its end — the state-cleanup contract that makes unbounded
    streams bounded-memory."""
    tagged = stream_tile_assignments(spark, input_dir, res)
    ev = tagged.withColumn(
        "event_time",
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64("image_id"), F.lit(86400))
        ),
    )
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), "tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "tile",
            "n_images",
        )
    )


def run_windowed_counts_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    res: int = 14,
    timeout_s: float | None = None,
):
    """Append-mode windowed sink: only watermark-closed windows are
    emitted; restart resumes from the checkpoint's state store."""
    counts = stream_windowed_tile_counts(spark, input_dir, res)
    return _sink.start(
        counts.writeStream.format("parquet").option("path", output_dir), checkpoint_dir, timeout_s
    )


def run_stream_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    res: int = 14,
    timeout_s: float | None = None,
    max_files_per_trigger: int = 8,
):
    """Sink assignments to parquet with exactly-once file semantics —
    the streaming twin of the lineage manifest (checkpoint_dir holds
    the processed-files log, so a restart resumes without recompute).
    Returns the StreamingQuery (caller stops it / awaits timeout)."""
    assigned = stream_tile_assignments(spark, input_dir, res, max_files_per_trigger)
    return _sink.start(
        assigned.writeStream.format("parquet").option("path", output_dir), checkpoint_dir, timeout_s
    )


def stream_decode_tile_assignments(
    spark: SparkSession, input_dir: str, res: int = 14, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming J9c: the full-integrity decode→verify→assign chain
    (`multimodal.decode_tile_assign` — Arrow-batched pixel decode, phash
    / PSNR verification, tile assignment) behind ``readStream``. The
    operator is stream/batch agnostic (mapInPandas is stateless per
    row), so this is the identical kernel the batch bench times as
    j9c_decode_tile_assign. Caption is projected out before the sink:
    the stream's deliverable is (assignment, verification verdict), and
    keeping the sink narrow keeps a decode-bound drain decode-bound."""
    from ..operators.multimodal import decode_tile_assign

    return decode_tile_assign(
        stream_images(spark, input_dir, max_files_per_trigger), res=res
    ).select("image_id", "tile", "phash_match")


def run_decode_stream_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    res: int = 14,
    timeout_s: float | None = None,
    max_files_per_trigger: int = 8,
):
    """Decode-verify-assign stream → parquet sink, exactly-once via the
    checkpoint's processed-files log (same contract as
    run_stream_to_parquet; the per-row work is ~100× heavier)."""
    assigned = stream_decode_tile_assignments(
        spark, input_dir, res, max_files_per_trigger
    )
    return _sink.start(
        assigned.writeStream.format("parquet").option("path", output_dir), checkpoint_dir, timeout_s
    )


def stream_dedup_first_seen(spark: SparkSession, input_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    cross-micro-batch exact dedup by phash — the streaming twin of
    dedup.exact_dedup. State per phash records that a representative
    was already emitted; later occurrences (same batch, later batch,
    or after a checkpointed restart) emit nothing. Deterministic
    representative: smallest image_id within the first batch seen.
    """
    import pandas as pd  # noqa: F811
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    imgs = stream_images(spark, input_dir).select("image_id", "phash", "caption")

    def dedup_fn(key, pdfs, state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain; already emitted for this phash
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            cand = pdf.loc[pdf["image_id"].idxmin()]
            if best is None or cand["image_id"] < best["image_id"]:
                best = cand
        if best is not None:
            state.update((1,))
            yield pd.DataFrame(
                {
                    "phash": [int(key[0])],
                    "image_id": [best["image_id"]],
                    "caption": [best["caption"]],
                }
            )

    return imgs.groupBy("phash").applyInPandasWithState(
        dedup_fn,
        "phash long, image_id string, caption string",
        "seen int",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_dedup_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: float | None = None,
):
    """Append sink for the stateful dedup; the checkpoint's state store
    carries seen-phash state across restarts (exactly-once emission)."""
    deduped = stream_dedup_first_seen(spark, input_dir)
    return _sink.start(
        deduped.writeStream.format("parquet").option("path", output_dir), checkpoint_dir, timeout_s
    )


BOX_SCHEMA = "bid long, min_lon double, min_lat double, max_lon double, max_lat double"


def stream_envelope_assignments(
    spark: SparkSession,
    input_dir: str,
    zones: DataFrame,
    res: int = 14,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming J10: a stream of envelopes (image footprints, AOI
    boxes) overlay-joined against a STATIC zone table with the same
    ``envelope_intersect_join`` call as batch — the overlay is
    stateless per row (cover explode → stream-static equi-join →
    canonical-cell filter), so no watermark or state store is needed
    and restart semantics come entirely from the file-source /
    checkpoint contract. Salting stays off (it needs a pre-count the
    unbounded stream can't provide); dense-zone skew is bounded by the
    static side instead: the per-micro-batch join replicates zones at
    most cells-per-zone times."""
    from ..operators.overlap import envelope_intersect_join

    boxes = (
        spark.readStream.schema(BOX_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return envelope_intersect_join(boxes, zones, res=res)


def run_envelope_stream_to_parquet(
    spark: SparkSession,
    input_dir: str,
    zones: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    res: int = 14,
    timeout_s: float | None = None,
):
    """Append-mode overlay sink; availableNow drains the backlog and
    the checkpoint makes a second invocation process ONLY new drops."""
    out = stream_envelope_assignments(spark, input_dir, zones, res)
    return _sink.start(
        out.writeStream.format("parquet").option("path", output_dir), checkpoint_dir, timeout_s
    )


POINT_SCHEMA = "point_id long, lon double, lat double"


def stream_rasterize_counts(
    spark: SparkSession,
    input_dir: str,
    tile_res: int = 14,
    px_bits: int = 4,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming R1: a live density raster over a point stream — the
    identical ``rasterize_counts`` call as batch (the operator is pure
    DataFrame composition, so the stamp + groupBy lift to Structured
    Streaming unchanged). Unlike most unbounded streaming aggregations
    this one needs NO watermark to stay bounded: the aggregation state
    IS the raster, capped at occupied_tiles·(2^px_bits)² rows no
    matter how many points flow through — the same raster-bounded
    property the 1.07B-point batch row measures
    (BENCH/ROBUSTNESS.md §Rasterization)."""
    from ..operators.raster import rasterize_counts

    pts = (
        spark.readStream.schema(POINT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return rasterize_counts(pts.select("lon", "lat"), tile_res, px_bits)


def run_rasterize_stream_to_memory(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    table_name: str,
    tile_res: int = 14,
    px_bits: int = 4,
    timeout_s: float | None = None,
    max_files_per_trigger: int = 8,
):
    """Complete-mode raster sink: every trigger re-emits the whole
    (raster-bounded) count table, so a consumer always reads a
    consistent full heat map; the checkpointed state store carries the
    counts across restarts — a second invocation reads ONLY new point
    drops yet still emits the cumulative raster.
    ``max_files_per_trigger`` is the latency/throughput dial: small
    batches for a live map, large ones to drain a backlog (per-batch
    state-commit cost is fixed — see tools/stream_raster_bench.py)."""
    counts = stream_rasterize_counts(
        spark, input_dir, tile_res, px_bits, max_files_per_trigger
    )
    return _sink.start(
        counts.writeStream.format("memory")
        .queryName(table_name)
        .outputMode("complete"),
        checkpoint_dir,
        timeout_s,
    )
