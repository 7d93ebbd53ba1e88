"""Streaming as-of enrichment (custom stateful temporal operator).

The streaming twin of ``relational.asof_join``: purchases arriving on
an event stream are enriched with the latest click at-or-before them
per user. State per user = (latest click time, click id) — O(1) per
key, checkpointed, carried across micro-batches and restarts.

Contract: exact when drops arrive in event-time order across batches
(rows within a batch are sorted before processing, so intra-batch
disorder is always handled); a click arriving in a LATER batch than a
purchase it precedes in event time cannot retroactively enrich it —
the standard non-watermarked enrichment semantics. The test splits a
fixture at a time boundary and checks bit-equality with the batch
asof_join.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from . import _sink

EVENT_SCHEMA = "event_id long, t_us long, user_id long, event_type string"


def stream_asof_enrich(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 64
) -> DataFrame:
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            latest_t, latest_id = state.get
        else:
            latest_t, latest_id = None, None
        out = []
        for pdf in pdfs:
            # event-time order within the batch; 'click' < 'purchase'
            # lexicographically, so a click at the same instant as a
            # purchase is applied first (matches asof_join's ts >= rule)
            pdf = pdf.sort_values(["t_us", "event_type", "event_id"])
            for eid, t, et in zip(pdf["event_id"], pdf["t_us"], pdf["event_type"]):
                if et == "click":
                    # Tie rule must match batch asof_join's oracle, which
                    # dedups equal-timestamp clicks keeping MAX event_id:
                    # replace state only when (t, event_id) is strictly
                    # greater, so a later-arriving batch carrying an equal-t
                    # but lower-id click cannot overwrite.
                    if latest_t is None or (int(t), int(eid)) > (latest_t, latest_id):
                        latest_t, latest_id = int(t), int(eid)
                elif et == "purchase":
                    out.append((int(key[0]), int(eid), int(t), latest_id, latest_t))
        if latest_t is not None:
            state.update((latest_t, latest_id))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "purchase_id", "t_us", "click_id", "click_t"]
            )

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        "user_id long, purchase_id long, t_us long, click_id long, click_t long",
        "t long, cid long",
        "append",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_asof_to_parquet(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    timeout_s: float | None = None,
):
    return _sink.start(
        stream_asof_enrich(spark, input_dir)
        .writeStream.format("parquet")
        .option("path", output_dir),
        checkpoint_dir,
        timeout_s,
    )
