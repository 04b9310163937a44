"""Declared queries for the Structured Streaming layer (SURVEY.md §2C
C10/C11). Streaming-only semantics have no DuckDB analog, so these are
rows-only by contract; batch parity is proven in tests/test_streaming.py
via the unified batch/stream API instead.

Each callable drains the streaming pipeline with an availableNow trigger
(process-everything-then-stop), so it returns a plain batch DataFrame the
driver can collect.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (applyInPandasWithState dependency)

from pyspark.sql import DataFrame, functions as F

from vcf2db_spark.lifecycle import Lifecycle, scratch_dir
from vcf2db_spark.registry import dq
from vcf2db_spark.session import conf_scope
from vcf2db_spark.streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    running_totals_stateful,
    session_counts,
    stage_events_dir,
    tumbling_counts,
)


def _slice_users(s: DataFrame, mod: int = 8) -> DataFrame:
    """Bounded declared input (harness convention, same as curate_docs /
    pagerank): a 1-in-``mod`` user slice (r5 default 8, was 5 — VERDICT
    r4 item 8). Every stateful mechanism under test — multi-batch
    incremental processing, watermark advance/eviction, state store
    lifecycle — fires identically on the slice; full-corpus parity is
    pytest's job (tests/test_streaming.py), and the per-round compare
    stops paying redundant state traffic. Queries whose output is a
    cross-row CORRELATION within the slice (the purchase⋈click join)
    pass a denser mod: 1-in-8 leaves zero coincident pairs at
    sf0.001 — a vacuous 0-row record proves nothing."""
    return s.filter(F.col("user_id") % mod == 0)


@dq("stream_dedup_wm")
def stream_dedup_wm(spark, sf_dir):
    """C11: stateful replay-dedup inside the watermark horizon.

    The drain skips the trailing no-data micro-batch: dedup emits every
    surviving row in the data batch itself — the watermark only EVICTS
    state — so that batch is a pure trigger round of planning/WAL/state
    commits with zero output (identity pinned per operator in
    tests/test_streaming.py)."""
    s = read_events_stream(spark, stage_events_dir(sf_dir))
    return run_to_memory(
        dedup_within_watermark(_slice_users(s)),
        "dq_stream_dedup_wm",
        final_no_data_batch=False,
    )


@dq("stream_watermark_append")
def stream_watermark_append(spark, sf_dir):
    """C10: watermark + append mode — only finalized (closed) tumbling
    windows are emitted; the tail window past the watermark is withheld."""
    s = read_events_stream(spark, stage_events_dir(sf_dir))
    return run_to_memory(
        tumbling_counts(s, watermark="10 minutes"), "dq_stream_wm_append"
    )


@dq("stream_session_stream")
def stream_session_stream(spark, sf_dir):
    """C9 in true streaming mode (batch twin: DQ stream_session)."""
    s = read_events_stream(spark, stage_events_dir(sf_dir))
    # complete mode re-emits the full result every batch — the final
    # no-data batch rewrites the identical table (identity pinned in
    # tests/test_streaming.py); skip that trigger round
    return run_to_memory(
        session_counts(_slice_users(s)),
        "dq_stream_session",
        output_mode="complete",
        final_no_data_batch=False,
    )


@dq("stream_stateful_totals")
def stream_stateful_totals(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState."""
    s = read_events_stream(spark, stage_events_dir(sf_dir))
    # update-mode applyInPandasWithState with NoTimeout only invokes the
    # function for keys PRESENT in the batch — a no-data batch invokes
    # nothing and emits nothing (identity pinned in tests/test_streaming.py)
    return run_to_memory(
        running_totals_stateful(_slice_users(s)),
        "dq_stream_stateful",
        output_mode="update",
        final_no_data_batch=False,
    )


@dq("stream_slide_stream")
def stream_slide_stream(spark, sf_dir):
    """C8 in true streaming mode (batch twin: DQ stream_slide)."""
    from vcf2db_spark.streaming import sliding_avg

    s = read_events_stream(spark, stage_events_dir(sf_dir))
    # complete mode: same no-data-batch identity as stream_session_stream
    return run_to_memory(
        sliding_avg(s), "dq_stream_slide", output_mode="complete",
        final_no_data_batch=False,
    )


@dq("stream_stream_join")
def stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream inner join (time-banded purchase⋈click);
    batch parity proven in tests/test_streaming.py."""
    from vcf2db_spark.streaming.pipelines import purchases_with_recent_clicks

    s = read_events_stream(spark, stage_events_dir(sf_dir))
    # a watermarked INNER join emits each match in the data batch that
    # completes the pair; the no-data batch only evicts buffered state
    # (identity pinned in tests/test_streaming.py) — skip that round
    return run_to_memory(
        purchases_with_recent_clicks(_slice_users(s, mod=3)),
        "dq_stream_ss_join",
        final_no_data_batch=False,
    )


_SINK_LC = Lifecycle()


@dq("stream_sink_parquet")
def stream_sink_parquet(spark, sf_dir):
    """C7 with the PRODUCTION sink: drain the tumbling-window aggregation
    through the exactly-once parquet file sink (checkpointed offsets +
    file-manifest commit protocol), then read the committed files back
    and reduce per event_type. Output and checkpoint are fresh per call,
    so the drain is a deterministic batch-equivalent run; rows-only (the
    file-sink mechanics are the thing under test — window values are
    hash-checked via stream_tumble's oracle)."""
    import os

    from pyspark.sql import functions as F

    s = read_events_stream(spark, stage_events_dir(sf_dir))
    agg = tumbling_counts(s, watermark="10 minutes")
    base = _SINK_LC.fresh_dir("sinkdq")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_value"), 6).alias("sum_value"),
    )


@dq(
    "stream_upsert",
    oracle="""
    WITH r AS (SELECT user_id, ts, event_type, value,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
    SELECT user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           event_type AS last_type,
           value AS last_value
    FROM r WHERE rn = 1
    """,
)
def stream_upsert(spark, sf_dir):
    """CDC apply as a stream: a foreachBatch keyed upsert (versioned
    parquet state emulating MERGE INTO; 3-file source → genuine
    multi-batch incremental run) whose FINAL state must equal the
    one-shot batch argmax — which is exactly what the DuckDB oracle
    computes. One of the few oracle-backed STREAMING queries: the merge
    is associative and tie-free (unique event_id), so batch boundaries
    cannot change the answer."""
    from pyspark.sql import functions as F

    from vcf2db_spark.streaming.pipelines import (
        stage_events_dir_multi,
        upsert_latest_drain,
    )

    src = stage_events_dir_multi(sf_dir, n_files=3)
    # the drain holds its work dir until the next drain
    final = upsert_latest_drain(spark, src, scratch_dir("upsert"))
    return final.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )
