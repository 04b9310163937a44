"""M5 Structured Streaming smoke + batch-parity tests (SURVEY.md §2C
C7-C11). Each streaming pipeline is drained with an availableNow trigger
and compared against the equivalent batch computation on the same input —
the unified-API guarantee Spark makes and we rely on.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from vcf2db_spark.io import table
from vcf2db_spark.streaming import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    running_totals_stateful,
    session_counts,
    sliding_avg,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """Copy the events fixture into a dir the file-stream source can list."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


@pytest.fixture(scope="module")
def events_dup_dir(tmp_path_factory):
    """Same events twice — two files — to exercise stream dedup."""
    d = tmp_path_factory.mktemp("events_dup")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-001.parquet")
    return str(d)


def _batch_events(spark):
    return table(spark, SF_DIR, "events")


def test_tumbling_counts_matches_batch(spark, events_dir):
    got = run_to_memory(
        tumbling_counts(read_events_stream(spark, events_dir)),
        "t_tumble",
        output_mode="complete",
    )
    want = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_sliding_avg_matches_batch(spark, events_dir):
    got = run_to_memory(
        sliding_avg(read_events_stream(spark, events_dir)),
        "t_slide",
        output_mode="complete",
    )
    want = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "avg_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_counts_matches_batch(spark, events_dir):
    got = run_to_memory(
        session_counts(read_events_stream(spark, events_dir)),
        "t_session",
        output_mode="complete",
    )
    want = (
        _batch_events(spark)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_dedup_within_watermark_drops_replays(spark, events_dup_dir):
    got = run_to_memory(
        dedup_within_watermark(read_events_stream(spark, events_dup_dir)),
        "t_dedup",
    )
    n_distinct = _batch_events(spark).select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_running_totals_stateful_matches_batch(spark, events_dir):
    got = run_to_memory(
        running_totals_stateful(read_events_stream(spark, events_dir)),
        "t_running",
        output_mode="update",
    )
    # update mode emits one row per (user, micro-batch); the LAST row per
    # user is the final state. Single file → single batch → direct compare.
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value"))
    )
    want = (
        _batch_events(spark)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, want.collect()))


def test_watermark_late_data_semantics(spark, events_dir):
    """C10: with append mode + watermark, only finalized windows emit under
    availableNow the final watermark is max(ts)-delay, so the tail window
    stays open and the emitted set is a strict prefix of the complete set."""
    stream = tumbling_counts(read_events_stream(spark, events_dir), watermark="10 minutes")
    appended = run_to_memory(stream, "t_wm_append", output_mode="append")
    complete_n = (
        _batch_events(spark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .count()
    )
    assert 0 < appended.count() < complete_n


def test_stateful_accumulates_across_microbatches(spark, events_dup_dir):
    """maxFilesPerTrigger=1 forces two micro-batches (same file twice);
    per-user state must carry over: final totals = 2x the single-pass
    totals, proving the state store survives batch boundaries."""
    got = run_to_memory(
        running_totals_stateful(
            read_events_stream(spark, events_dup_dir, max_files_per_trigger=1)
        ),
        "t_running_mb",
        output_mode="update",
    )
    final = got.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    want = {
        r["user_id"]: 2 * r["n"]
        for r in _batch_events(spark).groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert {r["user_id"]: r["n_events"] for r in final.collect()} == want


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Stream-stream inner join (watermarked, time-banded) must equal the
    batch range join over the same input."""
    from vcf2db_spark.streaming.pipelines import purchases_with_recent_clicks

    got = run_to_memory(
        purchases_with_recent_clicks(read_events_stream(spark, events_dir)),
        "t_ss_join",
    )
    e = _batch_events(spark)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "event_id"
    )
    want = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 minutes")),
    ).select("event_id", "user_id", "purchase_ts", "click_id", "click_ts")
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert want_rows, "fixture should produce click->purchase pairs"
    assert got_rows == want_rows


def test_final_no_data_batch_output_identity(spark, events_dup_dir):
    """run_to_memory(final_no_data_batch=False) must be byte-identical for
    every operator class that opts out in queries/streaming_dq.py — the
    trailing no-data batch only advances the watermark to EVICT state for
    them (dedup, stream-stream inner join, update-mode stateful, complete-
    mode aggregates); none of them emit rows in it. Conversely, append-mode
    window aggregates EMIT in that batch — asserted load-bearing below, so
    the opt-out can never silently spread to them."""
    from vcf2db_spark.streaming.pipelines import purchases_with_recent_clicks

    def both(mk, name, output_mode="append"):
        on = run_to_memory(
            mk(), f"t_nd_{name}_on", output_mode=output_mode,
            final_no_data_batch=True,
        )
        off = run_to_memory(
            mk(), f"t_nd_{name}_off", output_mode=output_mode,
            final_no_data_batch=False,
        )
        return sorted(map(tuple, on.collect())), sorted(map(tuple, off.collect()))

    src = lambda: read_events_stream(spark, events_dup_dir)
    cases = {
        "dedup": (lambda: dedup_within_watermark(src()), "append"),
        "ssjoin": (lambda: purchases_with_recent_clicks(src()), "append"),
        "stateful": (lambda: running_totals_stateful(src()), "update"),
        "session": (lambda: session_counts(src()), "complete"),
        "slide": (lambda: sliding_avg(src()), "complete"),
    }
    for name, (mk, mode) in cases.items():
        on, off = both(mk, name, mode)
        assert on == off and len(on) > 0, f"{name}: no-data batch changed output"

    # the load-bearing case: append-mode tumbling windows emit ONLY in the
    # final no-data batch (watermark advances after the data batch), so
    # skipping it empties the output — this is why tumbling_counts drains
    # (stream_watermark_append / stream_sink_parquet) keep the default
    on, off = both(lambda: tumbling_counts(src()), "tumble", "append")
    assert len(on) > 0 and off == []


def test_rocksdb_state_store_matches_default(spark, events_dup_dir):
    """The RocksDB provider (production posture: state on SSD, bounded
    heap) must be a pure deployment knob — identical results to the
    default heap-backed store on stateful dedup + windowed agg."""
    from vcf2db_spark.session import conf_scope
    from vcf2db_spark.streaming import ROCKSDB_PROVIDER

    def drain(suffix):
        dedup = run_to_memory(
            dedup_within_watermark(read_events_stream(spark, events_dup_dir)),
            f"t_rocks_dedup_{suffix}",
        )
        tumble = run_to_memory(
            tumbling_counts(read_events_stream(spark, events_dup_dir)),
            f"t_rocks_tumble_{suffix}",
        )
        return (
            sorted(map(tuple, dedup.collect())),
            sorted(map(tuple, tumble.collect())),
        )

    base_dedup, base_tumble = drain("heap")
    with conf_scope(
        spark, {"spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER}
    ):
        assert (
            spark.conf.get("spark.sql.streaming.stateStore.providerClass")
            == ROCKSDB_PROVIDER
        )
        rocks_dedup, rocks_tumble = drain("rocksdb")
    assert rocks_dedup == base_dedup and len(base_dedup) > 0
    assert rocks_tumble == base_tumble and len(base_tumble) > 0


def test_upsert_drain_batch_equivalence(spark, tmp_path):
    """CDC upsert: the incremental foreachBatch merge must be independent
    of batch boundaries (1-file vs 3-file source) and equal the one-shot
    batch argmax per user."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vcf2db_spark.io import table
    from vcf2db_spark.streaming.pipelines import (
        stage_events_dir,
        stage_events_dir_multi,
        upsert_latest_drain,
    )

    sf = "/root/testdata/sf0.001"

    def canon(df):
        return sorted(
            (r["user_id"], str(r["ts"]), r["event_type"], r["value"])
            for r in df.select("user_id", "ts", "event_type", "value").collect()
        )

    # consume each drain's result BEFORE starting the next one: a new
    # drain releases the previous drain's state directory (the documented
    # lifecycle — at most one live final version, nothing accumulates)
    multi = canon(
        upsert_latest_drain(
            spark, stage_events_dir_multi(sf, n_files=3), str(tmp_path / "w3")
        )
    )
    single = canon(
        upsert_latest_drain(spark, stage_events_dir(sf), str(tmp_path / "w1"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = (
        table(spark, sf, "events")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    assert multi == single == canon(batch)


def test_upsert_bucketed_state_rewrites_only_changed_buckets(spark, tmp_path):
    """Scale-safe state (VERDICT r3 item 5): batch cost must track the
    CHANGED key set, not total state size. Source file 1 carries users
    in every bucket; file 2 touches exactly one user. The second batch's
    state version dir must then contain ONLY that user's bucket (the
    other 15 buckets keep their v0 files), and the merged final state
    must still equal the one-shot argmax."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vcf2db_spark.streaming.pipelines import (
        UPSERT_STATE_BUCKETS,
        _UPSERT_LC,
        upsert_latest_drain,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    base_us = 1_700_000_000_000_000

    def tbl(rows):
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base_us + r[1] * 1_000_000 for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([float(r[0]) for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )

    # file 1: 64 users → every bucket populated; file 2: user 5 only
    f1 = [(i, i, i) for i in range(64)]
    f2 = [(1000, 999, 5)]
    pq.write_table(tbl(f1), os.path.join(src, "part-000.parquet"))
    pq.write_table(tbl(f2), os.path.join(src, "part-001.parquet"))
    # distinct mtimes so maxFilesPerTrigger=1 orders the batches
    os.utime(os.path.join(src, "part-000.parquet"), (1, 1))
    os.utime(os.path.join(src, "part-001.parquet"), (2, 2))

    # threshold 0 forces the changed-buckets path (the scale shape);
    # below the threshold a full merge is cheaper and dispatches there
    final = upsert_latest_drain(spark, src, str(tmp_path / "w"), changed_only_threshold=0)
    got = {r["user_id"]: r["value"] for r in final.collect()}
    assert len(got) == 64
    assert got[5] == 1000.0  # the late event won
    assert got[6] == 6.0

    # structural proof: v1's dir holds exactly one bucket subdir
    work = _UPSERT_LC.dirs[-1]
    v_dirs = sorted(d for d in os.listdir(work) if d.startswith("state_v"))
    assert len(v_dirs) == 2, v_dirs
    v0 = [d for d in os.listdir(os.path.join(work, v_dirs[0])) if d.startswith("_b=")]
    v1 = [d for d in os.listdir(os.path.join(work, v_dirs[1])) if d.startswith("_b=")]
    # bucket 5's v0 dir was deleted when v1 replaced it
    assert len(v0) == UPSERT_STATE_BUCKETS - 1
    assert v1 == [f"_b={5 % UPSERT_STATE_BUCKETS}"]
    # and v0 lost exactly the bucket v1 replaced
    assert f"_b={5 % UPSERT_STATE_BUCKETS}" not in v0
