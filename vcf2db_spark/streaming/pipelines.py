"""Structured Streaming pipelines over events-shaped data.

Reference parity: the upstream tool (vcf2db) is a one-pass streaming ETL —
it reads a record stream, maintains per-batch state, and flushes to a sink
[U vcf2db.py §VCFDB.load ~L640, §insert ~L900]. Structured Streaming is the
Spark-native generalization: source → incremental transforms → stateful
operators → sink, with watermarks giving the bounded-state guarantee the
reference gets from its single-pass cursor.

All transforms are pure functions ``streaming DF -> streaming DF`` so the
same code path serves batch DataFrames too (Spark's unified API) — the
batch twins in ``queries/extensions.py`` are the correctness oracles.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Ephemeral tmpfs scratch (checkpoints / drain state): cleared at the
# START of each reuse (release-on-next-call) AND at interpreter exit —
# the last call of a process has no next call, which leaked one dir per
# session per drain into /dev/shm (~1,800 observed after a bench day).
_EPHEMERAL_DIRS: set[str] = set()


def _ephemeral_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    _EPHEMERAL_DIRS.add(path)
    return path


atexit.register(
    lambda: [shutil.rmtree(p, ignore_errors=True) for p in _EPHEMERAL_DIRS]
)

# Schema of the events fixture AFTER ts normalization (streaming file
# sources need an explicit schema — there is no inference pass).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# If a producer writes parquet TIMESTAMP(NANOS), Spark's vectorized reader
# surfaces it as long under spark.sql.legacy.parquet.nanosAsLong; we then
# truncate nanos -> micros ourselves (same handling as io.table()).
_EVENTS_NANOS_DISK_SCHEMA = StructType(
    [f if f.name != "ts" else StructField("ts", LongType()) for f in EVENTS_SCHEMA.fields]
)


def _ts_stored_as_nanos(path: str) -> bool:
    """Inspect the parquet footer of the first file under ``path`` to see
    whether ``ts`` is TIMESTAMP(NANOS). The driver fixtures are
    TIMESTAMP(MICROS); branching on the footer (like the batch reader,
    io.py:table) keeps both producers correct."""
    import glob
    import os

    import pyarrow.parquet as pq

    candidates = (
        [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))
    )
    for f in candidates:
        try:
            t = pq.read_schema(f).field("ts").type
            return str(t) == "timestamp[ns]"
        except Exception:
            continue
    return False


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events-shaped parquet under ``path``.

    At scale the source would be Kafka/Kinesis; the file source has the
    same incremental-listing semantics (each micro-batch picks up new
    files), which is what the tests and backfills use.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = _ts_stored_as_nanos(path)
    schema = _EVENTS_NANOS_DISK_SCHEMA if nanos else EVENTS_SCHEMA
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(path)
    if nanos:
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


#: compressed bytes of the most recently staged stream source — the
#: size probe ``_drain_partitions`` uses to pick a state-store count for
#: the next local drain (every DQ stream stages right before draining)
_LAST_SOURCE_BYTES: int | None = None


def stage_events_dir(sf_dir: str) -> str:
    """The file-stream source lists a DIRECTORY; fixtures are single
    parquet files. Stage <sf_dir>/events.parquet into a content-addressed
    /tmp dir once and reuse it across calls."""
    global _LAST_SOURCE_BYTES
    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    d = os.path.join("/tmp", f"vcf2db_stream_{tag}")
    dst = os.path.join(d, "part-000.parquet")
    if not os.path.exists(dst):
        os.makedirs(d, exist_ok=True)
        shutil.copy(src, dst)
    _LAST_SOURCE_BYTES = os.path.getsize(dst)
    return d


def _drain_partitions(sdf: DataFrame) -> int:
    """State-store count for an ephemeral local drain: ~one store per
    3 MB of compressed source, clamped to [4, 16] (sweep at sf0.1/sf1:
    4 wins under ~5 MB, 8-16 win at ~20 MB; above 16 the per-store WAL
    fixed costs grow faster than the parallelism pays locally)."""
    if _LAST_SOURCE_BYTES is None:
        return 4
    return max(4, min(16, -(-_LAST_SOURCE_BYTES // (3 << 20))))


# -------------------------------------------------------------------------
# C7 — tumbling window aggregation
# -------------------------------------------------------------------------


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "10 minutes"
) -> DataFrame:
    """Events per (window, event_type). Watermark bounds state: windows
    older than max(ts) - watermark are finalized and evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# -------------------------------------------------------------------------
# C8 — sliding window aggregation
# -------------------------------------------------------------------------


def sliding_avg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Overlapping-window average of ``value`` per event_type; each row
    lands in window_len/slide windows (Spark expands them source-side)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "avg_value")
    )


# -------------------------------------------------------------------------
# C9 — session window (data-driven window close on gap)
# -------------------------------------------------------------------------


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user sessions: a session closes when no event arrives within
    ``gap``. State is (user, open-session) — merged on overlap, evicted by
    watermark; scales with distinct concurrent users, not total events."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


# -------------------------------------------------------------------------
# C11 — stateful dedup within watermark
# -------------------------------------------------------------------------


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop replayed events by event_id. dropDuplicatesWithinWatermark
    keeps per-key state only for the watermark horizon — bounded memory on
    unbounded streams (plain dropDuplicates state grows forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


# -------------------------------------------------------------------------
# C10/custom — arbitrary stateful operator: per-user running totals via
# applyInPandasWithState (the Pandas-UDF stateful escape hatch)
# -------------------------------------------------------------------------

_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _update_running(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
    )


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator: cumulative (count, sum(value)) per user,
    emitted each micro-batch. State = two scalars per user — the same
    shape as the reference's in-flight batch accumulators, but partitioned
    by key across the cluster."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_running,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -------------------------------------------------------------------------
# state-store backend
# -------------------------------------------------------------------------

#: Spark's bundled RocksDB-backed state store. The default
#: HDFSBackedStateStoreProvider holds every key's state in executor HEAP
#: (plus a full snapshot per checkpoint); at 100 TB-scale keyspaces
#: (stream dedup over billions of doc ids, per-user session state) that
#: OOMs. RocksDB keeps state on local SSD with block-cache reads,
#: incremental changelog checkpoints, and bounded memory — the production
#: posture for every stateful pipeline in this module.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


class state_store_provider:
    """Context manager pinning the state-store backend for queries started
    inside it (the conf is read at query start). Results must be identical
    across providers — asserted in tests/test_streaming.py — so this is a
    pure deployment knob, not a semantics switch."""

    def __init__(self, spark: SparkSession, provider: str = ROCKSDB_PROVIDER):
        self._spark, self._provider = spark, provider

    def __enter__(self):
        self._prev = self._spark.conf.get(_PROVIDER_KEY, None)
        self._spark.conf.set(_PROVIDER_KEY, self._provider)
        return self

    def __exit__(self, *exc):
        if self._prev is None:
            self._spark.conf.unset(_PROVIDER_KEY)
        else:
            self._spark.conf.set(_PROVIDER_KEY, self._prev)


# -------------------------------------------------------------------------
# test/backfill harness
# -------------------------------------------------------------------------


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append",
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Drain a streaming DF with an availableNow trigger into an in-memory
    table and return it as a batch DataFrame. availableNow processes all
    currently-visible input then stops — batch-equivalent semantics.

    Stateful operators allocate one state-store instance per shuffle
    partition; for the local harness we pin that to 8 for the duration of
    the stream (32 stores × checkpoint dirs is pure fixed cost at test
    scale — on a cluster you size it to executor count instead).

    ``final_no_data_batch=False`` skips the trailing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``) for the drain.
    That batch exists to advance the watermark one last time so operators
    whose OUTPUT is watermark-gated (append-mode window aggregates) can
    emit their finalized windows — for those it is load-bearing and the
    default stays on. Operators that emit rows in the data batch itself
    and use the watermark only to EVICT state (dropDuplicatesWithin-
    Watermark, stream-stream inner joins, update-mode applyInPandasWith-
    State, complete-mode aggregates) produce zero rows in that final
    batch, so skipping it removes one full trigger round (planning +
    state-store open/commit + WAL) per drain with byte-identical output —
    asserted per operator in tests/test_streaming.py::
    test_final_no_data_batch_output_identity. Callers opt in per QUERY
    SEMANTICS, never per scale.

    The drain saves and restores session-global confs
    (``noDataMicroBatches``, ``shuffle.partitions``,
    ``minBatchesToRetain``), so two drains must not run concurrently in
    one SparkSession."""
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_retain = spark.conf.get("spark.sql.streaming.minBatchesToRetain", "100")
    _NODATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(_NODATA_KEY, "true")
    if not final_no_data_batch:
        spark.conf.set(_NODATA_KEY, "false")
    # State-store instances sized by INPUT VOLUME: per-store WAL/commit
    # fixed costs dominate tiny drains (8→4 measured ~12% on the
    # stream-stream join at sf0.1), but starving a larger drain of
    # parallelism costs more (stateful totals at sf1: 20.3 s @4 parts vs
    # 14.1 s @8). One file-size probe of the stream's source dirs picks
    # ~one store per 32 MB, clamped to [4, 16]; a real deployment sizes
    # this to state volume / executor count instead.
    spark.conf.set("spark.sql.shuffle.partitions", str(_drain_partitions(sdf)))
    # state-version retention exists for failure recovery of long-running
    # streams; an ephemeral availableNow drain needs none of it (~10%)
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
    writer = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    # checkpoint+state to tmpfs when available: the WAL/state fsyncs are
    # pure fixed cost for an ephemeral local drain (a real deployment
    # points this at durable object storage instead)
    if os.path.isdir("/dev/shm"):
        ckpt = _ephemeral_dir(
            os.path.join("/dev/shm", f"vcf2db_ckpt_{name}_{os.getpid()}")
        )
        writer = writer.option("checkpointLocation", ckpt)
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.minBatchesToRetain", prev_retain)
        spark.conf.set(_NODATA_KEY, prev_nodata)
    return spark.table(name)


# -------------------------------------------------------------------------
# C7+/B7 streaming — stream-stream inner join with watermarks: purchases
# matched to the same user's clicks within a trailing time band. Both
# sides buffer state bounded by (watermark + band); Spark drops buffered
# rows once they can no longer join.
# -------------------------------------------------------------------------


def purchases_with_recent_clicks(
    events: DataFrame, band: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"), "event_id")
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {band}")),
        "inner",
    ).select("event_id", "user_id", "purchase_ts", "click_id", "click_ts")


# -------------------------------------------------------------------------
# CDC apply — keyed upsert via foreachBatch. The production shape is
# MERGE INTO a transactional table format; on plain parquet the atomic
# swap is emulated with versioned state directories (write new version,
# then read it as the next batch's base — never read-and-overwrite one
# path inside a single job). State per key is ONE row (the latest), so
# state volume ∝ distinct keys, not stream length.
# -------------------------------------------------------------------------


def stage_events_dir_multi(sf_dir: str, n_files: int = 4) -> str:
    """Split the events fixture into ``n_files`` parquet slices so a
    maxFilesPerTrigger=1 drain yields a genuine multi-batch incremental
    run (the single-file staging gives foreachBatch only one batch)."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5((os.path.abspath(src) + f"#{n_files}").encode()).hexdigest()[:12]
    d = os.path.join("/tmp", f"vcf2db_stream_multi_{tag}")
    if not os.path.isdir(d) or len(os.listdir(d)) != n_files:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        t = pq.read_table(src)
        step = -(-t.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet"))
    global _LAST_SOURCE_BYTES
    _LAST_SOURCE_BYTES = sum(
        os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
    )
    return d


# Work dirs of the most recent drain: the returned DataFrame lazily
# reads the final state version, so the dir must outlive the call; each
# NEW drain (and an explicit release) deletes the previous one — at most
# one final-version dir is ever live, nothing accumulates across a
# bench/driver sweep (tmpfs is RAM).
from vcf2db_spark.lifecycle import Lifecycle

# key-hash buckets for the versioned upsert state: enough that a small
# batch touches a strict subset (the rewrite-only-changed-buckets
# property), few enough that the per-batch bucket listing is O(1) on
# the driver. A 100 TB deployment scales this with state size the same
# way a table chooses its bucket count.
UPSERT_STATE_BUCKETS = 16

_UPSERT_LC = Lifecycle()


def _release_upsert_dirs() -> None:
    _UPSERT_LC.release()


def upsert_latest_drain(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    changed_only_threshold: int = 256 << 20,
) -> DataFrame:
    """Drain the events stream through a foreachBatch keyed upsert and
    return the FINAL state: the (ts, event_id)-latest row per user_id.

    Each micro-batch first reduces map-side to its own per-key latest
    (batch sizes bound the window input), then merges with the previous
    state version by the same argmax — associative and tie-free (event_id
    is unique), so the result is independent of batch boundaries. That
    independence is what the DuckDB oracle checks: incremental CDC apply
    must equal the one-shot batch window.

    Lifecycle: the returned DataFrame lazily reads the final state
    version on disk; a SUBSEQUENT drain (any caller, same process)
    releases the previous drain's directory — consume (collect/write)
    each result before starting the next drain, exactly like the
    curate-cache contract (curate.py::release_curate_cache)."""
    from pyspark.sql import Window

    # ephemeral drain: versioned state + checkpoint on tmpfs when
    # available (same rationale as run_to_memory — WAL/commit fsyncs are
    # pure fixed cost locally; production points both at object storage).
    # The tmpfs path keys on a hash of the caller's FULL path (+pid), so
    # two callers with distinct work dirs but equal basenames — or two
    # processes — can never clobber each other's live state.
    if os.path.isdir("/dev/shm"):
        tag = hashlib.md5(os.path.abspath(work_dir).encode()).hexdigest()[:12]
        work_dir = _ephemeral_dir(
            os.path.join("/dev/shm", f"vcf2db_upsert_{os.getpid()}_{tag}")
        )
    _release_upsert_dirs()
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir, exist_ok=True)
    # State is BUCKETED by key hash (VERDICT r3 item 5): once the state
    # outgrows ``changed_only_threshold`` bytes, each batch merges
    # against — and rewrites — only the buckets its keys touch, so
    # per-batch cost tracks the CHANGED key set, not total state size
    # (untouched buckets' latest version dirs stay referenced). Below
    # the threshold a full merge is CHEAPER (the changed-bucket probe is
    # an extra driver action and the selective read saves nothing when
    # all state fits one scan — measured +0.7 s per sf1 drain), so small
    # state takes the full path and discovers written buckets from the
    # filesystem afterwards, no probe. The merge itself is identical —
    # associative, tie-free — so batch boundaries, bucket boundaries,
    # AND the dispatch point cannot change the answer.
    bucket_latest: dict[int, str] = {}

    def state_bytes() -> int:
        total = 0
        for d in bucket_latest.values():
            try:
                total += sum(
                    os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                )
            except OSError:
                pass
        return total

    def latest_per_key(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return df.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        ).drop("_rn")

    def merge(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        bucket = F.pmod(F.col("user_id"), F.lit(UPSERT_STATE_BUCKETS))
        changed_only = state_bytes() >= changed_only_threshold
        if changed_only:
            # bounded driver transfer: ≤ UPSERT_STATE_BUCKETS ints.
            # Probed on the RAW batch (the argmax keeps every key),
            # one distinct over the batch.
            touched = sorted(
                r["_b"]
                for r in batch.select(bucket.alias("_b")).distinct().collect()
            )
            prev_paths = [
                bucket_latest[b] for b in touched if b in bucket_latest
            ]
        else:
            prev_paths = sorted(bucket_latest.values())
        # ONE argmax window over state ∪ batch (r11; was
        # latest_per_key(batch) then latest_per_key(state ∪ reduced) —
        # the merge is associative and tie-free, so the fold point
        # cannot change the answer, and the two-window form shuffled
        # and sorted the batch TWICE: once alone, once inside the
        # union. Rows through the single window = |state| + |batch| vs
        # |batch| + |state| + |keys(batch)| before — strictly fewer,
        # one exchange and one sort saved per micro-batch at any
        # scale. Equivalence pinned by test_upsert_drain_batch_
        # equivalence (1-vs-3-file drains == one-shot batch argmax).
        new = batch.withColumn("_b", bucket)
        if prev_paths:
            base = sp.read.parquet(*prev_paths).withColumn("_b", bucket)
            new = base.unionByName(new)
        new = latest_per_key(new)
        out = os.path.join(work_dir, f"state_v{batch_id}")
        # ONE write job per batch; partitionBy materializes exactly the
        # merged buckets as _b=<k> dirs (untouched buckets get no
        # files). The repartition aligns tasks to buckets first — without
        # it every task writes a sliver of every bucket (tasks×buckets
        # small files, measured 1.8× slower per drain at sf1).
        new.repartition(UPSERT_STATE_BUCKETS, "_b").write.partitionBy(
            "_b"
        ).mode("overwrite").parquet(out)
        # written buckets discovered from the filesystem — free, and in
        # the full-merge path it replaces the probe action entirely
        written = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(out)
            if d.startswith("_b=")
        )
        for b in written:
            old = bucket_latest.get(b)
            bucket_latest[b] = os.path.join(out, f"_b={b}")
            if old:
                # replaced bucket version is fully consumed by the write
                shutil.rmtree(old, ignore_errors=True)

    s = read_events_stream(spark, source_dir, max_files_per_trigger=1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_drain_partitions(s)))
    ckpt = os.path.join(work_dir, "ckpt")
    try:
        q = (
            s.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # the stream is finished: its checkpoint/WAL is dead weight now; the
    # final state version must survive until the NEXT drain (the caller's
    # DataFrame reads it lazily)
    shutil.rmtree(ckpt, ignore_errors=True)
    _UPSERT_LC.hold_dir(work_dir)
    if not bucket_latest:  # empty source
        return spark.createDataFrame([], EVENTS_SCHEMA)
    # union of every bucket's latest version (partitionBy left `_b` out
    # of the data files, so this reads the plain event columns)
    return spark.read.parquet(*sorted(bucket_latest.values()))


# -------------------------------------------------------------------------
# Spark 4 transformWithState — the successor stateful API (typed state
# variables, timers, TTL) for applyInPandasWithState-style operators.
# ENVIRONMENT GATE: its Python driver worker speaks protobuf to the JVM;
# this container ships no `protobuf` package and installs are not
# allowed, so the operator raises a documented error here and runs
# wherever protobuf exists (tests/test_export_tws.py skips accordingly —
# same honest-boundary treatment as the entropy-coded media formats in
# functions/media_codecs.py).
# -------------------------------------------------------------------------


def tws_available() -> bool:
    """True iff the transformWithState Python worker can start (needs the
    `protobuf` package for its control-plane channel)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals on transformWithStateInPandas — the same
    semantics as ``running_totals_stateful`` (its cross-API parity twin)
    expressed with a typed ValueState instead of the GroupState tuple.
    Requires the RocksDB state-store provider (set by the caller/drain)
    and a protobuf-capable Python env (see ``tws_available``)."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires the `protobuf` package "
            "for its Python worker control channel; not available in "
            "this environment (see tws_available())."
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._st = handle.getValueState("tot", "n BIGINT, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._st.get() if self._st.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._st.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                }
            )

        def close(self):
            pass

    spark = events.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        _Totals(), outputStructType=_RUNNING_SCHEMA, outputMode="Update", timeMode="None"
    )
