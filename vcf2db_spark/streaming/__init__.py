"""Structured Streaming layer (SURVEY.md §2C C7-C11, M5).

Streaming variants of the batch window operators: tumbling / sliding /
session windows with watermarks, stateful stream dedup, and a custom
stateful operator (per-key running totals via applyInPandasWithState).

Scale design (100 TB / 1000-executor): every pipeline here is a standard
stateful-streaming topology — file/Kafka source → watermark → keyed state
in the state store (RocksDB provider in production) → sink. State is
partitioned by the grouping key, so throughput scales with executors;
watermarks bound state size; `availableNow` triggers give batch-backfill
with identical semantics.
"""

from vcf2db_spark.streaming.pipelines import (  # noqa: F401
    ROCKSDB_PROVIDER,
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    running_totals_stateful,
    session_counts,
    sliding_avg,
    stage_events_dir,
    tumbling_counts,
)
