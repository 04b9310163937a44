"""Streaming SOURCE over the lakehouse transaction log — the read half
of the format's streaming story (the exactly-once ``stream_sink`` is
the write half; together: lakehouse in, lakehouse out).

``spark.readStream.format("lakehouse_feed").option("root", ...)``
streams each committed version's ADDED data files as micro-batch
slices — the additive post-image change feed (Delta's CDF-streaming
shape): create/append/stream_append adds surface as ``insert`` rows,
COW merge rewrites as ``merge_postimage``, COW delete survivors as
``delete_postimage``, restore re-adds as ``restore``. Compaction /
ZORDER adds are SKIPPED — they carry rows unchanged, so they are not
logical changes (the same rule Delta applies to OPTIMIZE). Removed-file
pre-images are not streamed (post-image feed contract; the exact
pre/post diff for a version pair is the batch ``table_changes``).

Admission control (VERDICT r7 item 2): ``maxFilesPerTrigger`` /
``maxBytesPerTrigger`` bound a micro-batch to N data files / bytes
(whichever binds first, always ≥1 file per batch; manifests record
per-file bytes since r8). Offsets are ``(version,
file_index)`` pairs — still O(1) driver state — so a cold-start
consumer on a table with deep history drains incrementally instead of
planning the entire backlog as batch 0 (the Delta streaming-source
pattern). The cap applies from the FIRST trigger: on a fresh query the
engine's position is the configured start, and a restarted engine
replays the last logged batch through ``partitions()`` before asking
for a new offset (measured on this Spark — the fresh-query call order
is latestOffset → initialOffset → partitions; the restart order is
partitions → latestOffset for clean AND unclean shutdowns), so the
reader always knows the engine's position before it answers with a
capped offset. A defensive guard still refuses any backward batch
rather than poisoning the offset log.

Data-loss guard (ADVICE r7): historical versions' add-files may have
been reclaimed by ``vacuum`` (a file added at v and removed at v+1 is
in no retained snapshot). A missing file surfaces as a clear
``version vacuumed — choose a later startVersion`` error, not a raw
executor FileNotFoundError mid-stream; ``failOnDataLoss=false``
mirrors Delta's knob and skips the lost files instead. Versions below
the recorded vacuum watermark are additionally checked driver-side at
planning time (bounded by the batch's file count) so the common
cold-start-over-vacuumed-history case fails before a batch launches.

Scale shape: ``partitions(start, end)`` reads only the DELTA manifests
in the range (never a folded snapshot — O(files added in the range));
each partition is one data file read EXECUTOR-side via pyarrow and
emitted as arrow RecordBatches (no per-row Python). Late schema
evolution: the stream pins the schema at start; files written before
an evolution reconcile through the cast (missing columns → NULL).

Reference parity: vcf2db re-loads tables for downstream gemini
consumers; this source is the incremental version of that hand-off —
a consumer keeps up with the table instead of re-reading it.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: manifest operation → feed tag for that commit's added files.
#: dv_delete matches COW delete's contract: the commit's (re-)added
#: entries stream their SURVIVING rows — the entry's deletion vector is
#: applied at read, so a DV-masked row never reaches the feed.
_CHANGE_TAG = {
    "create": "insert",
    "append": "insert",
    "stream_append": "insert",
    "merge": "merge_postimage",
    "dv_merge": "merge_postimage",
    "delete": "delete_postimage",
    "dv_delete": "delete_postimage",
    "restore": "restore",
}


class _FilePartition(InputPartition):
    def __init__(
        self,
        root: str,
        path: str,
        version: int,
        change: str,
        fail_on_data_loss: bool = True,
        dv: str | None = None,
    ):
        self.root = root
        self.path = path
        self.version = version
        self.change = change
        self.fail_on_data_loss = fail_on_data_loss
        self.dv = dv  # deletion-vector sidecar rel path, if the entry has one


def _pos(offset: dict) -> tuple[int, int]:
    """Offset dict → comparable (version, file_index) position. Legacy
    r7 offsets carried only ``version`` (= that whole version consumed);
    they normalize to (version+1, 0)."""
    v = int(offset["version"])
    if "index" not in offset:
        return (v + 1, 0)
    return (v, int(offset["index"]))


class LakehouseFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        # Spark lowercases DataSource option keys (r6 gotcha)
        def opt(key: str, default: str | None = None) -> str | None:
            return options.get(key) or options.get(key.lower()) or default

        self.root = opt("root")
        if not self.root:
            raise ValueError("lakehouse_feed requires option 'root'")
        self.schema = schema
        self.start_version = int(opt("startVersion", "-1"))
        mft = opt("maxFilesPerTrigger")
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        mbt = opt("maxBytesPerTrigger")
        self.max_bytes = int(mbt) if mbt is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self.fail_on_data_loss = (
            str(opt("failOnDataLoss", "true")).lower() != "false"
        )
        # best-known engine position (a (v, i) tuple) — set by
        # initialOffset (fresh query), and healed by partitions/commit
        # (the engine showing us its offsets). None until then.
        self._engine_pos: tuple[int, int] | None = None

    # -- offsets: one (version, file_index) pair of driver state -------------

    def _feed_files(self, version: int) -> tuple[list[dict], str]:
        """(added file entries, change tag) of one delta manifest;
        ([], '') for non-feed operations (compact/zorder/evolve)."""
        from vcf2db_spark.sinks import lakehouse as lh

        try:
            man = lh._read_json(lh._manifest_path(self.root, version))
        except FileNotFoundError:
            horizon = lh.log_horizon(self.root)
            raise ValueError(
                f"lakehouse_feed: manifest v{version} is gone "
                f"(log retention horizon = {horizon}) — choose "
                f"startVersion >= {horizon - 1}"
            ) from None
        tag = _CHANGE_TAG.get(man.get("operation", ""))
        if tag is None:
            return [], ""
        if "add" not in man:
            # a full-file-list manifest is NOT a delta — streaming it as
            # adds would replay the whole table once per commit. Refuse
            # loudly rather than duplicate silently.
            raise ValueError(
                f"lakehouse_feed: manifest v{version} carries a full file "
                "list (pre-delta-txlog format) — the feed requires "
                "add/remove delta manifests"
            )
        return list(man["add"]), tag

    def _advance(self, pos: tuple[int, int], head: int) -> tuple[int, int]:
        """Position after consuming up to the admission caps
        (maxFilesPerTrigger / maxBytesPerTrigger — whichever binds
        first; always at least one file so the stream makes progress),
        walking delta manifests only (never a folded snapshot). Files
        from pre-r8 manifests carry no ``bytes`` field and count 0
        toward the byte cap — the file cap still bounds them."""
        v, i = pos
        files_left = self.max_files if self.max_files is not None else float("inf")
        bytes_left = self.max_bytes if self.max_bytes is not None else float("inf")
        taken = 0
        while v <= head:
            entries = self._feed_files(v)[0]
            while i < len(entries):
                if taken > 0 and (files_left < 1 or bytes_left <= 0):
                    return v, i
                files_left -= 1
                bytes_left -= entries[i].get("bytes", 0)
                i += 1
                taken += 1
            if taken > 0 and (files_left < 1 or bytes_left <= 0):
                # caps hit exactly at a version boundary
                break
            v, i = v + 1, 0
        return v, i

    def initialOffset(self) -> dict:
        self._engine_pos = (self.start_version + 1, 0)
        return {"version": self.start_version + 1, "index": 0}

    def latestOffset(self) -> dict:
        from vcf2db_spark.sinks import lakehouse as lh

        head = lh.latest_version(self.root)
        # engine position: what initialOffset/partitions/commit showed
        # us; before any of them (= the first trigger of a FRESH query —
        # a restarted engine always replays the last logged batch
        # through partitions() first, measured on this Spark) the
        # engine's position IS the configured start
        pos = (
            self._engine_pos
            if self._engine_pos is not None
            else (self.start_version + 1, 0)
        )
        if self.max_files is None and self.max_bytes is None:
            end = max((head + 1, 0), pos)
        else:
            end = max(self._advance(pos, head), pos)
        self._engine_pos = end
        return {"version": end[0], "index": end[1]}

    def partitions(self, start: dict, end: dict):
        from vcf2db_spark.sinks import lakehouse as lh

        (sv, si), (ev, ei) = _pos(start), _pos(end)
        if (ev, ei) < (sv, si):
            # an end offset behind its start can only mean an engine
            # flow that never revealed its checkpointed position before
            # our capped latestOffset answered (not a flow this Spark
            # exhibits — restart always replays the last logged batch
            # first). Planning it silently would poison the offset log
            # with a backward watermark; fail loudly instead.
            raise ValueError(
                f"lakehouse_feed: batch end {end} precedes start {start} "
                "— the engine restarted ahead of the admission-control "
                "anchor; restart the query from a fresh checkpoint (or "
                "without maxFilesPerTrigger)"
            )
        # the engine's offsets are the authoritative position — heal the
        # cursor (covers restart-from-checkpoint, where initialOffset
        # was never called in this process)
        best = max((sv, si), (ev, ei))
        if self._engine_pos is None or best > self._engine_pos:
            self._engine_pos = best
        wm = lh.vacuum_watermark(self.root)
        parts: list[_FilePartition] = []
        for v in range(sv, ev + 1):
            hi_open = ei if v == ev else None
            if hi_open == 0:
                continue  # end boundary consumes nothing of v (and v may
                # not be committed yet when ev == head+1)
            files, tag = self._feed_files(v)
            lo = si if v == sv else 0
            hi = len(files) if hi_open is None else hi_open
            for entry in files[lo:hi]:
                if v < wm and not os.path.exists(
                    os.path.join(self.root, entry["path"])
                ):
                    # planning below the vacuum watermark over a
                    # reclaimed file: fail fast with the actionable
                    # error (or honor failOnDataLoss=false and skip)
                    if self.fail_on_data_loss:
                        raise ValueError(
                            f"lakehouse_feed: data file {entry['path']} "
                            f"of version {v} was vacuumed — choose a "
                            "later startVersion, or set "
                            "failOnDataLoss=false to skip lost files"
                        )
                    continue
                parts.append(
                    _FilePartition(
                        self.root, entry["path"], v, tag,
                        self.fail_on_data_loss,
                        dv=(entry.get("dv") or {}).get("path"),
                    )
                )
        # an empty range still needs one no-op partition: Spark requires
        # at least one partition per planned micro-batch
        if not parts:
            parts.append(_FilePartition(self.root, "", -1, ""))
        return parts

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        try:
            table = pq.read_table(
                os.path.join(partition.root, partition.path)
            )
        except FileNotFoundError:
            # vacuumed between planning and read (or a version >= the
            # watermark whose add-file a later commit removed): surface
            # the actionable error, not a raw executor stack (ADVICE r7)
            if getattr(partition, "fail_on_data_loss", True):
                raise ValueError(
                    f"lakehouse_feed: data file {partition.path} of "
                    f"version {partition.version} was vacuumed — choose "
                    "a later startVersion, or set failOnDataLoss=false "
                    "to skip lost files"
                ) from None
            return iter(())
        dv_rel = getattr(partition, "dv", None)
        if dv_rel:
            # merge-on-read: subtract the entry's deletion-vector
            # positions before emitting (one vectorized mask per file,
            # executor-side — the same pyarrow pass that read the file)
            import numpy as np

            pos = pq.read_table(
                os.path.join(partition.root, dv_rel), columns=["pos"]
            )["pos"].to_numpy()
            keep = np.ones(table.num_rows, dtype=bool)
            keep[pos] = False
            table = table.filter(pa.array(keep))
        n = table.num_rows
        data_schema = StructType(self.schema.fields[:-2])
        target = to_arrow_schema(data_schema)
        cols = []
        for field in target:
            if field.name in table.column_names:
                cols.append(table[field.name].cast(field.type))
            else:  # pre-evolution file: NULL backfill
                cols.append(pa.nulls(n, field.type))
        cols.append(pa.array([partition.change] * n, pa.string()))
        cols.append(pa.array([partition.version] * n, pa.int64()))
        out = pa.table(
            cols, schema=to_arrow_schema(self.schema)
        )
        return iter(out.to_batches(max_chunksize=1 << 16))

    def commit(self, end: dict) -> None:
        # offsets live in the engine's checkpoint; remember the position
        # so post-restart triggers regain the admission cap
        p = _pos(end)
        if self._engine_pos is None or p > self._engine_pos:
            self._engine_pos = p


class LakehouseFeedDataSource(DataSource):
    """Register with ``spark.dataSource.register(LakehouseFeedDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse_feed"

    def schema(self) -> StructType:
        from vcf2db_spark.sinks import lakehouse as lh

        def opt(key: str, default: str | None = None) -> str | None:
            return (
                self.options.get(key)
                or self.options.get(key.lower())
                or default
            )

        root = opt("root")
        if not root:
            raise ValueError("lakehouse_feed requires option 'root'")
        base = lh._schema_of(lh.snapshot(root))
        return StructType(
            list(base.fields)
            + [
                StructField("_change", StringType(), False),
                StructField("_commit_version", LongType(), False),
            ]
        )

    def streamReader(self, schema: StructType) -> LakehouseFeedStreamReader:
        return LakehouseFeedStreamReader(schema, self.options)


def read_feed_stream(
    spark,
    root: str,
    start_version: int = -1,
    max_files_per_trigger: int | None = None,
    fail_on_data_loss: bool = True,
    max_bytes_per_trigger: int | None = None,
):
    """``readStream`` handle over the table's additive change feed."""
    spark.dataSource.register(LakehouseFeedDataSource)
    reader = (
        spark.readStream.format("lakehouse_feed")
        .option("root", root)
        .option("startVersion", str(start_version))
        .option("failOnDataLoss", "true" if fail_on_data_loss else "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", str(max_bytes_per_trigger))
    return reader.load()
