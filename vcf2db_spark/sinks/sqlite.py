"""Gemini-compatible SQLite sink (SURVEY.md §2A A10-A12).

The reference's entire deliverable is a SQLite database (`sample.db`)
loaded via batched multi-row INSERTs with PRAGMA tuning and deferred index
creation [U vcf2db.py §VCFDB.insert ~L900; §set_pragmas ~L550;
§create_indexes ~L1000]. This module produces that artifact from the Spark
pipeline's DataFrames so a reference user can point gemini-style SQL at
our output unchanged.

Scale posture (deliberate): SQLite is a single-file, single-writer format —
the reference has the exact same bottleneck (one Python thread feeding one
SQLite connection). Our split keeps every *transform* distributed — type
derivation, impact explode, blob packing (Arrow-batched pandas UDF),
array→text serialization (JVM `concat_ws`) — and only streams the final,
fully-serialized rows to the driver partition-by-partition
(`toLocalIterator(prefetchPartitions=True)`, so executors stay ahead of
the writer). The SQLite file is the *export* artifact for gemini
consumers; at 100 TB the native artifacts are the chrom-partitioned
parquet layout (`sinks.writers.write_parquet`) or a parallel JDBC load
(`sinks.writers.write_jdbc`).

Serialization conventions (reference parity):
- int genotype matrices (`gt_types`, `gt_depths`, `gt_ref_depths`,
  `gt_alt_depths`, `gt_quals`) → zlib-compressed little-endian int32
  BLOBs, byte-identical to the reference's ``--legacy-compression`` path
  [U §pack_blob ~L60] (snappy when available and ``legacy=False``);
- `gt_phases` (bool array) → int32 blob of 0/1;
- `gts` (string array) → comma-joined TEXT (deviation: the reference
  blobs the numpy string matrix; TEXT keeps it directly queryable and
  gemini re-derives gts from gt_types anyway);
- other arrays (Number=A/R/G/. INFO fields) → comma-joined TEXT, the
  reference's join rule for list-typed INFO values;
- booleans → INTEGER 0/1 (SQLite has no BOOLEAN);
- timestamps → ISO-8601 TEXT.
"""

from __future__ import annotations

import os
import sqlite3
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vcf2db_spark.functions.codecs import pack_blob_udf
from vcf2db_spark.session import pin_session_conf

# Spark surfaces BinaryType as bytearray; sqlite3 binds bytes.
sqlite3.register_adapter(bytearray, bytes)

#: int-array genotype matrices packed to gemini blobs
BLOB_COLS = ("gt_types", "gt_depths", "gt_ref_depths", "gt_alt_depths", "gt_quals")

#: load-time PRAGMAs [U vcf2db.py §set_pragmas ~L550]
LOAD_PRAGMAS = (
    "PRAGMA synchronous=OFF",
    "PRAGMA journal_mode=MEMORY",
    "PRAGMA temp_store=MEMORY",
    "PRAGMA cache_size=-64000",
)

#: deferred post-load indexes [U vcf2db.py §create_indexes ~L1000]
DEFAULT_INDEXES = {
    "variants": (("chrom", "start"), ("gene",), ("impact_severity",)),
    "variant_impacts": (("variant_id",), ("gene",)),
    "samples": (("name",),),
}


def _sqlite_type(dt: T.DataType) -> str:
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
        return "INTEGER"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "REAL"
    if isinstance(dt, T.BinaryType):
        return "BLOB"
    return "TEXT"


def serialize_for_sqlite(df: DataFrame, legacy: bool = True) -> DataFrame:
    """Distributed row serialization: every non-SQLite-representable column
    becomes INTEGER/REAL/TEXT/BLOB *before* rows reach the driver. Blob
    packing is an Arrow-batched pandas UDF; everything else is JVM-side."""
    pin_session_conf(df.sparkSession)
    pack = pack_blob_udf(legacy=legacy)
    out = df
    for field in df.schema.fields:
        name, dt = field.name, field.dataType
        col = F.col(name)
        if isinstance(dt, T.ArrayType):
            if name in BLOB_COLS and isinstance(dt.elementType, T.IntegerType):
                out = out.withColumn(name, pack(col))
            elif name == "gt_phases" or isinstance(dt.elementType, T.BooleanType):
                out = out.withColumn(name, pack(F.transform(col, lambda x: x.cast("int"))))
            else:
                out = out.withColumn(name, F.concat_ws(",", col.cast("array<string>")))
        elif isinstance(dt, T.BooleanType):
            out = out.withColumn(name, col.cast("int"))
        elif isinstance(dt, T.TimestampType):
            out = out.withColumn(name, F.date_format(col, "yyyy-MM-dd HH:mm:ss"))
        elif isinstance(dt, (T.StructType, T.MapType)):
            out = out.withColumn(name, F.to_json(col))
    return out


def write_sqlite_table(
    con: sqlite3.Connection,
    df: DataFrame,
    table: str,
    batch_size: int = 50_000,
    legacy: bool = True,
    stream: bool = True,
) -> int:
    """Stream one DataFrame into one SQLite table. Returns rows written.

    Transform runs distributed (`serialize_for_sqlite`); the driver only
    executes `executemany` over prefetched partitions — the same batched
    multi-row INSERT transaction shape as the reference
    [U vcf2db.py §VCFDB.insert ~L900], with Spark as the producer."""
    ser = serialize_for_sqlite(df, legacy=legacy)
    cols = [(f.name, _sqlite_type(f.dataType)) for f in ser.schema.fields]
    ddl_cols = ", ".join(f'"{n}" {t}' for n, t in cols)
    con.execute(f'CREATE TABLE IF NOT EXISTS "{table}" ({ddl_cols})')
    placeholders = ", ".join("?" for _ in cols)
    quoted = ", ".join(f'"{n}"' for n, _ in cols)
    insert = f'INSERT INTO "{table}" ({quoted}) VALUES ({placeholders})'

    n = 0
    batch: list[tuple] = []
    # stream=False: collect() instead of the partition iterator — for
    # tables the CALLER asserts are cohort-sized (the iterator server
    # costs a multi-second per-call stall on this PySpark even for
    # 1-row plans, and df.rdd-based auto-detection executes the plan's
    # exchanges just to count partitions). The default streams with a
    # two-partition driver-memory bound.
    if stream:
        rows_iter = ser.toLocalIterator(prefetchPartitions=True)
    else:
        rows_iter = iter(ser.collect())
    for row in rows_iter:
        batch.append(tuple(row))
        if len(batch) >= batch_size:
            con.executemany(insert, batch)
            con.commit()
            n += len(batch)
            batch = []
    if batch:
        con.executemany(insert, batch)
        con.commit()
        n += len(batch)
    return n


def write_gemini_db(
    db_path: str,
    tables: dict[str, DataFrame],
    batch_size: int = 50_000,
    legacy: bool = True,
    indexes: dict[str, Iterable[tuple[str, ...]]] | None = None,
    stream: bool = True,
) -> dict[str, int]:
    """Write the four-table gemini artifact (variants / variant_impacts /
    samples / vcf_header + any expanded_* tables) to ``db_path``.

    Lifecycle mirrors the reference CLI end-state: PRAGMA-tuned connection,
    batched transactional inserts, then deferred CREATE INDEX on the hot
    columns. Returns per-table row counts."""
    if os.path.exists(db_path):
        os.remove(db_path)
    con = sqlite3.connect(db_path)
    try:
        for pragma in LOAD_PRAGMAS:
            con.execute(pragma)
        counts = {
            name: write_sqlite_table(
                con, df, name,
                batch_size=batch_size, legacy=legacy, stream=stream,
            )
            for name, df in tables.items()
        }
        idx = DEFAULT_INDEXES if indexes is None else indexes
        for table, keys in idx.items():
            if table not in tables:
                continue
            present = set(tables[table].columns)
            for key in keys:
                if not set(key) <= present:
                    continue
                name = f"idx_{table}_{'_'.join(key)}"
                cols = ", ".join(f'"{c}"' for c in key)
                con.execute(f'CREATE INDEX IF NOT EXISTS "{name}" ON "{table}" ({cols})')
        con.commit()
        return counts
    finally:
        con.close()
