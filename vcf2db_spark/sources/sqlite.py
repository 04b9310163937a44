"""Gemini-database SQLite source — read reference-produced `.db` files
into Spark (SURVEY.md §3 entry point 3, reversed).

A reference user's existing artifact is a SQLite database written by
vcf2db [U vcf2db.py §VCFDB.create_tables ~L800]. This source lets them
migrate: ``read_gemini_db(spark, "cohort.db", "variants")`` yields the
same DataFrame shape our own pipeline produces — genotype BLOBs decoded
back to typed int arrays (zlib ``--legacy-compression`` or snappy
[U §pack_blob ~L60]), everything else typed from the declared column
affinity.

Spark-first design:
- **partitions = rowid ranges**: SQLite tables are rowid B-trees, so
  ``WHERE rowid BETWEEN lo AND hi`` is an index-range scan, not a table
  scan — N partitions each read only their slice. The driver samples
  min/max rowid once; the read is ``spark.range(n, numPartitions=n)
  .mapInArrow(...)``, whose task i opens the file read-only (SQLite
  supports unlimited concurrent readers), reads range i and hands Spark
  Arrow batches. A ``mapInArrow`` worker starts in a fraction of a
  second; a Python DataSource costs seconds on its first use in a
  process.
- **no SQLite-side predicate pushdown**: every range is read whole and
  Spark applies the query's filters after the read, so results are the
  same as with pushdown; a selective query over a large ``.db`` reads
  more rows than it keeps.
- At cluster scale the `.db` file must be on a shared filesystem (the
  same constraint any single-file format has); the intended 100 TB flow
  is one migration read → ``write_parquet`` → native columnar layout.
"""

from __future__ import annotations

import sqlite3
import zlib

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from vcf2db_spark.session import ship_package

#: BLOB columns that decode to int32 arrays (our sink's and the
#: reference's genotype matrices; `_blob` twins from the CLI path).
INT_ARRAY_BLOBS = frozenset(
    {"gt_types", "gt_phases", "gt_depths", "gt_ref_depths", "gt_alt_depths", "gt_quals"}
)


def _decode_int_blob(blob: bytes | None) -> list[int] | None:
    if blob is None:
        return None
    try:
        raw = zlib.decompress(blob)
    except zlib.error:
        try:  # reference default compression when python-snappy is present
            import snappy  # type: ignore

            raw = snappy.decompress(blob)
        except Exception as exc:  # pragma: no cover - env-dependent
            raise ValueError("genotype blob is neither zlib nor snappy") from exc
    return np.frombuffer(raw, dtype="<i4").tolist()


def _spark_type(declared: str, name: str, decode_blobs: bool) -> T.DataType:
    d = (declared or "").upper()
    if "INT" in d:
        return T.LongType()
    if d in ("REAL", "FLOAT", "DOUBLE") or "REAL" in d:
        return T.DoubleType()
    if "BLOB" in d or d == "":
        if decode_blobs and (name in INT_ARRAY_BLOBS or name.endswith("_blob")):
            return T.ArrayType(T.IntegerType())
        return T.BinaryType()
    return T.StringType()


def _table_schema(db_path: str, table: str, decode_blobs: bool) -> T.StructType:
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        info = con.execute(f'PRAGMA table_info("{table}")').fetchall()
    finally:
        con.close()
    if not info:
        raise ValueError(f"no such table {table!r} in {db_path!r}")
    return T.StructType(
        [T.StructField(row[1], _spark_type(row[2], row[1], decode_blobs), True) for row in info]
    )


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


#: rows per Arrow batch handed to Spark
_BATCH_ROWS = 4096


def _rowid_ranges(db_path: str, table: str, n_partitions: int) -> list[tuple[int, int]]:
    """Up to ``n_partitions`` equal, inclusive rowid ranges covering the
    table; one empty range for an empty table."""
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        row = con.execute(f"SELECT min(rowid), max(rowid) FROM {_quote(table)}").fetchone()
    finally:
        con.close()
    if row is None or row[0] is None:
        return [(1, 0)]
    lo, hi = int(row[0]), int(row[1])
    n = max(1, min(n_partitions, hi - lo + 1))
    step = (hi - lo + 1 + n - 1) // n
    return [(lo + i * step, min(hi, lo + (i + 1) * step - 1)) for i in range(n)]


def _read_range(db_path: str, table: str, arrow_schema, lo: int, hi: int):
    """Arrow batches of the rows with ``lo <= rowid <= hi``; genotype
    blobs decoded to int32 lists."""
    import pyarrow as pa

    cols = ", ".join(_quote(f.name) for f in arrow_schema)
    decode = [pa.types.is_list(f.type) for f in arrow_schema]
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        cur = con.execute(
            f"SELECT {cols} FROM {_quote(table)} WHERE rowid BETWEEN ? AND ?", (lo, hi)
        )
        while rows := cur.fetchmany(_BATCH_ROWS):
            arrays = [
                pa.array([_decode_int_blob(b) for b in col] if dec else col, type=f.type)
                for col, dec, f in zip(zip(*rows), decode, arrow_schema)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
    finally:
        con.close()


def read_gemini_db(
    spark: SparkSession,
    db_path: str,
    table: str,
    n_partitions: int = 8,
    decode_blobs: bool = True,
) -> DataFrame:
    """Library entry point: one gemini-DB table as a DataFrame, one
    partition per rowid range."""
    schema = _table_schema(db_path, table, decode_blobs)
    ranges = _rowid_ranges(db_path, table, n_partitions)
    arrow_schema = to_arrow_schema(schema)
    ship_package(spark)

    def read(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from _read_range(db_path, table, arrow_schema, *ranges[i])

    return spark.range(len(ranges), numPartitions=len(ranges)).mapInArrow(read, schema)
