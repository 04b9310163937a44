"""Fixture table loading (driver-generated parquet, TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    The driver may pass a session we did not configure, so this readies
    it first (``session.pin_session_conf``, once per session): UTC, so the
    fixtures' naive timestamps resolve as in DuckDB, and parquet
    TIMESTAMP(NANOS) read as long, so ``events.ts`` can be truncated
    here to microseconds, as DuckDB surfaces it.
    """
    from vcf2db_spark.session import pin_session_conf

    pin_session_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df


# (path, cores) → whether the scan is row-group-starved; parquet footer
# metadata is immutable for a fixture path, so one probe per process.
_NARROW_SCAN: dict[tuple[str, int], bool] = {}


def table_wide(
    spark: SparkSession, sf_dir: str, name: str, key: str | None = None
) -> DataFrame:
    """Read a fixture table, guaranteeing scan-side parallelism for
    compute-heavy downstream stages.

    A parquet scan cannot split below row-group granularity, and the
    synthetic fixtures are single-file parquet with ONE row group per
    file below sf1 — so a plain scan of ``documents``/``embeddings``
    yields 1-2 input partitions and the most expensive stage of every
    text/vector query (tokenize, n-gram explode, HOF map over the
    embedding array) runs on 1-2 of the 32 cores. When the footer shows
    fewer row groups than half the cores, repartition to the default
    parallelism: one extra exchange of the raw column bytes (~30 MB
    locally, tmpfs shuffle) unlocks the cores — measured text_repetition
    3.9 s → 1.4 s at sf1. At 100 TB inputs arrive as many multi-row-group
    files, the footer probe sees a wide scan, and the rescue self-disables
    (no exchange is added), so nothing here changes the plan at scale.

    ``key``: optional column to hash-partition by (deterministic layout,
    lets a downstream per-key stage reuse the exchange); default is
    Spark's round-robin rebalance.
    """
    df = table(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/{name}.parquet"
    ck = (path, cores)
    narrow = _NARROW_SCAN.get(ck)
    if narrow is None:
        try:
            import pyarrow.parquet as pq

            meta = pq.ParquetFile(path).metadata
            narrow = meta.num_row_groups < max(2, cores // 2)
        except Exception:
            narrow = False  # multi-file dir / remote FS: scan splits fine
        _NARROW_SCAN[ck] = narrow
    if narrow:
        df = df.repartition(cores, F.col(key)) if key else df.repartition(cores)
    return df
