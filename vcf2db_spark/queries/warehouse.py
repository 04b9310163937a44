"""Warehouse-maintenance query tier: batch MERGE INTO and slowly-changing
dimensions — the ETL idioms a reference user runs against the produced
schema when new annotation builds land (SURVEY.md §2A extension; the
streaming twin is `stream_upsert` in queries/streaming_dq.py).

Spark has no MERGE INTO outside transactional table formats; the
DataFrame expression of the same semantics is a full-outer join +
column-wise coalesce, which is also exactly what a format's MERGE
compiles to underneath (minus the transaction log). Both queries here
are oracle-backed — the merge arithmetic is deterministic row algebra.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from vcf2db_spark.lifecycle import Lifecycle
from vcf2db_spark.io import table
from vcf2db_spark.registry import OSUM, dq, dsum

# --------------------------------------------------------------------------
# batch MERGE INTO (upsert): customers refreshed from recent orders, plus
# net-new rows for unseen keys
# --------------------------------------------------------------------------


@dq(
    "merge_upsert",
    oracle="""
    WITH src AS (
      SELECT o_custkey + CASE WHEN o_orderkey % 7 = 0 THEN 2000000 ELSE 0 END
               AS m_custkey,
             MAX(o_totalprice) AS new_bal
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '2000-01-01'
      GROUP BY 1)
    SELECT COALESCE(c.c_custkey, s.m_custkey) AS c_custkey,
           COALESCE(c.c_name, 'NEW#' || CAST(s.m_custkey AS VARCHAR)) AS c_name,
           ROUND(COALESCE(s.new_bal, c.c_acctbal), 6) AS c_acctbal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN s.m_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.m_custkey
    """,
)
def merge_upsert(spark, sf_dir):
    """MERGE INTO semantics on plain DataFrames: matched rows take the
    source's value (WHEN MATCHED THEN UPDATE), unmatched-source rows
    insert with synthesized attributes (WHEN NOT MATCHED THEN INSERT),
    untouched targets pass through. One full-outer join on the key —
    source aggregates first, so the join's build side is key-cardinality
    sized. The `merge_action` audit column is what a production MERGE
    reports as its row-level metrics."""
    c = table(spark, sf_dir, "customer")
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(
            (
                F.col("o_custkey")
                + F.when(F.col("o_orderkey") % 7 == 0, F.lit(2000000)).otherwise(0)
            ).alias("m_custkey"),
            "o_totalprice",
        )
        .groupBy("m_custkey")
        .agg(F.max("o_totalprice").alias("new_bal"))
    )
    return c.join(src, c.c_custkey == src.m_custkey, "full_outer").select(
        F.coalesce("c_custkey", "m_custkey").alias("c_custkey"),
        F.coalesce(
            "c_name", F.concat(F.lit("NEW#"), F.col("m_custkey").cast("string"))
        ).alias("c_name"),
        F.round(F.coalesce("new_bal", "c_acctbal"), 6).alias("c_acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("m_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


# --------------------------------------------------------------------------
# SCD type-2 dimension build: per-key validity intervals from a change log
# --------------------------------------------------------------------------


@dq(
    "scd2_dim",
    oracle="""
    SELECT o_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS valid_from,
           STRFTIME(LEAD(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
           CASE WHEN LEAD(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
             AS is_current,
           ROUND(o_totalprice, 6) AS attr_price
    FROM orders
    WHERE o_custkey % 50 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_dim(spark, sf_dir):
    """Slowly-changing-dimension type 2: each change-log row (here:
    orders as the change stream) becomes a version with
    [valid_from, valid_to) bounds via LEAD over the key's timeline; the
    open-ended latest version is flagged current. Window partitioned by
    the dimension key — no global sort; ties broken by o_orderkey so
    both engines pick identical interval chains."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(nxt, "yyyy-MM-dd").alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        F.round("o_totalprice", 6).alias("attr_price"),
    )


# --------------------------------------------------------------------------
# incremental materialized-aggregate maintenance: merge a delta batch's
# partial aggregates into a base aggregate WITHOUT recomputing the base —
# proven equal to the full recompute (the oracle) bitwise.
# --------------------------------------------------------------------------


@dq(
    "incr_agg_maintain",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {OSUM('o_totalprice')} AS total_spend,
           CASE WHEN MIN(o_orderdate) >= TIMESTAMP '1998-01-01' THEN 'new'
                WHEN MAX(o_orderdate) >= TIMESTAMP '1998-01-01' THEN 'updated'
                ELSE 'unchanged' END AS upd_state
    FROM orders GROUP BY o_custkey
    """,
)
def incr_agg_maintain(spark, sf_dir):
    """Incremental view maintenance for a per-customer spend aggregate:
    the pre-cutoff BASE aggregate and the post-cutoff DELTA aggregate are
    combined by one key-sized full-outer merge (counts add; sums add in
    RAW fixed-point units, so base+delta is bit-identical to the full
    recompute — adding two independently-downscaled doubles would differ
    in the last ulp). At 100 TB the base side is the stored materialized
    view and only the delta partition is scanned; the merge cost is
    key-cardinality, not fact-cardinality. `upd_state` is the maintenance
    audit: whether the key was created, touched, or untouched by the
    delta — derived from join-side nullability here, from the orderdate
    extrema in the recompute oracle."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    units = F.sum(F.round(F.col("o_totalprice") * 1_000_000.0).cast("long"))
    base = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_bn"), units.alias("_bu"))
    )
    delta = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_dn"), units.alias("_du"))
    )
    merged = base.join(delta, "o_custkey", "full_outer")
    return merged.select(
        "o_custkey",
        (F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0))).alias("n_orders"),
        (
            (F.coalesce("_bu", F.lit(0)) + F.coalesce("_du", F.lit(0))).cast("double")
            / F.lit(1_000_000.0)
        ).alias("total_spend"),
        F.when(F.col("_bn").isNull(), "new")
        .when(F.col("_dn").isNull(), "unchanged")
        .otherwise("updated")
        .alias("upd_state"),
    )


# --------------------------------------------------------------------------
# ORC round-trip: write → read-back → aggregate, hash-checked against the
# same aggregate computed straight from parquet (lossless-format proof).
# --------------------------------------------------------------------------

_ORC_RT_LC = Lifecycle()


@dq(
    "orc_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
    FROM documents WHERE doc_id < 2000 GROUP BY source
    """,
)
def orc_roundtrip(spark, sf_dir):
    """Columnar-format interchange: a documents slice is written to ORC
    (Spark's built-in writer — snappy, column stats), read back, and
    aggregated. The oracle computes the identical aggregate from the
    PARQUET originals, so a hash match proves the ORC round-trip is
    byte-lossless for string/int columns. The write itself is the
    distributed part (one file per input partition, no coalesce-to-1
    bottleneck); the read-back scan prunes to the two referenced
    columns like any columnar scan."""
    import hashlib
    import os

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    # pid in the path: two processes on the same sf_dir (driver sweep +
    # a local check) must not overwrite each other's directory mid-scan.
    # The previous call's dir is released on the NEXT call (the returned
    # DataFrame reads the files lazily — same lifecycle contract as
    # streaming/pipelines._ACTIVE_UPSERT_DIRS).
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/vcf2db_orc_rt_{os.getpid()}_{tag}"
    _ORC_RT_LC.release()
    d.write.format("orc").mode("overwrite").save(path)
    _ORC_RT_LC.hold_dir(path)
    back = spark.read.orc(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


_CSV_RT_LC = Lifecycle()


@dq(
    "csv_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
    FROM documents WHERE doc_id < 2000 GROUP BY source
    """,
)
def csv_roundtrip(spark, sf_dir):
    """Text-format interchange (the ingest format everything arrives
    in): a documents slice is written to CSV with full quoting/escaping,
    read back under an EXPLICIT schema (no inferSchema — a production
    reader never lets sampling pick its types), and aggregated. The
    oracle computes the identical aggregate from the parquet originals,
    so the hash match proves the quote/escape round trip is lossless
    for free text AND that the typed read-back preserves integers
    exactly. multiLine handles embedded newlines; the write is one file
    per input partition (no coalesce bottleneck), the read splits by
    file."""
    import hashlib
    import os

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/vcf2db_csv_rt_{os.getpid()}_{tag}"
    _CSV_RT_LC.release()
    (
        d.write.format("csv")
        .mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        # the WRITER also trims by default (both options default true on
        # write) — padded text would be stripped before it ever lands
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .save(path)
    )
    _CSV_RT_LC.hold_dir(path)
    back = spark.read.csv(
        path,
        header=True,
        multiLine=True,
        escape='"',
        # the reader TRIMS whitespace inside quoted fields by default —
        # silently lossy on padded text (caught by the hostile-content
        # test in tests/test_sinks_scale.py); disable both sides
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
    )


_JSON_RT_LC = Lifecycle()


@dq(
    "json_roundtrip",
    oracle="""
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
    FROM documents WHERE doc_id < 2000 GROUP BY source
    """,
)
def json_roundtrip(spark, sf_dir):
    """JSON-lines interchange — the third leg of the format trio
    (orc_roundtrip / csv_roundtrip): a documents slice is written as
    newline-delimited JSON (one file per input partition; the ingest
    format most scraped corpora arrive in), read back under an EXPLICIT
    schema (no sampling-based inference), and aggregated. The oracle
    computes the identical aggregate from the parquet originals, so a
    hash match proves JSON string escaping (quotes, backslashes,
    control characters, non-ASCII) and typed integer read-back are
    lossless. Splittable on read (line-delimited, many files)."""
    import hashlib
    import os

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/vcf2db_json_rt_{os.getpid()}_{tag}"
    _JSON_RT_LC.release()
    d.write.format("json").mode("overwrite").save(path)
    _JSON_RT_LC.hold_dir(path)
    back = spark.read.json(
        path,
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum("n_chars").cast("bigint").alias("sum_n_chars"),
    )


# --------------------------------------------------------------------------
# data-quality constraint audit (deequ-style): uniqueness, referential
# integrity, null-rate, and range checks in one declared pass — the
# pre-load validation a warehouse runs before publishing a build.
# --------------------------------------------------------------------------


@dq(
    "constraint_audit",
    oracle="""
    SELECT 'orders_pk_unique' AS chk,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST(COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 45) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_price_nonnull',
           CAST(COUNT(*) FILTER (WHERE l_extendedprice IS NULL) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events_ts_bounds',
           CAST(COUNT(*) FILTER (WHERE ts < TIMESTAMP '2020-01-01'
                                    OR ts > TIMESTAMP '2030-01-01') AS BIGINT)
    FROM events
    """,
)
def constraint_audit(spark, sf_dir):
    """Constraint audit over the warehouse tables: PK uniqueness (count
    minus distinct — one aggregate, no self-join), FK orphan detection
    (LEFT JOIN null-probe; broadcast dim at this dim/fact ratio, shuffle
    join at scale via AQE), and row-level range/null checks that fold
    into conditional counts on the scans. Five independent small
    aggregates union to a (check, n_violations) report — batched so each
    TABLE is scanned once (the multi-constraint-per-scan shape a
    production audit uses): orders' PK check rides the same left-joined
    relation as its FK probe (the dim join cannot duplicate rows —
    c_custkey is itself unique), lineitem's range and null checks share
    one conditional aggregate. 5 scans → 3: measured NEUTRAL at sf1
    (the union's branches already execute concurrently on idle local
    cores, hiding scan count) — the batching is for the 100 TB regime,
    where each avoided full-table scan is the I/O bound, not CPU."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    li = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")

    def unstack(df, *pairs):
        args = ", ".join(f"'{chk}', CAST({col} AS BIGINT)" for chk, col in pairs)
        return df.select(
            F.expr(f"stack({len(pairs)}, {args}) AS (chk, n_violations)")
        )

    orders_checks = unstack(
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_outer").agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("pk"),
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("fk"),
        ),
        ("orders_pk_unique", "pk"),
        ("orders_fk_customer", "fk"),
    )
    # deliberately tight bound (fixture qty is uniform 1-50): the check
    # REPORTS real rows at every sf, proving the counting path is live —
    # an all-zero audit over clean-by-construction fixtures would be a
    # vacuous pass
    li_checks = unstack(
        li.agg(
            F.count(
                F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 45), 1)
            ).alias("rng"),
            F.count(F.when(F.col("l_extendedprice").isNull(), 1)).alias("nn"),
        ),
        ("lineitem_qty_range", "rng"),
        ("lineitem_price_nonnull", "nn"),
    )
    ev_checks = unstack(
        e.agg(
            F.count(
                F.when(
                    (F.col("ts") < F.lit("2020-01-01").cast("timestamp"))
                    | (F.col("ts") > F.lit("2030-01-01").cast("timestamp")),
                    1,
                )
            ).alias("ts")
        ),
        ("events_ts_bounds", "ts"),
    )
    return orders_checks.unionAll(li_checks).unionAll(ev_checks)


# --------------------------------------------------------------------------
# small-file compaction (the OPTIMIZE shape): fragmented table → bin-packed
# target-size files, proven lossless against the originals.
# --------------------------------------------------------------------------

_COMPACT_LC = Lifecycle()


@dq(
    "compact_files",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM documents WHERE doc_id < 2000
    """,
)
def compact_files(spark, sf_dir):
    """Table-maintenance compaction: the documents table is first written
    FRAGMENTED (64 small files — the streaming-ingest pathology), then
    compacted to ceil(bytes / 32 MB) files via coalesce (bin-packs many
    input files per output task WITHOUT a shuffle — exactly what a
    transactional format's OPTIMIZE does minus the log), and the
    compacted copy is aggregated. The oracle computes the identical
    aggregate from the original parquet, so a hash match proves the
    fragment→compact round trip lost nothing. File-count reduction is
    asserted in tests/test_sinks_scale.py."""
    import hashlib
    import math
    import os
    import shutil

    # bounded slice (harness convention): the small-file pathology and
    # the bin-pack live at file granularity, not row count
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/vcf2db_compact_{os.getpid()}_{tag}"
    _COMPACT_LC.release()
    frag, comp = os.path.join(base, "frag"), os.path.join(base, "comp")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    nbytes = sum(
        os.path.getsize(os.path.join(frag, f))
        for f in os.listdir(frag)
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(nbytes / (32 << 20)))
    frag_df = spark.read.parquet(frag)
    # coalesce can only MERGE read partitions; when the scan bin-packs
    # the fragments into fewer partitions than the 32 MB target wants
    # (maxPartitionBytes ≫ target), fall through to a repartition so the
    # target actually holds — the shuffle-path OPTIMIZE
    read_parts = frag_df.rdd.getNumPartitions()
    packed = (
        frag_df.coalesce(n_out) if read_parts >= n_out else frag_df.repartition(n_out)
    )
    packed.write.mode("overwrite").parquet(comp)
    _COMPACT_LC.hold_dir(base)
    back = spark.read.parquet(comp)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# bucketed co-located join: both sides pre-bucketed on their join keys, the
# join plans with NO exchange on either side (driver-visible twin of
# tests/test_sinks_scale.py::test_bucketed_join_elides_shuffle).
# --------------------------------------------------------------------------


@dq(
    "bucketed_join",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_lines,
           {OSUM('l_extendedprice')} AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_custkey % 11 = 0
    GROUP BY o_orderstatus
    """,
)
def bucketed_join(spark, sf_dir):
    """Bucketing as the amortized-shuffle strategy: both relations are
    written as managed bucketed tables (8 hash buckets on each side's
    join key), and the subsequent join is co-located — Catalyst sees
    matching HashClusteredDistributions and plans it with NO exchange on
    EITHER side. Pay one write-time shuffle, amortize it over every
    repeated join on that key — at 100 TB this is the variants⋈impacts
    layout decision. The oracle recomputes from raw parquet; the hash
    match proves bucketed storage is semantics-neutral. Table names are
    pid-scoped (concurrent sessions must not clobber each other's
    warehouse entries)."""
    import os
    import re
    import shutil

    from vcf2db_spark.sinks.writers import write_bucketed

    # reap bucket-table directories left by DEAD processes (the catalog
    # is per-session, so a stale pid's dir is orphan files; a LIVE
    # concurrent process still has /proc/<pid> and is left alone)
    wh = os.path.join(os.getcwd(), "spark-warehouse")
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            m = re.fullmatch(r"bj_(?:orders|lineitem)_(\d+)", d)
            if m and int(m.group(1)) != os.getpid() and not os.path.isdir(
                f"/proc/{m.group(1)}"
            ):
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 11 == 0)
        .select("o_orderkey", "o_orderstatus")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    li = li.join(
        F.broadcast(o.select("o_orderkey")),
        li.l_orderkey == F.col("o_orderkey"),
        "leftsemi",
    )
    to_, tl = f"bj_orders_{os.getpid()}", f"bj_lineitem_{os.getpid()}"
    write_bucketed(o, to_, ("o_orderkey",), n_buckets=8)
    write_bucketed(li, tl, ("l_orderkey",), n_buckets=8)
    bo, bl = spark.table(to_), spark.table(tl)
    # MERGE hint: the filtered orders bucket table is small enough that
    # Catalyst would auto-broadcast it — which throws away the co-located
    # bucket layout this query exists to demonstrate (and re-plans the
    # driver-side hash build at real scale, where the table isn't small;
    # caught by tests/test_plan_broadcast.py, r6). The hinted sort-merge
    # join sees matching bucket specs and plans NO exchange on either
    # side — the amortized-shuffle contract.
    return (
        bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice").alias("revenue"),
        )
    )
