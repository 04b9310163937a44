"""ETL-dataflow declared queries (SURVEY.md §2A).

These mirror the transforms vcf2db executes during load — rename/sanitize
(A3), black-list pruning (A4), per-row derivation over genotype-like arrays
(A5), annotation explode (A6), top-severity argmax (A7), PED dimension join
(A9), width inference (A11), expanded genotype long-form (A13) — expressed
over the driver fixtures. The real VCF-domain implementations live in
``vcf2db_spark.sources`` / ``operators`` and are unit-tested.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vcf2db_spark.io import table, table_wide
from vcf2db_spark.registry import OAVG, OSUM, davg, dq, dsum, r6

# --------------------------------------------------------------------------
# A3 — sanitize/rename projection (vcf2db clean(): lowercase, ./-→_;
# [U vcf2db.py §clean ~L100])
# --------------------------------------------------------------------------


@dq(
    "rename_project",
    oracle="""
    SELECT p_partkey AS part_id, p_name AS part_name, p_brand AS brand,
           p_retailprice AS retail_price
    FROM part WHERE p_size >= 20
    """,
)
def rename_project(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.filter(F.col("p_size") >= 20).select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("retail_price"),
    )


# --------------------------------------------------------------------------
# A4 — column pruning (--black-list). The point is the physical plan:
# ReadSchema on the parquet scan carries only these three columns.
# --------------------------------------------------------------------------


@dq(
    "prune_columns",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)
def prune_columns(spark, sf_dir):
    return table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")


# --------------------------------------------------------------------------
# A5 — per-row derivation over array columns (genotype-stat shape:
# call_rate / num_het / aaf from gt_types; [U §_set_variant_properties ~L620]).
# Higher-order functions only — no UDF, stays in WholeStageCodegen.
# Exact ops only (counts, min/max): hash-safe without float summation.
# --------------------------------------------------------------------------


@dq(
    "derive_row_stats",
    oracle="""
    SELECT vec_id, label,
           len(embedding) AS n_dims,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_val
    FROM embeddings
    """,
)
def derive_row_stats(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.size(emb).alias("n_dims"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.array_max(emb).cast("double").alias("max_val"),
        F.array_min(emb).cast("double").alias("min_val"),
    )


# --------------------------------------------------------------------------
# A6 — annotation parse + explode (CSQ split shape; [U §gene_info ~L680]).
# split + posexplode to one row per token with its position.
# --------------------------------------------------------------------------


@dq(
    "explode_split",
    oracle="""
    SELECT doc_id,
           unnest(range(len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 100
    """,
)
def explode_split(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token")
    )


# --------------------------------------------------------------------------
# A7 — top-severity reduction (argmax per group; geneimpacts top_severity).
# max(struct(ord, key)) gives a deterministic argmax with key tie-break —
# single shuffle with partial aggregation, no window needed.
# --------------------------------------------------------------------------


@dq(
    "argmax_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey AS best_order, o_totalprice AS best_price
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
)
def argmax_per_group(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    best = F.max(F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")))
    return (
        o.groupBy("o_custkey")
        .agg(best.alias("best"))
        .select("o_custkey", F.col("best.k").alias("best_order"), F.col("best.p").alias("best_price"))
    )


# --------------------------------------------------------------------------
# A9 — dimension load + broadcast join (PED samples table shape;
# [U §load_ped ~L850])
# --------------------------------------------------------------------------


@dq(
    "dim_load_join",
    oracle=f"""
    SELECT n.n_name, COUNT(*) AS n_customers,
           {OSUM('c.c_acctbal')} AS sum_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def dim_load_join(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_acctbal"))
    )


# --------------------------------------------------------------------------
# A11 — string width inference (VARCHAR sizing pass;
# [U §check_column_lengths ~L760])
# --------------------------------------------------------------------------


@dq(
    "max_strlen",
    oracle="""
    SELECT p_brand, MAX(LENGTH(p_name)) AS max_len, MIN(LENGTH(p_name)) AS min_len
    FROM part GROUP BY p_brand
    """,
)
def max_strlen(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.max(F.length("p_name")).alias("max_len"),
        F.min(F.length("p_name")).alias("min_len"),
    )


# --------------------------------------------------------------------------
# A13 — expanded genotype long-form (--expand): posexplode the array to
# (id, position, value) rows, then per-position aggregation.
# --------------------------------------------------------------------------


@dq(
    "posexplode_long",
    oracle=f"""
    WITH long AS (
      SELECT vec_id,
             unnest(range(len(embedding))) AS pos,
             unnest(embedding) AS val
      FROM embeddings
    )
    SELECT pos, COUNT(*) AS n,
           {OSUM('CAST(val AS DOUBLE)')} AS sum_val,
           ROUND({OAVG('CAST(val AS DOUBLE)')}, 6) AS avg_val
    FROM long GROUP BY pos
    """,
)
def posexplode_long(spark, sf_dir):
    e = table_wide(spark, sf_dir, "embeddings", "vec_id")
    long = e.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    v = F.col("val").cast("double")
    return long.groupBy("pos").agg(
        F.count("*").alias("n"),
        dsum(v).alias("sum_val"),
        r6(davg(v)).alias("avg_val"),
    )


# --------------------------------------------------------------------------
# A12 — post-load index analog: Z-order (Morton) layout key. The reference
# CREATE INDEXes hot columns after load [U vcf2db.py §create_indexes
# ~L1000]; the Spark analog is a physical layout whose one sort key serves
# several columns' min/max pruning (operators/layout.py). The key itself is
# exact integer arithmetic, so it is oracle-verified end to end; the
# write-path pruning effect is asserted in tests/test_layout.py.
# --------------------------------------------------------------------------

from vcf2db_spark.operators.layout import (  # noqa: E402
    with_zorder_key,
    zorder_oracle_sql,
)

_ZORDER_KEEP = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]


@dq(
    "layout_zorder",
    oracle=zorder_oracle_sql(
        "lineitem", ["l_partkey", "l_suppkey"], _ZORDER_KEEP, bits=16
    ),
)
def layout_zorder(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(*_ZORDER_KEEP)
    return with_zorder_key(li, ["l_partkey", "l_suppkey"], bits=16)


# --------------------------------------------------------------------------
# A-tier extension — one-pass column profiling. The reference sniffs
# column domains with ad-hoc SELECTs while sizing the target DDL; a
# pipeline at scale wants the whole numeric profile from ONE fact scan.
# Spark computes all 8 columns' (count, nulls, distinct, min, max) in a
# single aggregate and unpivots with stack(); the oracle is the naive
# 8-subquery UNION — different plans, identical values.
# --------------------------------------------------------------------------

_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
]


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
            COUNT(*) - COUNT({c}) AS n_nulls,
            COUNT(DISTINCT {c}) AS n_distinct,
            CAST(MIN({c}) AS DOUBLE) AS min_val,
            CAST(MAX({c}) AS DOUBLE) AS max_val
            FROM lineitem"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@dq("profile_columns", oracle=_profile_oracle())
def profile_columns(spark, sf_dir):
    """One-scan numeric profile. Plan note: 8 countDistinct's in a single
    aggregate would compile to a 9-way Expand (row count × 9 before any
    combine — measured 3.95 s at sf1, 21× DuckDB). Instead the scan
    unpivots to (col_name, value) long form and aggregates TWICE: first
    to distinct (col, value) pairs carrying their multiplicity (map-side
    combinable — the shuffle moves ~Σ distinct values, not 48M rows),
    then to the per-column profile where n_distinct is a plain row count.
    Same two-phase shape as the agg_distinct pre-aggregation; no Expand
    anywhere."""
    li = table(spark, sf_dir, "lineitem").select(*_PROFILE_COLS)
    # Typed slots: integral columns stay BIGINT through the distinct
    # pre-aggregation (a DOUBLE cast before distinct would collapse key
    # values past 2^53 and undercount n_distinct at warehouse scale);
    # only the min/max REPORT columns cast to double, where the cast is
    # monotone so min/max commute with it.
    int_cols = {"l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"}
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS BIGINT), CAST(NULL AS DOUBLE)"
        if c in int_cols
        else f"'{c}', CAST(NULL AS BIGINT), CAST({c} AS DOUBLE)"
        for c in _PROFILE_COLS
    )
    long = li.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (col_name, ival, dval)"
        )
    )
    pairs = long.groupBy("col_name", "ival", "dval").agg(
        F.count(F.lit(1)).alias("_c")
    )
    is_null = F.col("ival").isNull() & F.col("dval").isNull()
    report_val = F.coalesce(F.col("ival").cast("double"), F.col("dval"))
    return pairs.groupBy("col_name").agg(
        F.sum("_c").alias("n_rows"),
        F.sum(F.when(is_null, F.col("_c")).otherwise(F.lit(0))).alias("n_nulls"),
        F.sum(F.when(is_null, F.lit(0)).otherwise(F.lit(1))).alias("n_distinct"),
        F.min(report_val).alias("min_val"),
        F.max(report_val).alias("max_val"),
    )
