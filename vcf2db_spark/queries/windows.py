"""Window functions, subqueries, scalar-function surface, range/as-of joins
(SURVEY.md §2B B7-B8, B14-B16, B18, B20-B25, B28-B30).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from vcf2db_spark.io import table, table_wide
from vcf2db_spark.registry import OAVG, OSUM, davg, dq, dsum, r6, z6

# --------------------------------------------------------------------------
# B14 — ranking windows (rank variants within gene shape). Unique-key
# tie-break keeps row_number deterministic.
# --------------------------------------------------------------------------


@dq(
    "win_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders)
    WHERE rk <= 3
    """,
)
def win_rank(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


# --------------------------------------------------------------------------
# B15 — lag/lead analytics + running total. Running sums accumulate in
# DECIMAL so the frame arithmetic is exact on both engines.
# --------------------------------------------------------------------------


@dq(
    "win_lag",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 6) + 0.0 AS delta
    FROM events
    """,
)
def win_lag(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # z6 (not r6): deltas are signed — registry signed-zero convention
    return e.select(
        "event_id", "user_id", z6(F.col("value") - F.lag("value").over(w)).alias("delta")
    )


@dq(
    "win_running",
    oracle="""
    SELECT event_id, user_id,
           (CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1000000.0) AS running_value
    FROM events
    """,
)
def win_running(spark, sf_dir):
    # fixed-point running sum (same convention as registry.dsum): exact
    # BIGINT accumulation in the frame, one downscale — decimal window
    # accumulators are ~3× slower for the same determinism
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    units = F.sum(F.round(F.col("value") * 1000000.0).cast("long")).over(w)
    return e.select(
        "event_id",
        "user_id",
        (units.cast("double") / F.lit(1000000.0)).alias("running_value"),
    )


# --------------------------------------------------------------------------
# B16 — moving frame aggregate (3-row moving average)
# --------------------------------------------------------------------------


@dq(
    "win_moving",
    oracle="""
    SELECT o_orderkey, o_custkey,
           (CAST(ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 1000000.0) AS BIGINT))
                            OVER w AS DOUBLE)
                       / COUNT(o_totalprice) OVER w) AS DOUBLE)
            / 1000000.0) AS mov_avg_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving(spark, sf_dir):
    # fixed-point moving mean, rounded in INTEGER UNITS before the
    # downscale (same boundary-safety argument as registry.davg)
    o = table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    units = F.sum(F.round(F.col("o_totalprice") * 1000000.0).cast("long")).over(w)
    mov = F.round(units.cast("double") / F.count("o_totalprice").over(w)).cast(
        "double"
    ) / F.lit(1000000.0)
    return o.select("o_orderkey", "o_custkey", mov.alias("mov_avg_price"))


# --------------------------------------------------------------------------
# B18 — subqueries (IN / scalar), via spark.sql so Catalyst's subquery
# rewrite (semi-join conversion, scalar-subquery decorrelation) is on show.
# --------------------------------------------------------------------------


@dq(
    "subq_in",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
)
def subq_in(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        """
    )


@dq(
    "subq_scalar",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_above FROM lineitem
    WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem)
    GROUP BY l_returnflag
    """,
)
def subq_scalar(spark, sf_dir):
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n_above FROM lineitem
        WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem)
        GROUP BY l_returnflag
        """
    )


# --------------------------------------------------------------------------
# B20 — array-index predicate (gemini gt_types[sample] == HET shape)
# --------------------------------------------------------------------------


@dq(
    "array_index_filter",
    oracle="""
    SELECT label, COUNT(*) AS n_vecs FROM embeddings
    WHERE embedding[1] > 0 GROUP BY label
    """,
)
def array_index_filter(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    return (
        e.filter(F.element_at("embedding", 1) > 0)
        .groupBy("label")
        .agg(F.count("*").alias("n_vecs"))
    )


# --------------------------------------------------------------------------
# B21 — scalar string functions
# --------------------------------------------------------------------------


@dq(
    "str_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(SUBSTRING(p_name, 1, 5)) AS head5,
           LENGTH(p_name) AS name_len,
           REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_u,
           TRIM(p_name) AS trimmed
    FROM part
    """,
)
def str_funcs(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 5)).alias("head5"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_u"),
        F.trim("p_name").alias("trimmed"),
    )


# --------------------------------------------------------------------------
# B22 — date/time functions; temporal outputs projected to strings so both
# engines hash identical values.
# --------------------------------------------------------------------------


@dq(
    "date_funcs",
    oracle=f"""
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
           YEAR(o_orderdate) AS yr,
           MONTH(o_orderdate) AS mon,
           COUNT(*) AS n_orders,
           {OSUM('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY ALL
    """,
)
def date_funcs(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mon"),
            "o_totalprice",
        )
        .groupBy("month_start", "yr", "mon")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price"))
    )


# --------------------------------------------------------------------------
# B23 — math functions (libm last-ulp differences are far below ROUND(.,6))
# --------------------------------------------------------------------------


@dq(
    "math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(LN(l_extendedprice), 6) AS ln_price,
           ROUND(SQRT(l_quantity), 6) AS sqrt_qty,
           ROUND(EXP(l_discount), 6) AS exp_disc,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
           ABS(l_quantity - 25) AS abs_qty,
           CAST(l_orderkey % 7 AS BIGINT) AS mod7
    FROM lineitem
    """,
)
def math_funcs(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(F.log(F.col("l_extendedprice"))).alias("ln_price"),
        r6(F.sqrt("l_quantity")).alias("sqrt_qty"),
        r6(F.exp("l_discount")).alias("exp_disc"),
        F.ceil("l_extendedprice").cast("bigint").alias("ceil_price"),
        F.floor("l_extendedprice").cast("bigint").alias("floor_price"),
        F.abs(F.col("l_quantity") - 25).alias("abs_qty"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("mod7"),
    )


# --------------------------------------------------------------------------
# B24 — array functions (size/slice/sort — exact, no float arithmetic)
# --------------------------------------------------------------------------


@dq(
    "array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS n_dims,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(list_sort(embedding, 'DESC')[2] AS DOUBLE) AS second_largest,
           len(list_distinct(embedding)) AS n_distinct
    FROM embeddings
    """,
)
def array_funcs(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("n_dims"),
        F.element_at(emb, 1).cast("double").alias("first_val"),
        F.element_at(F.sort_array(emb, asc=False), 2).cast("double").alias("second_largest"),
        F.size(F.array_distinct(emb)).alias("n_distinct"),
    )


# --------------------------------------------------------------------------
# B25 — JSON extraction from events.props
# --------------------------------------------------------------------------


@dq(
    "json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract(spark, sf_dir):
    e = table_wide(spark, sf_dir, "events", "user_id")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("sum_k"), F.count("*").alias("n")
    )


# --------------------------------------------------------------------------
# B28 — exact percentile twin (continuous interpolation on both engines)
# --------------------------------------------------------------------------


@dq(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        r6(F.percentile("l_quantity", F.lit(0.5))).alias("median_qty"),
        r6(F.percentile("l_quantity", F.lit(0.9))).alias("p90_qty"),
    )


# --------------------------------------------------------------------------
# B7 — theta/range join: event pairs of the same user within a 60s band.
# Equi key (user_id) + range residual; at scale this becomes a bucketed-bin
# join (vcf2db_spark.operators.intervals).
# --------------------------------------------------------------------------


@dq(
    "join_range",
    oracle="""
    SELECT a.user_id, COUNT(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND
    GROUP BY a.user_id
    """,
)
def join_range(spark, sf_dir):
    """Banded range join (same binning idea as operators/intervals.py):
    a plain equi-join on user_id makes every same-user pair a candidate —
    per-user-quadratic, the thing that dies at 100 TB. Adding a 60 s time
    bucket to the join key (the left side exploded onto its bucket and the
    next, since a 60 s band spans at most two buckets) keeps the join
    hash-partitioned AND shrinks candidates to pairs within ~2 minutes of
    each other; the exact band predicate then filters residue.

    SHUFFLE_HASH pin (r6): unhinted, Catalyst's estimate for the
    exploded side lands under the broadcast threshold at bench scales
    and it broadcasts 2× the events table — the fact-broadcast class
    tests/test_plan_broadcast.py guards against, and the plan that dies
    at 100 TB. The hinted shuffled hash join on (user_id, bucket) also
    measured FASTEST at both sf0.1 and sf1 (0.78 s vs 1.2 s broadcast /
    0.87 s merge at sf1) — no sort on either side, AQE skew-split
    applies."""
    e = table_wide(spark, sf_dir, "events", "user_id")
    bucket = (F.unix_timestamp("ts") / 60).cast("bigint")
    a = e.select(
        "user_id",
        F.col("ts").alias("a_ts"),
        F.explode(F.array(bucket, bucket + 1)).alias("bk"),
    ).hint("shuffle_hash")
    b = e.select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        bucket.alias("bk"),
    )
    return (
        a.join(
            b,
            (a.user_id == b.b_user)
            & (a.bk == b.bk)
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 60 SECONDS")),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# B8 — as-of join: each purchase event matched to the latest prior-or-equal
# click of the same user. Spark has no native ASOF JOIN: the scalable
# pattern is union + last(ignorenulls) over an ordered window — one shuffle
# on (user_id), no cross product. DuckDB oracle uses its native ASOF JOIN.
# --------------------------------------------------------------------------


@dq(
    "join_asof",
    oracle="""
    SELECT p.event_id,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts"), F.lit(None).cast("bigint").alias("event_id"), F.lit(0).alias("tag")
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("timestamp").alias("click_ts"), "event_id", F.lit(1).alias("tag")
    )
    # at equal ts the click (tag 0) sorts first, so the purchase sees it —
    # matching the oracle's >= semantics.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(purch)
        .withColumn("last_click", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            F.date_format("last_click", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_click_ts"),
        )
    )


# --------------------------------------------------------------------------
# B29 — scalar pandas UDF (Arrow-batched; the sanctioned slow path).
# Per-row double arithmetic is IEEE-deterministic, so the oracle is the
# plain SQL expression.
# --------------------------------------------------------------------------


@dq(
    "udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
    FROM lineitem
    """,
)
def udf_scalar(spark, sf_dir):
    @F.pandas_udf(DoubleType())
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(charge("l_extendedprice", "l_discount", "l_tax")).alias("charged"),
    )


# --------------------------------------------------------------------------
# B30 — grouped UDAF via applyInPandas: weighted mean. Money columns carry
# exactly 2 decimals and quantities are integral (TPC-H domain), so the
# UDF sums in integer cents — exact, associative (group-order-proof), and
# numpy-vectorized over the Arrow batch instead of a per-row Python loop.
# --------------------------------------------------------------------------


@dq(
    "udaf_grouped",
    oracle=f"""
    SELECT l_returnflag,
           ROUND({OSUM('l_extendedprice * l_quantity')} / {OSUM('l_quantity')}, 6)
             AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_grouped(spark, sf_dir):
    # Two-phase salted UDAF: the custom Python logic (exact integer-cents
    # dot product) runs as a PARTIAL aggregate over (flag, salt) groups,
    # and the JVM combines the partials. A naive
    # groupBy(flag).applyInPandas ships every row into |distinct flag|
    # Python tasks — 3 tasks for 6M+ rows at sf1, the low-cardinality
    # skew that murders grouped UDAFs at scale. The cents/qty sums are
    # associative, so salting is exact, the Arrow transfer parallelizes
    # across all cores, and the final combine is a 96-row JVM aggregate.
    def wmean_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = np.rint(pdf["l_extendedprice"].to_numpy() * 100.0).astype("int64")
        qty = np.rint(pdf["l_quantity"].to_numpy()).astype("int64")
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "cents_qty": [int(cents @ qty)],
                "qty": [int(qty.sum())],
            }
        )

    li = table(spark, sf_dir, "lineitem").select(
        # project BEFORE the group shuffle: applyInPandas ships every
        # selected column through the exchange and the Arrow boundary —
        # 3 columns, not the 16-column table
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        F.pmod(F.col("l_orderkey"), F.lit(32)).alias("_salt"),
    )
    partial = li.groupBy("l_returnflag", "_salt").applyInPandas(
        wmean_partial, schema="l_returnflag string, cents_qty long, qty long"
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(
            F.sum("cents_qty").cast("double") / 100.0 / F.sum("qty").cast("double"), 6
        ).alias("weighted_avg_price")
    )


# --------------------------------------------------------------------------
# B29 — UDTF surface (Spark 3.5+/4 @udtf): one input row → N output rows
# via LATERAL join. The Python-per-row cost is the declared surface demo;
# the production path for this shape is split+posexplode (DQ explode_split).
# --------------------------------------------------------------------------


@dq(
    "udtf_split",
    oracle=r"""
    SELECT doc_id,
           generate_subscripts(l, 1) - 1 AS token_idx,
           unnest(l) AS token
    FROM (
      SELECT doc_id, string_split_regex(text, '\s+') AS l
      FROM documents WHERE doc_id < 100
    )
    """,
)
def udtf_split(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="token_idx int, token string")
    class SplitTokens:
        def eval(self, text: str):
            import re

            for i, t in enumerate(re.split(r"\s+", text)):
                yield i, t

    spark.udtf.register("vcf2db_split_tokens", SplitTokens)
    # filter BEFORE the lateral join: predicates on the left table are not
    # reliably pushed through a Generate, and an unpushed filter would run
    # the Python UDTF over the whole corpus just to discard 99.8% of it
    table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT doc_id, t.token_idx, t.token "
        "FROM _udtf_docs, LATERAL vcf2db_split_tokens(text) t"
    )


# --------------------------------------------------------------------------
# B7 at genomic scale — binned interval-overlap join (operators/intervals).
# Intervals derived deterministically from orders; the oracle states the
# OVERLAP SEMANTICS as a plain theta join — the binned plan must reproduce
# it exactly (bin-boundary correctness is what's under test).
# --------------------------------------------------------------------------


@dq(
    "join_interval",
    oracle="""
    WITH ints AS (
      SELECT o_orderkey AS id, o_orderstatus AS chrom,
             (o_orderkey * 7) % 10000 AS start,
             (o_orderkey * 7) % 10000 + CAST(FLOOR(o_totalprice / 2000) AS BIGINT) + 1 AS "end"
      FROM orders WHERE o_orderkey < 1500
    )
    SELECT a.chrom, a.id AS id_a, b.id AS id_b
    FROM ints a JOIN ints b
      ON a.chrom = b.chrom AND a.start < b."end" AND a."end" > b.start
     AND a.id < b.id
    """,
)
def join_interval(spark, sf_dir):
    from vcf2db_spark.operators.intervals import interval_join

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1500)
    ints = o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderstatus").alias("chrom"),
        ((F.col("o_orderkey") * 7) % 10000).alias("start"),
        ((F.col("o_orderkey") * 7) % 10000 + F.floor(F.col("o_totalprice") / 2000) + 1).alias("end"),
    )
    joined = interval_join(ints, ints, bin_width=100)
    return joined.filter(F.col("id") < F.col("id_r")).select(
        "chrom", F.col("id").alias("id_a"), F.col("id_r").alias("id_b")
    )


# --------------------------------------------------------------------------
# B7 — gemini-annotate shape: overlap-count + extract aggregation of a
# region table onto an interval table (operators/annotate.py), left-join
# semantics so zero-overlap rows survive. Deterministic synthetic intervals
# derived from orders keys; score is an integer so SUM is exact both sides.
# --------------------------------------------------------------------------


@dq(
    "annotate_overlap",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS variant_id, o_orderstatus AS chrom,
             (o_orderkey * 7) % 10000 AS start,
             (o_orderkey * 7) % 10000 + 25 AS "end"
      FROM orders WHERE o_orderkey < 1200
    ), b AS (
      SELECT o_orderstatus AS chrom,
             (o_orderkey * 13) % 10000 AS start,
             (o_orderkey * 13) % 10000 + CAST(FLOOR(o_totalprice / 3000) AS BIGINT) + 1 AS "end",
             CAST(FLOOR(o_totalprice) AS BIGINT) AS score
      FROM orders WHERE o_orderkey >= 1200 AND o_orderkey < 2400
    )
    SELECT a.variant_id,
           CAST(COUNT(b.chrom) AS BIGINT) AS n_over,
           COUNT(b.chrom) > 0 AS in_any,
           SUM(b.score) AS score_sum,
           MAX(b.score) AS score_max
    FROM a LEFT JOIN b
      ON a.chrom = b.chrom AND a.start < b."end" AND a."end" > b.start
    GROUP BY a.variant_id
    """,
)
def annotate_overlap(spark, sf_dir):
    from vcf2db_spark.operators.annotate import annotate_variants

    o = table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") < 1200).select(
        F.col("o_orderkey").alias("variant_id"),
        F.col("o_orderstatus").alias("chrom"),
        ((F.col("o_orderkey") * 7) % 10000).alias("start"),
        ((F.col("o_orderkey") * 7) % 10000 + 25).alias("end"),
    )
    b = o.filter((F.col("o_orderkey") >= 1200) & (F.col("o_orderkey") < 2400)).select(
        F.col("o_orderstatus").alias("chrom"),
        ((F.col("o_orderkey") * 13) % 10000).alias("start"),
        ((F.col("o_orderkey") * 13) % 10000 + F.floor(F.col("o_totalprice") / 3000) + 1).alias(
            "end"
        ),
        F.floor("o_totalprice").cast("long").alias("score"),
    )
    out = annotate_variants(
        a,
        b,
        count_col="n_over",
        boolean_col="in_any",
        extract={"score_sum": ("score", "sum"), "score_max": ("score", "max")},
        bin_width=100,
    )
    return out.select(
        "variant_id", F.col("n_over").cast("long"), "in_any", "score_sum", "score_max"
    )


# --------------------------------------------------------------------------
# B25 — MapType surface: JSON → typed map, key/value extraction, HOF over
# values. events.props is {"k": <int>} JSON text.
# --------------------------------------------------------------------------


@dq(
    "map_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
           1 AS n_keys,
           'k' AS first_key
    FROM events WHERE props IS NOT NULL
    """,
)
def map_funcs(spark, sf_dir):
    e = table_wide(spark, sf_dir, "events", "user_id")
    m = F.from_json("props", "map<string,bigint>")
    return e.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(m).alias("n_keys"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
    )


# --------------------------------------------------------------------------
# B15 — first/last analytics; B14 — dense_rank/ntile (the remaining
# ranking-family functions beyond row_number in win_rank).
# --------------------------------------------------------------------------


@dq(
    "win_first_last",
    oracle="""
    SELECT event_id, user_id,
           FIRST_VALUE(event_type) OVER w AS first_type,
           LAST_VALUE(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_first_last(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
    )


@dq(
    "win_ntile_dense",
    oracle="""
    SELECT o_orderkey,
           DENSE_RANK() OVER (ORDER BY o_orderpriority) AS pr_rank,
           NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders WHERE o_orderkey < 5000
    """,
)
def win_ntile_dense(spark, sf_dir):
    # Size-dispatched global ranking (operators/ranking.py): bounded input
    # → one deliberate single-partition window; at scale → broadcast
    # dense-rank dim + two-phase range-partitioned row_number. Either way
    # no implicit unpartitioned WindowExec in the plan.
    from vcf2db_spark.operators.ranking import rank_and_ntile

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    o = rank_and_ntile(
        o, "o_orderpriority", ["o_totalprice", "o_orderkey"], 4,
        rank_alias="pr_rank", ntile_alias="price_quartile",
    )
    return o.select("o_orderkey", "pr_rank", "price_quartile")


# --------------------------------------------------------------------------
# B16 — RANGE frame over event time (trailing 1-hour sum per user): the
# value-based frame complement to win_moving's ROWS frame. Both engines
# order by epoch microseconds (bigint) so the frame boundaries are
# integer-exact; the accumulator is the fixed-point convention.
# --------------------------------------------------------------------------


@dq(
    "win_range_frame",
    oracle="""
    SELECT event_id, user_id,
           (CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / 1000000.0) AS trailing_1h_sum
    FROM events
    """,
)
def win_range_frame(spark, sf_dir):
    e = table(spark, sf_dir, "events")
    w = (
        # ts reads as TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
        # cast to TIMESTAMP is a deterministic reinterpretation
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    units = F.sum(F.round(F.col("value") * 1000000.0).cast("long")).over(w)
    return e.select(
        "event_id",
        "user_id",
        (units.cast("double") / F.lit(1000000.0)).alias("trailing_1h_sum"),
    )


# --------------------------------------------------------------------------
# B14+ completeness (r3): QUALIFY-style window filtering, distribution
# ranks, and relational unpivot/melt
# --------------------------------------------------------------------------


@dq(
    "qualify_topn",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn <= 3
    """,
)
def qualify_topn(spark, sf_dir):
    """Top-3 orders per customer — the QUALIFY idiom (filter on a window
    result). Spark has no QUALIFY keyword; the DataFrame form (window →
    filter) compiles to the identical plan DuckDB's QUALIFY sugar
    produces: one exchange on the partition key, per-partition sort, no
    global sort."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= 3)
    )


@dq(
    "win_percentiles",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6) AS cume,
           NTILE(10) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def win_percentiles(spark, sf_dir):
    """Distribution ranks (percent_rank / cume_dist / ntile) per priority
    class. The rank ratios are integer divisions evaluated identically in
    both engines; ties are impossible (o_orderkey breaks them), so the
    ROUND(.,6) is a formality. Partitioned window — no global sort."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@dq(
    "unpivot_melt",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, val FROM (
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
      FROM lineitem WHERE l_orderkey % 100 = 0)
    UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))
    """,
)
def unpivot_melt(spark, sf_dir):
    """Wide→long melt (the inverse of pivot_crosstab): DataFrame.unpivot
    compiles to an Expand over the 3 measures — a narrow 3× row
    expansion, no shuffle. The 1%-of-orders filter is pushed to the scan
    and only bounds the declared output."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


# --------------------------------------------------------------------------
# B25+ — Spark 4 VARIANT type (open semi-structured data): parse_json →
# binary variant encoding, typed variant_get extraction. The oracle runs
# DuckDB's JSON functions over the same strings — identical values, so
# the comparison proves the VARIANT path end to end.
# --------------------------------------------------------------------------


@dq(
    "variant_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS min_k,
           COUNT(CASE WHEN json_extract_string(props, '$.absent') IS NULL
                      THEN 1 END) AS n_missing
    FROM events GROUP BY event_type
    """,
)
def variant_extract(spark, sf_dir):
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` shreds the string ONCE into the binary variant
    encoding, then every ``variant_get`` is a cheap typed path read — vs
    ``get_json_object`` (DQ json_extract) which re-parses the string per
    extraction. Missing paths yield NULL in both engines."""
    e = table(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("_v"))
    k = F.variant_get("_v", "$.k", "bigint")
    missing = F.variant_get("_v", "$.absent", "string")
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.count(F.when(missing.isNull(), 1)).alias("n_missing"),
    )


# --------------------------------------------------------------------------
# B29+ — cogrouped applyInPandas: the two-sided Pandas escape hatch
# (df1.groupBy.cogroup(df2.groupBy).applyInPandas). The canonical use is a
# per-key temporal merge where both sides must be visible at once — here,
# each purchase counts the same user's clicks in the preceding 60 s via a
# vectorized searchsorted over the click timeline. Oracle: the equivalent
# banded LEFT JOIN + COUNT. Timestamps travel as epoch-microsecond longs
# so the Python side does integer arithmetic only.
# --------------------------------------------------------------------------


@dq(
    "cogroup_asof",
    oracle="""
    SELECT p.event_id, p.user_id, CAST(COUNT(c.uts) AS BIGINT) AS n_recent_clicks
    FROM (SELECT event_id, user_id, epoch_us(ts) AS uts
          FROM events WHERE event_type = 'purchase' AND user_id % 5 = 0) p
    LEFT JOIN (SELECT user_id, epoch_us(ts) AS uts
               FROM events WHERE event_type = 'click' AND user_id % 5 = 0) c
      ON c.user_id = p.user_id
     AND c.uts > p.uts - 60000000 AND c.uts <= p.uts
    GROUP BY p.event_id, p.user_id
    """,
)
def cogroup_asof(spark, sf_dir):
    """Per-user purchase×click temporal merge via FlatMapCoGroupsInPandas:
    both sides shuffle once on user_id, each group lands in ONE Arrow
    batch pair, and the 60 s look-back is two numpy searchsorted calls —
    O(p log c) per user instead of the banded join's candidate blow-up.
    At 100 TB this is the shape for per-key merges whose logic doesn't
    decompose into join+agg (session stitching, trajectory alignment);
    here the logic DOES decompose, which is what makes it oracle-able."""
    import numpy as np
    import pandas as pd

    # bounded input (harness convention): one-in-five users — the pandas
    # group-call count is what the per-round compare would otherwise pay
    e = table_wide(spark, sf_dir, "events", "user_id").filter(
        F.col("user_id") % 5 == 0
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("uts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("uts")
    )

    def count_recent(pdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(
                {"event_id": pd.Series(dtype="int64"),
                 "user_id": pd.Series(dtype="int64"),
                 "n_recent_clicks": pd.Series(dtype="int64")}
            )
        clicks = np.sort(cdf["uts"].to_numpy(np.int64))
        uts = pdf["uts"].to_numpy(np.int64)
        hi = np.searchsorted(clicks, uts, side="right")
        lo = np.searchsorted(clicks, uts - 60_000_000, side="right")
        return pd.DataFrame(
            {"event_id": pdf["event_id"].to_numpy(np.int64),
             "user_id": pdf["user_id"].to_numpy(np.int64),
             "n_recent_clicks": (hi - lo).astype("int64")}
        )

    return (
        p.groupBy("user_id")
        .cogroup(c.groupBy("user_id"))
        .applyInPandas(
            count_recent, "event_id bigint, user_id bigint, n_recent_clicks bigint"
        )
    )


# --------------------------------------------------------------------------
# Time-series resample + gap-fill (the hypertable idiom): per-user HOURLY
# grid over each user's observed span, mean-free per-bucket reduction
# (MAX — order-free), then last-observation-carried-forward across empty
# buckets. Spark: sequence()+explode builds the grid DISTRIBUTED (no
# driver range loop), the LOCF is one ignorenulls window — both engines
# express it, so the whole shape is oracle-backed.
# --------------------------------------------------------------------------


@dq(
    "resample_locf",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS hr, value
      FROM events
    ),
    pm AS (SELECT user_id, hr, MAX(value) AS v FROM e GROUP BY 1, 2),
    b AS (SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM pm GROUP BY 1),
    g AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hr FROM b),
    j AS (SELECT g.user_id, g.hr, pm.v
          FROM g LEFT JOIN pm ON pm.user_id = g.user_id AND pm.hr = g.hr)
    SELECT user_id, hr,
           ROUND(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS val_filled,
           CAST(v IS NULL AS INT) AS is_gap
    FROM j
    """,
)
def resample_locf(spark, sf_dir):
    """Gap-filled hourly resample: per (user, hour) the bucket reduces by
    MAX (order-free — deterministic under any shuffle), missing buckets
    materialize from a per-user sequence() explode (grid generation stays
    on the executors; spans are data-derived, never collected), and LOCF
    is `last(v, ignorenulls=True)` over the user timeline. The grid join
    and the window share the user_id hash partitioning. Hour indexes use
    integer DIV (double division loses exactness past 2^53 — the
    shuffle_export lesson)."""
    e = table_wide(spark, sf_dir, "events", "user_id")
    hr = F.expr("unix_micros(CAST(ts AS TIMESTAMP_LTZ)) DIV 3600000000")
    pm = (
        e.select("user_id", hr.alias("hr"), "value")
        .groupBy("user_id", "hr")
        .agg(F.max("value").alias("v"))
    )
    b = pm.groupBy("user_id").agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    grid = b.select("user_id", F.explode(F.sequence("mn", "mx")).alias("hr"))
    j = grid.join(pm, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "hr",
        F.round(F.last("v", ignorenulls=True).over(w), 6).alias("val_filled"),
        F.col("v").isNull().cast("int").alias("is_gap"),
    )


# --------------------------------------------------------------------------
# B25+ — XML extraction (from_xml, Spark 4): the third semi-structured
# codec next to JSON (json_extract/map_funcs) and VARIANT
# (variant_extract). The XML is formatted from typed columns and parsed
# back in the same plan, so the oracle can state the expected values
# directly — the round trip proves attribute ("_"-prefixed) and element
# extraction against a ground truth neither engine's XML code produced.
# --------------------------------------------------------------------------


@dq(
    "xml_extract",
    oracle="""
    SELECT event_id,
           CAST(event_id % 97 AS BIGINT) AS code,
           upper(event_type) AS tag,
           CAST(COUNT(*) OVER (PARTITION BY upper(event_type)) AS BIGINT) AS n_same_tag
    FROM events WHERE event_id < 1000
    """,
)
def xml_extract(spark, sf_dir):
    """format_string → XML text → from_xml struct (attribute `code`,
    element `tag`) → typed columns, plus a per-tag window over the
    PARSED value proving the extraction feeds ordinary relational ops.
    from_xml is JVM-side (StaxXmlParser) — no Python in the plan.
    (Contract: event_type values are XML-safe words — format_string does
    not escape metacharacters; an '&'-bearing value would null out the
    parse. Fine for the fixture; a general XML encoder would escape.)"""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    xml = F.format_string(
        '<rec code="%d"><tag>%s</tag></rec>',
        F.col("event_id") % 97,
        F.upper("event_type"),
    )
    parsed = e.select(
        "event_id", F.from_xml(xml, "_code BIGINT, tag STRING").alias("_p")
    ).select(
        "event_id",
        F.col("_p._code").alias("code"),
        F.col("_p.tag").alias("tag"),
    )
    w = Window.partitionBy("tag")
    return parsed.withColumn("n_same_tag", F.count(F.lit(1)).over(w).cast("bigint"))
