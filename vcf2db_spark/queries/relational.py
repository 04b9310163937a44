"""Core relational query surface (SURVEY.md §2B B1-B13, B17-B19, B26).

These reproduce the gemini-style SQL shapes the reference's output schema
serves (filter/project/join/aggregate over variants ⋈ impacts ⋈ samples;
see SURVEY §1.1), declared over the driver's TPC-H-ish fixtures.

Every Spark plan here is pure DataFrame API: Catalyst gets predicate
pushdown, column pruning, and join selection for free. Small dimensions
(region/nation/customer/supplier) are explicitly broadcast where a star
join would otherwise shuffle the fact table (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vcf2db_spark.io import table
from vcf2db_spark.registry import OAVG, OSUM, davg, dq, dsum, r6

# --------------------------------------------------------------------------
# A1 — full scan (source smoke; at scale: parquet vectorized reader,
# partition = row-group split, count is metadata-only where possible)
# --------------------------------------------------------------------------


@dq(
    "scan_parquet",
    oracle="SELECT COUNT(*) AS n_rows FROM lineitem",
)
def scan_parquet(spark, sf_dir):
    return table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


# --------------------------------------------------------------------------
# B1 — predicate filter; filters push to the parquet scan (PushedFilters)
# --------------------------------------------------------------------------


@dq(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
    FROM lineitem
    WHERE l_quantity < 24 AND l_shipdate < TIMESTAMP '1997-06-01'
    """,
)
def filter_pred(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") < 24)
        & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


# --------------------------------------------------------------------------
# B2 — projection + expression eval (per-row double math is IEEE-deterministic)
# --------------------------------------------------------------------------


@dq(
    "project_expr",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 6) AS revenue
    FROM lineitem
    """,
)
def project_expr(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r6(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


# --------------------------------------------------------------------------
# B3 — equi inner join (variants⋈impacts shape). customer is the small side;
# AQE picks broadcast-hash automatically, we hint it explicitly.
# --------------------------------------------------------------------------


@dq(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 300000
    """,
)
def join_inner(spark, sf_dir):
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    c = table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_name", "o_totalprice"
    )


# --------------------------------------------------------------------------
# B4 — multi-way star join; all dimensions broadcast so the fact table
# (lineitem) never shuffles — the plan that survives 100×.
# --------------------------------------------------------------------------


@dq(
    "join_star",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           {OSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def join_star(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    # orders is a FACT table: hint SHUFFLE_HASH, not broadcast. Unhinted,
    # its pruned 2-column stats land UNDER autoBroadcastJoinThreshold and
    # Catalyst broadcasts 1.5M rows — a single-threaded driver-side hash
    # build that measured 1.8× SLOWER than the shuffled plan at sf1
    # (1.12 → 0.62 s median, BASELINE.md round 5) and is the very plan
    # that dies at 100 TB. SHUFFLE_HASH exchanges both facts on the join
    # key and builds per-partition (rows/task bounded by the shuffle
    # partitioning, which scales with the cluster; AQE skew-split applies
    # to SHJ). The true dimensions stay broadcast-hinted.
    # Project the fact tables to the consumed columns before any exchange.
    l = l.select("l_orderkey", "l_extendedprice", "l_discount")
    o = o.select("o_orderkey", "o_custkey").hint("shuffle_hash")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey", "n_name")), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.select("r_regionkey", "r_name")), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# B4+ — salt-and-replicate skewed join: the manual hot-key device for
# fact-skew against a non-broadcastable dim (operators/skew.salted_join;
# docs/SCALE.md §3). A third of lineitem is funneled onto ONE supplier
# key, then joined salted — the hot key spreads over n_salt tasks.
# Oracle-exact: the salt is internal, the join result is a plain join.
# --------------------------------------------------------------------------


@dq(
    "join_skew_salted",
    oracle=f"""
    SELECT s.s_nationkey, COUNT(*) AS n_lines,
           {OSUM('f.l_extendedprice')} AS revenue
    FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS k,
                 l_extendedprice
          FROM lineitem) f
    JOIN supplier s ON f.k = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
)
def join_skew_salted(spark, sf_dir):
    """Skewed fact⋈dim with manual salting: a CASE funnels ~⅓ of
    lineitem onto supplier key 1 (the manufactured hot key every real
    corpus has — the null-ish default domain, the bot user, the empty
    document). ``salted_join`` salts the fact by its own primary key and
    replicates the dim ×16, so the hot key's rows land on 16 tasks
    instead of one; the dim side is MERGE-hinted so the exchange (and
    therefore the skew) actually exists at bench scale — at 100 TB a
    cluster-sized dim forces this shape anyway, and AQE's skew split
    cannot help when the build/sort of one giant key partition is the
    bottleneck. The oracle runs the plain unsalted join: a hash match
    proves salting is semantics-neutral."""
    from vcf2db_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_extendedprice",
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .cast("bigint")
        .alias("k"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey").hint("merge")
    j = salted_join(
        li, s, "k", "s_suppkey", salt_src=["l_orderkey", "l_linenumber"], n_salt=16
    )
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_extendedprice")).alias("revenue"),
    )


# --------------------------------------------------------------------------
# B5 — left outer join (variants with/without annotation shape). Every
# customer has orders in the fixtures, so join a filtered subset to exercise
# the null-extension path.
# --------------------------------------------------------------------------


@dq(
    "join_left",
    oracle="""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_big_orders,
           COUNT(*) AS n_rows
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"), F.count("*").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# B6 — semi / anti joins (samples having/lacking an allele shape)
# --------------------------------------------------------------------------


@dq(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_semi(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@dq(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def join_anti(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# B9 — hash aggregation with group-by: TPC-H Q1 shape, the flagship query
# (entry()). Partial (map-side) aggregation makes this a single shuffle of
# ~|groups| rows regardless of input size.
# --------------------------------------------------------------------------


@dq(
    "agg_group",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {OSUM('l_quantity')} AS sum_qty,
           {OSUM('l_extendedprice')} AS sum_base_price,
           {OSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {OSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           ROUND({OAVG('l_quantity')}, 6) AS avg_qty,
           ROUND({OAVG('l_extendedprice')}, 6) AS avg_price,
           ROUND({OAVG('l_discount')}, 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            r6(davg("l_quantity")).alias("avg_qty"),
            r6(davg("l_extendedprice")).alias("avg_price"),
            r6(davg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# B10 — distinct & count-distinct
# --------------------------------------------------------------------------


@dq(
    "agg_distinct",
    oracle="""
    SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_suppkey
    """,
)
def agg_distinct(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"), F.count("*").alias("n_items")
    )


# --------------------------------------------------------------------------
# B11 — rollup / cube (impact-severity crosstab shape)
# --------------------------------------------------------------------------


@dq(
    "agg_rollup",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def agg_rollup(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@dq(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           {OSUM('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_price")
    )


# --------------------------------------------------------------------------
# B12 — HAVING on aggregates
# --------------------------------------------------------------------------


@dq(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, {OSUM('o_totalprice')} AS total_spend,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING {OSUM('o_totalprice')} > 2000000
    """,
)
def agg_having(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("_total"),
            F.count("*").alias("n_orders"),
        )
        .filter(F.col("_total").cast("double") > 2000000)
        .select(
            "o_custkey",
            F.col("_total").cast("decimal(38,6)").cast("double").alias("total_spend"),
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# B13 — ordering + LIMIT: Spark plans TakeOrderedAndProject (no full sort,
# per-partition top-k then merge — the scale-safe physical form).
# --------------------------------------------------------------------------


@dq(
    "topk_order",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_order(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# B17 — set operations
# --------------------------------------------------------------------------


@dq(
    "set_union",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 8000
    UNION
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def set_union(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 8000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return a.union(b).distinct()


@dq(
    "set_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_intersect(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return a.intersect(b)


@dq(
    "set_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def set_except(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    return a.exceptAll(b).distinct()


# --------------------------------------------------------------------------
# B19 — CASE/conditional classification (impact-severity bucketing shape)
# --------------------------------------------------------------------------


@dq(
    "case_bucket",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS band,
           COUNT(*) AS n_orders
    FROM orders GROUP BY band
    """,
)
def case_bucket(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
    )
    return o.select(band.alias("band")).groupBy("band").agg(F.count("*").alias("n_orders"))


# --------------------------------------------------------------------------
# B26 — NULL semantics: left-join nulls, coalesce, null-safe equality
# --------------------------------------------------------------------------


@dq(
    "null_funcs",
    oracle=f"""
    SELECT c.c_custkey,
           COALESCE({OSUM('o.o_totalprice')}, 0.0) AS big_spend,
           CASE WHEN COUNT(o.o_orderkey) = 0 THEN 1 ELSE 0 END AS no_big_orders,
           COUNT(NULLIF(o.o_orderstatus, 'F')) AS n_open_big
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 420000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def null_funcs(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 420000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("big_spend"),
            F.when(F.count("o_orderkey") == 0, 1).otherwise(0).alias("no_big_orders"),
            F.count(F.nullif(F.col("o_orderstatus"), F.lit("F"))).alias("n_open_big"),
        )
    )


# --------------------------------------------------------------------------
# B11 — explicit GROUPING SETS + grouping_id (severity-crosstab idiom
# beyond rollup/cube): the exact subtotal combinations are declared.
# --------------------------------------------------------------------------


@dq(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n_orders, {OSUM('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               GROUPING__ID AS gid,
               COUNT(*) AS n_orders,
               (CAST(SUM(CAST(ROUND(o_totalprice * 1000000.0) AS BIGINT)) AS DOUBLE)
                / 1000000.0) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


# --------------------------------------------------------------------------
# B11 — pivot crosstab (gemini count-matrix idiom). Spark's relational
# pivot with a FIXED value list (deterministic schema); the oracle states
# the same result as portable conditional aggregation.
# --------------------------------------------------------------------------


@dq(
    "pivot_crosstab",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS st_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS st_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_crosstab(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("st_O"),
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("st_F"),
    )


# --------------------------------------------------------------------------
# B18 — correlated EXISTS / NOT EXISTS (Catalyst decorrelates to semi/anti)
# --------------------------------------------------------------------------


@dq(
    "subq_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
    """,
)
def subq_exists(spark, sf_dir):
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
        """
    )


# --------------------------------------------------------------------------
# B10 at skew scale — salted two-phase count-distinct (operators/skew):
# the oracle states plain COUNT(DISTINCT); the salted plan must reproduce
# it exactly (value-hash buckets partition the distinct space).
# --------------------------------------------------------------------------


@dq(
    "agg_distinct_salted",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_distinct_l_partkey
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_salted(spark, sf_dir):
    from vcf2db_spark.operators.skew import salted_count_distinct

    li = table(spark, sf_dir, "lineitem")
    return salted_count_distinct(li, ["l_returnflag"], "l_partkey", n_salt=16)


# --------------------------------------------------------------------------
# B9+ — set/list collection aggregates (gemini "samples carrying allele"
# idiom: collect the member set per group). Sorted for cross-engine hash
# stability.
# --------------------------------------------------------------------------


@dq(
    "agg_collect",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           CAST(len(list(DISTINCT l_linestatus)) AS BIGINT) AS n_statuses,
           array_to_string(list_sort(list(DISTINCT l_linenumber))[1:3], ',')
             AS first_linenumbers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_collect(spark, sf_dir):
    # Arrays are joined to comma-strings on BOTH engines: the driver's
    # canonicalizer (pandas sort_values over every column) cannot hash
    # list cells, so declared queries must emit scalar columns only —
    # enforced for the whole registry by tests/test_plan_quality.py.
    li = table(spark, sf_dir, "lineitem")
    statuses = F.array_join(F.array_sort(F.collect_set("l_linestatus")), ",")
    linenos = F.array_join(
        F.transform(
            F.slice(F.array_sort(F.collect_set("l_linenumber")), 1, 3),
            lambda v: v.cast("string"),
        ),
        ",",
    )
    return li.groupBy("l_returnflag").agg(
        statuses.alias("statuses"),
        F.size(F.collect_set("l_linestatus")).cast("bigint").alias("n_statuses"),
        linenos.alias("first_linenumbers"),
    )


# --------------------------------------------------------------------------
# B9+ — conditional/boolean aggregates (count_if, bool_or/bool_and —
# gemini "any sample has depth>N" shapes).
# --------------------------------------------------------------------------


@dq(
    "agg_conditional",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           bool_and(l_tax >= 0) AS all_taxed
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bool_and(F.col("l_tax") >= 0).alias("all_taxed"),
    )


# --------------------------------------------------------------------------
# B3/B4/B9 composed — the classic TPC-H decision-support shapes on the
# fixture star schema (agg_group is the Q1 pricing summary; these add the
# Q3 / Q5 / Q6 workloads a reference user runs daily). All three lean on
# Catalyst end-to-end: date + segment predicates push into the parquet
# scans, dim joins broadcast or AQE-pick their strategy, aggregates are
# partial (map-side) before the single key shuffle.
# --------------------------------------------------------------------------


@dq(
    "tpch_q6",
    oracle=f"""
    SELECT {OSUM('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    """Q6 revenue-change forecast: pure scan+filter+agg — every predicate
    reaches PushedFilters, no shuffle at all (single global aggregate)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .groupBy()
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@dq(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           {OSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    """Q3 shipping priority: segment-filtered customer dim joins in (AQE
    picks broadcast at bench scale, shuffle-hash at corpus scale), the
    fact aggregates once on the order key, TakeOrderedAndProject caps the
    result without a global sort."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@dq(
    "tpch_q5",
    oracle=f"""
    SELECT n.n_name,
           {OSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5(spark, sf_dir):
    """Q5 local-supplier volume: six-table star with a same-nation
    customer/supplier constraint. nation+region prune to one region
    before touching the fact; supplier and the pruned dims broadcast.
    JOIN ORDER (r4, measured): the date-filtered orders join lineitem
    FIRST — the fact⋈fact core on the order key — and customer joins
    the pre-filtered intermediate after, UNHINTED: at bench scale AQE
    broadcasts the 2-column customer projection (and the filtered
    orders side), at 100 TB it falls back to a custkey shuffle of an
    already date-pruned intermediate. Interleaved A/B at sf1: 1.41 s
    (customer-first, the r3 plan) → 1.01 s. The same A/B showed a
    pre-BUCKETED orders/lineitem layout is neutral at this scale
    (tools/ab_bucketed.py; BASELINE.md r4 section) — bucket-scan sort
    cost offsets the elided local shuffle; the layout pays off only
    when the shuffle crosses a network."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


# --------------------------------------------------------------------------
# B18+ engine surface (r4): recursive CTE (Spark 4's WITH RECURSIVE) and
# correlated LATERAL subquery — both run the IDENTICAL SQL text on DuckDB
# (modulo the integer-division token), so the oracle checks the engine
# feature itself, not a rewrite of it.
# --------------------------------------------------------------------------


def _amortize_sql(idiv: str) -> str:
    """Loan-amortization schedule over the top-20 orders: halve the
    outstanding balance each month (min payment 100.00), all in exact
    integer cents — a data-driven recursion with per-row depth ~14."""
    return f"""
    WITH RECURSIVE pay AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT)
               AS balance_c,
             0 AS month
      FROM (SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
      UNION ALL
      SELECT o_orderkey,
             balance_c - GREATEST(balance_c {idiv} 2, 10000),
             month + 1
      FROM pay WHERE balance_c > 0
    )
    SELECT o_orderkey, month, balance_c FROM pay
    """


@dq("recursive_cte", oracle=_amortize_sql("//"))
def recursive_cte(spark, sf_dir):
    """Spark 4 WITH RECURSIVE, hash-checked against DuckDB running the
    same recursive SQL — unlike dedup_clusters (whose Spark side is an
    explicit iterative loop against a recursive-SQL oracle), this row
    proves the ENGINE's own recursive-CTE evaluator agrees with another
    engine's on a data-driven recursion (~14 rounds of exact BIGINT
    arithmetic seeded from a top-k scan). Each round is a narrow map on
    the previous increment — the UNION ALL accumulates; no shuffle
    inside the loop."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_amortize_sql("DIV"))


_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_mktsegment = 'BUILDING'
"""


@dq("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY/LIMIT — the
    top-N-per-entity idiom written as the SQL standard's lateral join
    instead of the window+filter QUALIFY form (qualify_topn is the
    plan-level twin). Spark decorrelates this into a ranked join under
    the hood; the oracle runs the IDENTICAL SQL text on DuckDB's native
    lateral executor, so the hash match proves the decorrelation is
    semantics-preserving, tie-breaks included."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)
