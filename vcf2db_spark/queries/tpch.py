"""TPC-H decision-support completion tier (SURVEY.md §2B composed shapes).

Round 2 shipped Q3/Q5/Q6 (queries/relational.py) and the flagship Q1
pricing summary (``agg_group``). This module completes the remaining 18
TPC-H query *shapes* — the daily decision-support workload a reference
user would expect any replacement engine to run — adapted to the driver
fixture's reduced schema (TESTDATA.md):

- **No ``partsupp`` table.** The (part, supplier) relation is derived
  from ``lineitem``: ``supplycost = MIN(l_extendedprice / l_quantity)``
  per pair, ``availqty = SUM(l_quantity)`` (``_ps`` below). Q2/Q11/Q16/
  Q20 build on that proxy; the join/aggregate/subquery shapes are the
  canonical ones.
- **No ``l_commitdate``/``l_receiptdate``.** "Late" is proxied as
  ``l_shipdate > o_orderdate + INTERVAL N DAYS`` (Q4/Q21).
- **No ``l_shipmode``/``p_container``/``c_phone``.** Q12 classes on
  ``l_returnflag``, Q17/Q19 filter on brand+size, Q22's country code is
  ``c_nationkey % 10``.

Every double aggregate uses the repo-wide fixed-point convention
(registry.dsum / OSUM: round to 10⁻⁶ units, exact BIGINT sum) so the
Spark and DuckDB results are bitwise identical regardless of partial-agg
order — which is also what makes the scalar-subquery comparisons
(Q11/Q15/Q22) and the min-cost equality join (Q2) deterministic.

Scale notes (docs/SCALE.md §3): every query here shuffles only on its
aggregate/join keys; dimensions (region/nation/supplier/filtered part
and customer subsets) are broadcast explicitly or left to AQE; the
top-k outputs compile to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from vcf2db_spark.io import table
from vcf2db_spark.registry import OAVG, OSUM, davg, dq, dsum

# --------------------------------------------------------------------------
# partsupp proxy (shared by Q2 / Q11 / Q16 / Q20)
# --------------------------------------------------------------------------

# DuckDB-side CTE body. MIN over identically-computed doubles and SUM over
# integral quantities are both order-independent, so the proxy itself is
# deterministic across engines.
PS_CTE = (
    "ps AS (SELECT l_partkey, l_suppkey, "
    "MIN(l_extendedprice / l_quantity) AS supplycost, "
    "SUM(l_quantity) AS availqty "
    "FROM lineitem GROUP BY l_partkey, l_suppkey)"
)


def _ps(spark, sf_dir):
    """partsupp stand-in derived from lineitem (one partial-agg shuffle on
    the composite key; at scale this is a map-side-combinable group-by over
    the fact's natural keys, Σ|pairs| ≪ |lineitem|)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"),
        F.sum("l_quantity").alias("availqty"),
    )


def _eu_suppliers(spark, sf_dir, region="EUROPE"):
    """Suppliers of one region with their nation name (tiny dim: broadcast)."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    n = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (correlated MIN subquery → groupBy + equality
# join on the fixed-cost key; the canonical "argmin per group" join shape)
# --------------------------------------------------------------------------


@dq(
    "tpch_q2",
    oracle=f"""
    WITH {PS_CTE},
    eu AS (SELECT s_suppkey, s_name, s_acctbal, n_name
           FROM supplier, nation, region
           WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             AND r_name = 'EUROPE')
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part, ps, eu
    WHERE p_partkey = ps.l_partkey AND eu.s_suppkey = ps.l_suppkey
      AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
      AND ps.supplycost = (SELECT MIN(ps2.supplycost)
                           FROM ps ps2, eu eu2
                           WHERE ps2.l_partkey = p_partkey
                             AND eu2.s_suppkey = ps2.l_suppkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def tpch_q2(spark, sf_dir):
    """Q2 minimum-cost supplier. The correlated scalar-MIN subquery is
    decorrelated by hand into a per-part MIN aggregate joined back on
    (partkey, cost-equality) — the plan Catalyst would also produce, but
    stated explicitly so the equality join is visibly on the
    deterministic MIN of identically-derived doubles.

    Pushdown note: both the EU-supplier and the part-class restriction
    commute with the per-(part,supp) MIN — they drop whole groups, never
    rows within a kept group — so BOTH are applied to the lineitem scan
    as broadcast semi-joins BEFORE the ps aggregate. The proxy then
    aggregates ~p_sel·s_sel of the fact instead of all of it (measured
    2.1 s → see BASELINE.md at sf1); the oracle keeps the canonical
    whole-relation CTE, which DuckDB's optimizer prunes the same way."""
    eu = _eu_suppliers(spark, sf_dir)
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(eu.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "leftsemi",
        )
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("_pk"))),
            F.col("l_partkey") == F.col("_pk"),
            "leftsemi",
        )
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"),
    )
    ps_eu = ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
    min_cost = ps_eu.groupBy("l_partkey").agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        ps_eu.join(min_cost, "l_partkey")
        .filter(F.col("supplycost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q4 — order-priority checking (EXISTS with a correlated inequality →
# left-semi join whose condition references both sides)
# --------------------------------------------------------------------------


@dq(
    "tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark, sf_dir):
    """Q4 order-priority checking; "late line" is shipdate > orderdate+60d
    (fixture has no commit/receipt dates). The leftsemi form forces the
    UNFILTERED fact (lineitem) onto the build side — Catalyst broadcast
    it (caught by tests/test_plan_broadcast.py, r6). The scale-correct
    orientation broadcasts the 3-MONTH orders slice into a map-side
    inner join that lineitem streams through, then reduces the (small)
    matched set to order grain — only LATE lines of a 90-day window
    ever shuffle, the semi semantics recovered by the per-order
    aggregate. Same device as q21's semi+anti→per-order-aggregate."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        li.join(
            F.broadcast(o),
            (F.col("l_orderkey") == o.o_orderkey)
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("_n_late"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations (dual-role nation dim)
# --------------------------------------------------------------------------


@dq(
    "tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l_shipdate) AS l_year,
           {OSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey
      AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7(spark, sf_dir):
    """Q7 bilateral shipping volume. The nation dim plays two roles
    (supplier side / customer side); both are restricted to the two
    nations of interest BEFORE touching the fact, so supplier and
    customer shrink to broadcastable subsets and the only large shuffle
    is lineitem ⋈ orders on the order key. The orders side carries a
    SHUFFLE_HASH hint: it is unfiltered here, and the pruned 2-column
    stats otherwise sit under the broadcast threshold — Catalyst was
    broadcasting 1.5M rows (single-threaded driver build; the join_star
    pathology). A/B at sf1: 0.83 → 0.38 s median, value-identical
    (BASELINE.md round 5)."""
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").hint(
        "shuffle_hash"
    )
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
            | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q8 — national market share (conditional-sum ratio per year)
# --------------------------------------------------------------------------


@dq(
    "tpch_q8",
    oracle=f"""
    SELECT YEAR(o_orderdate) AS o_year,
           ({OSUM("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")})
           / ({OSUM('l_extendedprice * (1 - l_discount)')}) AS mkt_share
    FROM part, lineitem, supplier, orders, customer, nation n1, nation n2, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def tpch_q8(spark, sf_dir):
    """Q8 market share of NATION_3 inside ASIA for ECONOMY parts. Both
    sums are fixed-point (identical BIGINT unit totals in both engines),
    so the final double division is bitwise deterministic. part is
    pre-filtered and broadcast; customer prunes through nation⋈region
    and is pushed BELOW the fact join as a broadcast semi-join on
    orders (the tpch_q2 pattern — the ASIA filter commutes with the
    grouped sums), shrinking the shuffled orders side ~5× before
    lineitem joins it (A/B at sf1: 1.40→1.23 s, BASELINE.md r4)."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("supp_nationkey"))
        .select("s_suppkey", "supp_nation")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "leftsemi")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / dsum(vol)
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit (supplycost proxied by 10% of retail price)
# --------------------------------------------------------------------------


@dq(
    "tpch_q9",
    oracle=f"""
    SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
           {OSUM('l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity')} AS sum_profit
    FROM part, supplier, lineitem, orders, nation
    WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def tpch_q9(spark, sf_dir):
    """Q9 profit by supplier nation and order year for 'red' parts.
    ps_supplycost is proxied as 0.1 * p_retailprice (no partsupp table);
    the profit expression stays row-local so the fixed-point sum is the
    only aggregate. The LIKE filter prunes part before the broadcast.
    The UNFILTERED orders side is SHUFFLE_HASH-hinted (Catalyst was
    broadcasting 1.5M rows — the join_star pathology; A/B at sf1
    0.91 → 0.45 s median, value-identical, BASELINE.md round 5)."""
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate").hint(
        "shuffle_hash"
    )
    li = table(spark, sf_dir, "lineitem")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting (top-20 customers by lost revenue)
# --------------------------------------------------------------------------


@dq(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           {OSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    """Q10 returned items: quarter + returnflag filters reach the scans,
    the customer⋈nation dim broadcasts, the fact aggregates once on the
    customer key, and the top-20 compiles to TakeOrderedAndProject."""
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q11 — important stock (HAVING against a scalar-subquery threshold)
# --------------------------------------------------------------------------


@dq(
    "tpch_q11",
    oracle=f"""
    WITH {PS_CTE},
    de AS (SELECT ps.l_partkey AS partkey,
                  ps.supplycost * ps.availqty AS val
           FROM ps, supplier, nation
           WHERE ps.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
             AND n_name = 'NATION_12')
    SELECT partkey, {OSUM('val')} AS value
    FROM de
    GROUP BY partkey
    HAVING {OSUM('val')} > (SELECT {OSUM('val')} * 0.001 FROM de)
    """,
)
def tpch_q11(spark, sf_dir):
    """Q11 important stock for NATION_12 suppliers. The global-total
    scalar subquery becomes a 1-row broadcast cross join; both the
    per-part values and the threshold are fixed-point, so the HAVING
    comparison is deterministic across engines. Shuffles: the ps proxy
    group-by and the per-part aggregate — both map-side combinable."""
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_12")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    # The supplier filter is on a COMPONENT of the ps pair key, so it
    # commutes below the pair aggregation: semi-join the fact to the one
    # nation's suppliers first (broadcast, row-local) and pair-aggregate
    # only the surviving ~1/|nations| of lineitem — the per-pair min/sum
    # over the restricted rows is identical to restricting the full ps
    # (min is order-free; l_quantity is integral-valued so its double sum
    # is exact). Cuts the pair shuffle ~25x vs aggregating all of ps.
    li = table(spark, sf_dir, "lineitem").join(
        F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"), "semi"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "supplycost"
        ),
        F.sum("l_quantity").alias("availqty"),
    )
    de = ps.select(
        F.col("l_partkey").alias("partkey"),
        (F.col("supplycost") * F.col("availqty")).alias("val"),
    )
    # One aggregate in INTEGER units; the global threshold re-derives from
    # the per-part units (exact BIGINT addition — identical to summing the
    # raw rows), so the fact subtree is aggregated once and the total
    # branch reads the reused per-part exchange (n_parts rows) instead of
    # re-joining all of ps. value = units/1e6 reproduces dsum bit-exactly.
    per_part = de.groupBy("partkey").agg(
        F.sum(F.round(F.col("val") * 1_000_000.0).cast("long")).alias("_units")
    )
    total = per_part.agg(
        (
            (F.sum("_units").cast("double") / F.lit(1_000_000.0))
            * F.lit(0.001)
        ).alias("threshold")
    )
    return (
        per_part.select(
            "partkey",
            (F.col("_units").cast("double") / F.lit(1_000_000.0)).alias("value"),
        )
        .join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("partkey", "value")
    )


# --------------------------------------------------------------------------
# Q12 — shipping classes vs order priority (conditional counts)
# --------------------------------------------------------------------------


@dq(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag AS ship_class,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def tpch_q12(spark, sf_dir):
    """Q12 shape with l_returnflag standing in for the missing
    l_shipmode: one fact⋈orders join on the order key, conditional
    counts partial-aggregated map-side into 3 groups."""
    # orders is a FACT: its pruned 2-column estimate lands under the
    # broadcast threshold and Catalyst plans the driver-side hash build
    # that dies at 100 TB (the join_star/q7/q9/q21 r5 class — this one
    # caught by the permanent tests/test_plan_broadcast.py guard, r6).
    # SHUFFLE_HASH exchanges both facts on the order key instead.
    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .hint("shuffle_hash")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (left join + double aggregate)
# --------------------------------------------------------------------------


@dq(
    "tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey
           AND o_orderpriority <> '4-NOT SPECIFIED'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13(spark, sf_dir):
    """Q13 customer distribution (the o_comment NOT LIKE filter is proxied
    by excluding '4-NOT SPECIFIED' priority). Aggregate-before-join: orders
    collapse to (o_custkey, count) BEFORE the outer join, so the join
    carries one row per customer-with-orders instead of one per order —
    the shuffle moves ~10× fewer bytes and the left-outer + coalesce(cnt,0)
    reproduces the count-0 customers exactly (COUNT(o_orderkey) over an
    unmatched outer row ≡ 0). Measured 0.87 → 0.42 s at sf1; at 100 TB the
    pre-aggregation is the difference between shuffling the orders table
    and shuffling its distinct-customer projection."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey")
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        c.join(oc, c.c_custkey == oc.o_custkey, "left_outer")
        .select(F.coalesce("_cnt", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# --------------------------------------------------------------------------
# Q14 — promotion revenue share (single-row conditional-sum ratio)
# --------------------------------------------------------------------------


@dq(
    "tpch_q14",
    oracle=f"""
    SELECT (100.0 * ({OSUM("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}))
           / ({OSUM('l_extendedprice * (1 - l_discount)')}) AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14(spark, sf_dir):
    """Q14 promo revenue share over one ship month: part broadcast, no
    shuffle beyond the single global aggregate; fixed-point sums keep the
    ratio bitwise deterministic."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy()
        .agg(
            (
                (F.lit(100.0) * dsum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))))
                / dsum(vol)
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier (aggregated CTE + scalar MAX equality)
# --------------------------------------------------------------------------


@dq(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {OSUM('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark, sf_dir):
    """Q15 top supplier of the quarter. The view + scalar-MAX shape
    becomes agg → 1-row broadcast → equality filter; fixed-point revenue
    makes the MAX-equality exact in both engines. The revenue aggregate
    is the only shuffle."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q16 — supplier count by part attributes (NOT IN + COUNT DISTINCT)
# --------------------------------------------------------------------------


@dq(
    "tpch_q16",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM ps, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def tpch_q16(spark, sf_dir):
    """Q16 parts/supplier relationship ("complaint" suppliers proxied by
    negative account balance). NOT IN over a non-null key compiles to an
    anti join against the tiny excluded set (broadcast). Both broadcast
    filters run map-side BEFORE the single distinct on the final
    grouping key + supplier, so the one shuffle carries pre-filtered,
    pre-deduped (brand,type,size,suppkey) tuples and the count needs no
    count-distinct expand."""
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    # broadcast-filter FIRST (both joins are map-side, no shuffle), then one
    # distinct on the FINAL grouping key + supplier — the only shuffle
    # carries pre-filtered, pre-deduped (brand,type,size,suppkey) tuples
    # and the count needs no count-distinct expand. Measured 0.91 → 0.55 s
    # at sf1 vs distinct-the-raw-pairs-first.
    j = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return j.groupBy("p_brand", "p_type", "p_size").agg(
        F.count(F.lit(1)).alias("supplier_cnt")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated AVG subquery)
# --------------------------------------------------------------------------


@dq(
    "tpch_q17",
    oracle=f"""
    SELECT {OSUM('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#3' AND p_size < 10
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17(spark, sf_dir):
    """Q17 small-quantity orders (p_container proxied by brand+size). The
    correlated per-part AVG decorrelates into a group-by joined back on
    the part key; quantities are integral so the AVG — and therefore the
    threshold comparison — is exact in both engines. At scale the
    per-part AVG is restricted to the filtered parts first (semi-join
    pushdown via the broadcast part list)."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10)
    ).select("p_partkey")
    li = table(spark, sf_dir, "lineitem")
    avg_qty = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .groupBy()
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING subquery IN)
# --------------------------------------------------------------------------


@dq(
    "tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice, SUM(l_quantity) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(l_quantity) > 250)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark, sf_dir):
    """Q18 large-volume customers. The HAVING-IN subquery is a semi join
    against the big-order key set; quantity sums are integral-exact. Both
    the key-set aggregate and the outer aggregate shuffle on the order
    key, so AQE coalesces them into co-partitioned stages; top-100 is
    TakeOrderedAndProject."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # The outer SUM(l_quantity) per order is EXACTLY the subquery's HAVING
    # aggregate (each output row is one big order; l_quantity is
    # integral-valued so the double sum is order-free) — keep q as sum_qty
    # instead of re-joining all of lineitem and re-aggregating. The
    # surviving big-order set is tiny (HAVING > 250), so it broadcasts to
    # the orders scan: ONE shuffle total (the per-order aggregate).
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue over disjunctive join predicates
# --------------------------------------------------------------------------


@dq(
    "tpch_q19",
    oracle=f"""
    SELECT {OSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 15
            AND l_quantity BETWEEN 20 AND 30))
    """,
)
def tpch_q19(spark, sf_dir):
    """Q19 disjunctive-predicate revenue (container/shipmode terms
    replaced by brand+size+quantity ranges). The equi key joins; the OR
    of conjunctions stays a post-join filter Catalyst can partially push
    (the brand/size disjunction prunes the broadcast part side)."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = table(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .groupBy()
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q20 — potential part promotion (nested IN subqueries → semi-join chain)
# --------------------------------------------------------------------------


@dq(
    "tpch_q20",
    oracle="""
    WITH avail AS (SELECT l_suppkey, l_partkey, SUM(l_quantity) AS availqty
                   FROM lineitem GROUP BY 1, 2),
    demand AS (SELECT l_suppkey, l_partkey, SUM(l_quantity) AS demandqty
               FROM lineitem
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01'
               GROUP BY 1, 2)
    SELECT s_name, s_acctbal
    FROM supplier, nation, region
    WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT avail.l_suppkey
        FROM avail JOIN demand
          ON avail.l_suppkey = demand.l_suppkey
         AND avail.l_partkey = demand.l_partkey
        WHERE avail.l_partkey IN (SELECT p_partkey FROM part
                                  WHERE p_name LIKE 'red%')
          AND avail.availqty > 4 * demand.demandqty)
    """,
)
def tpch_q20(spark, sf_dir):
    """Q20 potential part promotion: suppliers whose lifetime supply of
    'red' parts exceeds 4× their 1997 demand (availqty/demand split
    replaces the missing partsupp.availqty). The oracle writes the
    canonical two-CTE join; Spark fuses both aggregates into ONE pass
    over the fact (conditional sum for the windowed demand, ``demandqty
    > 0`` reproducing the inner join's pair set) — half the scans and
    shuffles, same rows. The red-part filter pushes BELOW the aggregate
    (broadcast semi join on the scan) so only red lineitems shuffle at
    all. Both IN subqueries become semi joins."""
    li = table(spark, sf_dir, "lineitem")
    red = table(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    in_97 = (
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    ps = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "leftsemi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum("l_quantity").alias("availqty"),
            F.sum(F.when(in_97, F.col("l_quantity")).otherwise(F.lit(0.0))).alias(
                "demandqty"
            ),
        )
    )
    promo_supp = (
        ps.filter(
            (F.col("demandqty") > 0.0)
            & (F.col("availqty") > 4 * F.col("demandqty"))
        )
        .select("l_suppkey")
        .distinct()
    )
    eu = _eu_suppliers(spark, sf_dir)
    return (
        eu.join(
            F.broadcast(promo_supp), eu.s_suppkey == F.col("l_suppkey"), "leftsemi"
        ).select("s_name", "s_acctbal")
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# --------------------------------------------------------------------------


@dq(
    "tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation, region
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY)
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def tpch_q21(spark, sf_dir):
    """Q21 waiting suppliers ("late" = shipped >45 days after the order
    date; fixture has no receipt/commit dates). The EXISTS/NOT-EXISTS
    pair collapses into ONE per-order aggregation: a supplier is "waiting"
    iff it is the UNIQUE late supplier of a multi-supplier order, so after
    a single lineitem⋈orders join the per-(order,supplier) late-line
    counts roll up to per-order facts (supplier count, late-supplier
    count, the single late supplier's key, its late-line count) and the
    semi + anti self-joins disappear — the fact table is shuffled once
    instead of three times, the thing that matters at 100 TB. Two-level
    aggregate (pairs first) rather than twin countDistincts, which would
    plan an N+1-way Expand of the joined fact. numwait sums the waiting
    supplier's late LINES, matching the row-per-l1-line semantics of the
    EXISTS form (verified value-identical at sf1 and vs the DuckDB
    oracle). Measured 1.7 → 1.3 s at sf1. EU supplier dim broadcast.
    The status='F' orders side (~half the table, ~730k rows) is
    SHUFFLE_HASH-hinted — its stats sat under the broadcast threshold
    and Catalyst built it on the driver (A/B at sf1 0.86 → 0.56 s
    median, value-identical, BASELINE.md round 5)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
        .hint("shuffle_hash")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    eu = _eu_suppliers(spark, sf_dir)
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    late = (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
    ).cast("int")
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(F.sum(late).alias("_n_late"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum((F.col("_n_late") > 0).cast("int")).alias("_n_late_supp"),
        F.min(F.when(F.col("_n_late") > 0, F.col("l_suppkey"))).alias("_late_supp"),
        F.sum("_n_late").alias("_n_late_lines"),
    )
    qual = per_order.filter((F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1))
    return (
        qual.join(F.broadcast(eu), F.col("_late_supp") == eu.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("_n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (scalar AVG threshold + NOT EXISTS)
# --------------------------------------------------------------------------


@dq(
    "tpch_q22",
    oracle=f"""
    WITH pool AS (SELECT c_custkey, c_acctbal,
                         c_nationkey % 10 AS cntrycode
                  FROM customer
                  WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5)),
    thr AS (SELECT {OAVG('c_acctbal')} AS a FROM pool
            WHERE c_acctbal > 0.0)
    SELECT cntrycode, COUNT(*) AS numcust,
           {OSUM('c_acctbal')} AS totacctbal
    FROM pool, thr
    WHERE c_acctbal > thr.a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY cntrycode
    """,
)
def tpch_q22(spark, sf_dir):
    """Q22 global sales opportunity: rich customers (above the fixed-point
    mean of positive balances) with no order since 2000 ("no recent
    orders" replaces "no orders at all" — every fixture customer has
    orders; country code is nationkey mod 10 for the missing phone
    prefix). Scalar threshold broadcasts; the NOT EXISTS is an anti join
    on the customer key against the date-pruned orders scan."""
    pool = (
        table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_acctbal",
            (F.col("c_nationkey") % 10).alias("cntrycode"),
        )
        .filter(F.col("cntrycode").isin(1, 2, 3, 4, 5))
    )
    thr = pool.filter(F.col("c_acctbal") > 0.0).agg(davg("c_acctbal").alias("a"))
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        pool.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(recent, pool.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )
