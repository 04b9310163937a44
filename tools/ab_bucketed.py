"""A/B: pre-bucketed fact layout vs shuffle plans on the heavy join family
(VERDICT r3 item 2).

Baseline arms run the declared join_star / tpch_q5 exactly as registered
(shuffle or AQE-chosen plans). Bucketed arms write lineitem + orders ONCE
as 64-bucket managed tables hashed on the order key (the A12 layout
decision — same device as queries/warehouse.bucketed_join), then run the
identical join logic over the bucketed scans: the big fact⋈fact join
plans with no exchange on either side, dims broadcast, and only the
final aggregate shuffles. The build cost is reported separately — it is
the amortized write-time shuffle, paid once per layout, not per query.

Usage: python tools/ab_bucketed.py [--sf-dir /root/repo/.bench_data/sf1]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vcf2db_spark.registry import dsum  # noqa: E402

N_PASSES = 5
N_BUCKETS = 64


def timed(run, df_fn):
    runs = []
    for _ in range(N_PASSES):
        t0 = time.perf_counter()
        run(df_fn())
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 3), [round(x, 3) for x in runs]


def star_logic(l, o, c, n, r):
    l = l.select("l_orderkey", "l_extendedprice", "l_discount")
    o = o.select("o_orderkey", "o_custkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.select("r_regionkey", "r_name")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q5_logic(li, o, c, s, n, r):
    rr = r.filter(F.col("r_name") == "ASIA")
    nn = n.join(F.broadcast(rr), F.col("n_regionkey") == F.col("r_regionkey"))
    ss = s.join(F.broadcast(nn), F.col("s_nationkey") == F.col("n_nationkey"))
    oo = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        c.join(oo, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(ss),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


def q5_bucketed_logic(li, o, c, s, n, r):
    """Join ORDER rewritten around the bucketed o⋈li core: the fact⋈fact
    join goes first (exchange-free on the shared bucket key), customer
    joins after as a broadcast — the plan the bucketed layout unlocks."""
    rr = r.filter(F.col("r_name") == "ASIA")
    nn = n.join(F.broadcast(rr), F.col("n_regionkey") == F.col("r_regionkey"))
    ss = s.join(F.broadcast(nn), F.col("s_nationkey") == F.col("n_nationkey"))
    oo = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    core = oo.join(li.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        core.join(F.broadcast(c.select("c_custkey", "c_nationkey")),
                  F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(ss),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.bench_data/sf1")
    args = ap.parse_args()

    from vcf2db_spark.io import table
    from vcf2db_spark.session import get_spark
    from vcf2db_spark.sinks.writers import write_bucketed

    spark = get_spark("ab-bucketed")
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    t = lambda name: table(spark, sf, name)  # noqa: E731
    dims = dict(c=t("customer"), n=t("nation"), r=t("region"), s=t("supplier"))

    # warm-up
    run(star_logic(t("lineitem"), t("orders"), dims["c"], dims["n"], dims["r"]))

    base_star, runs1 = timed(run, lambda: star_logic(
        t("lineitem"), t("orders"), dims["c"], dims["n"], dims["r"]))
    base_q5, runs2 = timed(run, lambda: q5_logic(
        t("lineitem"), t("orders"), dims["c"], dims["s"], dims["n"], dims["r"]))

    # layout build (once; reported separately)
    t0 = time.perf_counter()
    write_bucketed(t("lineitem"), "ab_lineitem", ("l_orderkey",), n_buckets=N_BUCKETS)
    write_bucketed(t("orders"), "ab_orders", ("o_orderkey",), n_buckets=N_BUCKETS)
    build_s = round(time.perf_counter() - t0, 3)
    bl, bo = spark.table("ab_lineitem"), spark.table("ab_orders")

    run(star_logic(bl, bo, dims["c"], dims["n"], dims["r"]))  # warm
    bk_star, runs3 = timed(run, lambda: star_logic(
        bl, bo, dims["c"], dims["n"], dims["r"]))
    bk_q5, runs4 = timed(run, lambda: q5_bucketed_logic(
        bl, bo, dims["c"], dims["s"], dims["n"], dims["r"]))
    # same rewritten join order over RAW parquet — isolates layout
    # effect from join-order effect
    raw_q5_reorder, runs5 = timed(run, lambda: q5_bucketed_logic(
        t("lineitem"), t("orders"), dims["c"], dims["s"], dims["n"], dims["r"]))

    print({
        "join_star": {"raw": base_star, "bucketed": bk_star, "runs_raw": runs1, "runs_bucketed": runs3},
        "tpch_q5": {"raw": base_q5, "bucketed": bk_q5, "raw_reordered": raw_q5_reorder,
                     "runs_raw": runs2, "runs_bucketed": runs4, "runs_raw_reordered": runs5},
        "layout_build_s": build_s,
        "n_buckets": N_BUCKETS,
    })
    # sanity: same results from both plans
    a = star_logic(t("lineitem"), t("orders"), dims["c"], dims["n"], dims["r"]).collect()
    b = star_logic(bl, bo, dims["c"], dims["n"], dims["r"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), "star results differ"
    a = q5_logic(t("lineitem"), t("orders"), dims["c"], dims["s"], dims["n"], dims["r"]).collect()
    b = q5_bucketed_logic(bl, bo, dims["c"], dims["s"], dims["n"], dims["r"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), "q5 results differ"
    print("results identical across arms")
    spark.sql("DROP TABLE IF EXISTS ab_lineitem")
    spark.sql("DROP TABLE IF EXISTS ab_orders")
    spark.stop()


if __name__ == "__main__":
    main()
