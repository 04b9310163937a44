"""Fact-broadcast regression guard (VERDICT r5 item 2, permanent form of
the r5 one-time audit that caught join_star/tpch_q7/q9/q21).

The pathology: Catalyst's size estimate for a column-pruned FACT
projection lands under ``autoBroadcastJoinThreshold`` and it plans a
BroadcastExchange over a data-scaled table — a single-threaded
driver-side hash build that is merely slow at sf1 (1.8× measured on
join_star) and fatal at 100 TB. The fix is a SHUFFLE_HASH hint (or a
selective filter that makes the broadcast legitimately bounded); this
guard keeps the class from silently reappearing as queries are added.

Plans are built at sf0.1 (the largest always-present fixture) because
broadcast decisions follow size estimates: at sf0.001 every table is
estimated broadcastable and the guard would be vacuous. A subtree under
a BroadcastExchange may scan a fact table only if something bounds it
first: a selective filter (beyond isnotnull), pushed scan filters, a
grouping aggregate, or a limit. The negative control re-plans join_star
WITHOUT its hint and asserts the guard fires on exactly that plan.
"""

from __future__ import annotations

import re

import pytest

from vcf2db_spark.queries import QUERIES

SF = "/root/testdata/sf0.1"

# Flagship joins whose plans the default run gates (the whole-surface
# sweep below is opt-in): each plans in seconds and none is executed.
FLAGSHIP = ("join_star", "tpch_q4", "tpch_q12", "join_range", "bucketed_join")

# Tables whose row count scales with data volume (≥1M rows at sf1).
FACT_TABLES = ("lineitem", "orders", "events")
_FACT_SCAN = re.compile(r"(lineitem|orders|events)\.parquet")
# ReadSchema signatures as a fallback when the Location string truncates.
_FACT_SCHEMA = re.compile(r"ReadSchema:.*\b(l_orderkey|l_partkey|l_quantity|o_orderkey|event_id|event_type)\b")

# Operators that bound the broadcast side's cardinality independent of
# the fact's row count (grouping aggregates reduce to the group grain;
# limits are explicit bounds).
_BOUNDING = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
             "CollectLimit", "GlobalLimit", "TakeOrderedAndProject")

# Queries where an apparently-unbounded fact broadcast is the declared
# intent (none today — keep empty so additions are deliberate).
ALLOWLIST: set[str] = set()

_PREFIX = re.compile(r"^[\s:+\-|]*")


def _indent(line: str) -> int:
    return _PREFIX.match(line).end()


_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?")


def _is_selective_filter(line: str) -> bool:
    node = _NODE.sub("", line)
    if not node.startswith("Filter"):
        return False
    body = re.sub(r"isnotnull\([^)]*\)", "", node)
    return bool(re.search(r"[<>=]|StartsWith|Contains|EndsWith| IN |INSET", body))


def _pushed_filters_nonempty(line: str) -> bool:
    m = re.search(r"PushedFilters: \[([^\]]*)\]", line)
    if not m:
        return False
    body = re.sub(r"IsNotNull\([^)]*\)", "", m.group(1)).strip(" ,")
    return bool(body)


def unbounded_fact_broadcasts(plan: str) -> list[str]:
    """Scan a physical-plan string; return the fact tables scanned under
    a BroadcastExchange with no bounding operator between them."""
    lines = plan.splitlines()
    offenders: list[str] = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        base = _indent(line)
        j = i + 1
        subtree: list[str] = []
        while j < len(lines) and _indent(lines[j]) > base:
            subtree.append(lines[j])
            j += 1
        bounded = any(
            any(op in s for op in _BOUNDING)
            or _is_selective_filter(s)
            or _pushed_filters_nonempty(s)
            for s in subtree
        )
        if bounded:
            continue
        for s in subtree:
            if "Scan" in s or "FileScan" in s:
                m = _FACT_SCAN.search(s)
                if m:
                    offenders.append(m.group(1))
                elif _FACT_SCHEMA.search(s):
                    offenders.append("fact(schema-matched)")
    return offenders


# Streaming drains aren't plan-inspectable the same way (memory sink).
_SKIP = {n for n in QUERIES if n.startswith("stream_")}
BATCH_QUERIES = sorted(set(QUERIES) - _SKIP)


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name in BATCH_QUERIES:
        df = QUERIES[name](spark, SF)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


# Whole-surface audit (plans every declared query at sf0.1, ~3 min) —
# same rationale as test_plan_quality.py: opt-in via `-m slow_sweep` so
# the default suite fits its time window.
@pytest.mark.slow_sweep
def test_no_unbounded_fact_broadcast(plans):
    offenders = {
        n: hits
        for n, p in plans.items()
        if n not in ALLOWLIST and (hits := unbounded_fact_broadcasts(p))
    }
    assert not offenders, (
        "fact tables broadcast without a bounding filter/aggregate/limit "
        f"(the join_star r5 pathology): {offenders}"
    )


@pytest.mark.parametrize("name", FLAGSHIP)
def test_flagship_has_no_unbounded_fact_broadcast(spark, name):
    plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    hits = unbounded_fact_broadcasts(plan)
    assert not hits, f"{name} broadcasts fact tables {hits}:\n{plan}"


def test_guard_fires_on_unhinted_join_star(spark):
    """Negative control: join_star with the SHUFFLE_HASH hint removed
    must trip the guard (Catalyst broadcasts the pruned orders
    projection at this scale — the exact r5 finding)."""
    from pyspark.sql import functions as F

    from vcf2db_spark.io import table

    l = table(spark, SF, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF, "customer")
    bad = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_items"))
    )
    plan = bad._jdf.queryExecution().executedPlan().toString()
    hits = unbounded_fact_broadcasts(plan)
    if "orders" not in hits:
        pytest.skip(
            "Catalyst did not choose a fact broadcast at this fixture "
            "scale — control not applicable: " + plan[:500]
        )
    assert "orders" in hits
