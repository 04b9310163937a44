"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``vcf2db_spark`` (see SURVEY.md §2 for the
operator inventory each declared query covers).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

# Rows whose output changed since their last correctness record, in the
# order they should lead the next correctness window.
RERECORD: tuple[str, ...] = ()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (DQ:agg_group — TPC-H Q1 shape, SURVEY §2B B9) on
    /root/testdata/sf0.001; driver checks rows>0."""
    from vcf2db_spark.queries import QUERIES

    return QUERIES["agg_group"](spark, "/root/testdata/sf0.001")


def window_order(
    names: Iterable[str], records: Iterable[str], rerecord: Iterable[str] = RERECORD
) -> list[str]:
    """Order ``names`` for the correctness run, which records only the
    first 50.

    ``rerecord`` leads, in the order given; then names absent from every
    ``CORRECTNESS_r{N}.json`` in ``records``, in ``names`` order; then the
    rest, oldest first by (latest round recorded, position in that file).
    """
    latest: dict[str, tuple[int, int]] = {}
    rounds = {int(re.search(r"_r(\d+)\.json$", p).group(1)): p for p in records}
    for rnd in sorted(rounds):
        with open(rounds[rnd]) as fh:
            latest.update((name, (rnd, pos)) for pos, name in enumerate(json.load(fh)))
    lead = {name: i for i, name in enumerate(rerecord)}

    def rank(name: str) -> tuple[int, ...]:
        if name in lead:
            return (0, lead[name])
        return (2, *latest[name]) if name in latest else (1,)

    return sorted(names, key=rank)  # stable: unrecorded names keep their order


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    :func:`window_order` over the committed correctness records."""
    from vcf2db_spark.queries import QUERIES

    records = glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json"))
    return {name: QUERIES[name] for name in window_order(QUERIES, records)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query; omitted keys → rows-only."""
    from vcf2db_spark.queries import ORACLES

    return dict(ORACLES)
