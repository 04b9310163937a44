"""Status-store walks shared by the plan gates: the plan-node names of the
SQL executions a piece of work ran, and which of them cross into Python.

A Python DataSource scan is a plain ``BatchScan <name>`` node, so a gate
that only matched ``Python|Pandas|Arrow`` could not see one; the scans of
this repository's Python sources are named here.
"""

from __future__ import annotations

import re

#: ``DataSource.name()`` of every Python DataSource in ``vcf2db_spark``
PYTHON_SOURCES = ("vcf", "gemini_db", "lakehouse_feed")

_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SOURCE_SCAN = re.compile(r"^BatchScan (?:%s)$" % "|".join(PYTHON_SOURCES))


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def plan_nodes(spark, after: int, upto: int | None = None) -> list[str]:
    """Node names of the plan graph of every SQL execution with
    ``after < id <= upto`` (no upper bound when ``upto`` is None)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    found = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after or (upto is not None and eid > upto):
            continue
        it = store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            found.append(it.next().name())
    return found


def python_source_scans(names: list[str]) -> list[str]:
    """The scans of a Python DataSource among ``names``."""
    return [n for n in names if _SOURCE_SCAN.match(n)]


def python_nodes(names: list[str]) -> list[str]:
    """Every node among ``names`` that runs Python: a Python/Pandas/Arrow
    operator or a Python DataSource scan."""
    return [n for n in names if _PYTHON_NODE.search(n) or _SOURCE_SCAN.match(n)]
