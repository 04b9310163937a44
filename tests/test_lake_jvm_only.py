"""Lakehouse verbs run no Python worker: deletion vectors are parquet
position-delete sidecars written by one Spark write and read by one
parquet scan. The gate walks the plan graph of every SQL execution a
create → dv_merge → dv_delete → compact → read cycle leaves in the status
store and fails on any Python/Pandas/Arrow node or Python DataSource
scan (``tests/plan_gates.py``); a ``mapInPandas`` identity over the same
read is the negative control. It also pins the
sidecar shape: one sorted ``pos`` parquet file per DV, directly under
``_dv/``, whose row count is the entry's ``n_deleted``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.plan_gates import last_execution_id, plan_nodes, python_nodes
from vcf2db_spark.sinks import lakehouse as lh


def _mk(spark, lo, hi, scale=1.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * F.lit(scale)).alias("v")
    )


@pytest.fixture(scope="module")
def cycle(spark, tmp_path_factory):
    """Run the verb cycle once; yield (root, (first, last) execution id
    bounds, the version after dv_delete, the manifest at that version)."""
    root = str(tmp_path_factory.mktemp("jvm_only") / "tbl")
    start = last_execution_id(spark)
    lh.create(spark, root, _mk(spark, 0, 400).repartition(4), stat_cols=("k",))
    lh.dv_merge(spark, root, _mk(spark, 390, 410, scale=10.0), key="k")
    v_del = lh.dv_delete(spark, root, "k % 7 = 0")
    man = lh.snapshot(root, v_del)
    lh.compact(spark, root)
    assert lh.read(spark, root).count() == 410 - len(range(0, 410, 7))
    assert lh.read(spark, root, v_del).count() == 410 - len(range(0, 410, 7))
    yield root, (start, last_execution_id(spark)), v_del, man


def test_no_lake_verb_runs_python(spark, cycle):
    _root, (start, end), _v, _man = cycle
    assert end > start, "the cycle ran no SQL execution"
    assert python_nodes(plan_nodes(spark, start, end)) == []


def test_negative_control_mapinpandas_trips_gate(spark, cycle):
    root, _start, v_del, _man = cycle
    before = last_execution_id(spark)
    df = lh.read(spark, root, v_del)
    df.mapInPandas(lambda batches: batches, schema=df.schema).write.format(
        "noop"
    ).mode("overwrite").save()
    assert any("Pandas" in n for n in python_nodes(plan_nodes(spark, before)))


def test_dv_sidecar_is_one_sorted_parquet_file(cycle):
    root, _start, _v, man = cycle
    dved = [e for e in man["files"] if e.get("dv")]
    assert dved, "dv_delete left no deletion vector"
    for e in dved:
        rel = e["dv"]["path"]
        assert os.path.dirname(rel) == "_dv" and rel.endswith(".parquet")
        table = pq.read_table(os.path.join(root, rel))
        assert table.column_names == ["pos"]
        pos = table["pos"].to_pylist()
        assert pos == sorted(pos) and len(set(pos)) == len(pos)
        assert len(pos) == e["dv"]["n_deleted"] < e["rows"]
