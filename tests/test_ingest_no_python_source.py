"""Ingest runs no Python DataSource, and its Python workers import the
package wherever the driver runs.

The gate walks the plan graph of every SQL execution a load → SQLite →
reopen → gt-filter query leaves in the status store and fails on any
Python DataSource scan (``tests/plan_gates.py``): the VCF parse is the JVM
builder and the ``.db`` reopen a ``mapInArrow`` over rowid ranges. The
negative control is the path that still uses the VCF DataSource, an
indexed BGZF file. The ``pack_blob`` pandas UDF and the reopen's
``mapInArrow`` remain, so the second test runs the same ingest in a child
process whose working directory is outside the checkout and whose
``PYTHONPATH`` is unset: its workers can import ``vcf2db_spark`` only from
the zip the driver ships. A third child reads indexed BGZF and BCF through
the VCF DataSource the same way.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from tests.fixtures.make_mini_vcf import write_fixture
from tests.plan_gates import last_execution_id, plan_nodes, python_source_scans
from vcf2db_spark.gemini import GeminiEngine
from vcf2db_spark.pipeline import load_vcf, open_artifact
from vcf2db_spark.sinks.sqlite import write_gemini_db
from vcf2db_spark.sources.bgzf import compress_file
from vcf2db_spark.sources.tabix import index_vcf
from vcf2db_spark.sources.vcf import read_vcf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERY = "SELECT chrom, start FROM variants"
GT_FILTER = "gt_types.NA002 == HET"
#: the mini fixture's records where NA002 is 0/1
HET_NA002 = [("chr1", 299), ("chr1", 399)]


def ingest(spark, vcf: str, db: str) -> list[tuple]:
    tables = load_vcf(spark, vcf, cache_parse=True)
    try:
        write_gemini_db(db, {
            "variants": tables.variants,
            "variant_impacts": tables.variant_impacts,
            "vcf_header": tables.vcf_header,
        })
    finally:
        tables.cached.unpersist()
    engine = GeminiEngine(spark, open_artifact(spark, db))
    rows = engine.query(QUERY, gt_filter=GT_FILTER).collect()
    return sorted((r["chrom"], r["start"]) for r in rows)


def test_ingest_runs_no_python_source_scan(spark, tmp_path):
    vcf, _ped = write_fixture(str(tmp_path))
    before = last_execution_id(spark)
    assert ingest(spark, vcf, str(tmp_path / "mini.db")) == HET_NA002
    names = plan_nodes(spark, before)
    assert any(n.startswith("Scan text") for n in names), "the parse ran no text scan"
    assert python_source_scans(names) == []


def test_negative_control_python_source_trips_gate(spark, tmp_path):
    vcf, _ped = write_fixture(str(tmp_path))
    gz = vcf + ".gz"
    compress_file(vcf, gz)
    index_vcf(gz)
    before = last_execution_id(spark)
    assert read_vcf(spark, gz).count() == 6
    assert "BatchScan vcf" in python_source_scans(plan_nodes(spark, before))


def run_foreign(tmp_path, body: str) -> str:
    """Run ``body`` in a child process whose working directory is outside
    the checkout and whose ``PYTHONPATH`` is unset; the package is
    importable on the driver through ``sys.path`` only. Returns stdout."""
    script = tmp_path / "child.py"
    script.write_text(f"import sys\nsys.path.insert(0, {REPO!r})\n" + textwrap.dedent(body))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


def test_ingest_from_foreign_working_directory(tmp_path):
    out = run_foreign(tmp_path, """\
        from tests.fixtures.make_mini_vcf import write_fixture
        from tests.test_ingest_no_python_source import ingest
        from vcf2db_spark.session import get_spark

        spark = get_spark("foreign-cwd")
        vcf, _ped = write_fixture("data")
        print("ROWS", ingest(spark, vcf, "mini.db"))
        spark.stop()
    """)
    assert f"ROWS {HET_NA002}" in out


def test_vcf_source_from_foreign_working_directory(tmp_path):
    """The VCF DataSource (indexed BGZF, BCF) ships the package itself:
    its reads are the child's first Python-worker step, and the zip ships
    once per SparkContext, so nothing else can have shipped it first."""
    out = run_foreign(tmp_path, """\
        from tests.fixtures.make_mini_vcf import write_fixture
        from vcf2db_spark.session import get_spark
        from vcf2db_spark.sources.bcf import write_bcf
        from vcf2db_spark.sources.bgzf import compress_file
        from vcf2db_spark.sources.tabix import index_vcf
        from vcf2db_spark.sources.vcf import read_vcf

        spark = get_spark("foreign-cwd-source")
        vcf, _ped = write_fixture("data")
        compress_file(vcf, vcf + ".gz")
        index_vcf(vcf + ".gz")
        write_bcf(vcf, "data/mini.bcf")
        print("ROWS", read_vcf(spark, vcf + ".gz").count(),
              read_vcf(spark, "data/mini.bcf").count())
        spark.stop()
    """)
    assert "ROWS 6 6" in out
