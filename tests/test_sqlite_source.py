"""Gemini-DB SQLite source (sources/sqlite.py): round-trip through the
sink and back, rowid-range partitioning, blob→array decode, and filters
applied by Spark after the read (nothing is pushed into SQLite)."""

from __future__ import annotations

import sqlite3

import pytest

from pyspark.sql import functions as F

from tests.fixtures.make_mini_vcf import write_fixture
from vcf2db_spark.pipeline import load_vcf
from vcf2db_spark.sinks.sqlite import write_gemini_db
from vcf2db_spark.sources.sqlite import read_gemini_db


@pytest.fixture(scope="module")
def db_path(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sqlite_source")
    vcf, ped = write_fixture(str(tmp))
    tables = load_vcf(spark, vcf, ped_path=ped, cache_parse=True)
    path = str(tmp / "mini.db")
    write_gemini_db(
        path,
        {
            "variants": tables.variants,
            "variant_impacts": tables.variant_impacts,
            "samples": tables.samples,
        },
        legacy=True,
    )
    return path, tables


def test_roundtrip_variants(spark, db_path):
    path, tables = db_path
    back = read_gemini_db(spark, path, "variants", n_partitions=3)
    want = [
        (r["variant_id"], r["chrom"], r["start"], r["ref"], r["alt"], list(r["gt_types"]))
        for r in tables.variants.select(
            "variant_id", "chrom", "start", "ref", "alt", "gt_types"
        ).collect()
    ]
    got = [
        (r["variant_id"], r["chrom"], r["start"], r["ref"], r["alt"], list(r["gt_types"]))
        for r in back.select("variant_id", "chrom", "start", "ref", "alt", "gt_types").collect()
    ]
    assert sorted(got) == sorted(want)
    assert dict(back.dtypes)["gt_types"] == "array<int>"


def test_roundtrip_other_tables(spark, db_path):
    path, tables = db_path
    assert read_gemini_db(spark, path, "samples").count() == tables.samples.count()
    imp = read_gemini_db(spark, path, "variant_impacts")
    assert imp.count() == tables.variant_impacts.count()
    genes = {r["gene"] for r in imp.select("gene").distinct().collect()}
    assert "BRCA2" in genes


def test_filter_pushdown_correct(spark, db_path):
    path, tables = db_path
    back = read_gemini_db(spark, path, "variants", n_partitions=2)
    got = back.filter((F.col("chrom") == "chr1") & (F.col("start") >= 199)).count()
    want = tables.variants.filter((F.col("chrom") == "chr1") & (F.col("start") >= 199)).count()
    assert got == want > 0


def test_reads_foreign_gemini_db(spark, tmp_path):
    """A database we did NOT write (hand-made, reference-shaped) reads fine —
    the migration path for existing vcf2db artifacts."""
    import zlib

    import numpy as np

    path = str(tmp_path / "foreign.db")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE variants (variant_id INTEGER PRIMARY KEY, chrom TEXT, "
        'start INTEGER, "end" INTEGER, gene TEXT, qual REAL, gt_types BLOB)'
    )
    blob = zlib.compress(np.asarray([0, 1, 3], dtype="<i4").tobytes())
    con.executemany(
        "INSERT INTO variants VALUES (?,?,?,?,?,?,?)",
        [(i, "chr1", i * 10, i * 10 + 1, "G1", 9.5, blob) for i in range(1, 26)],
    )
    con.commit()
    con.close()

    df = read_gemini_db(spark, path, "variants", n_partitions=4)
    assert df.count() == 25
    row = df.filter(F.col("variant_id") == 7).collect()[0]
    assert row["gt_types"] == [0, 1, 3] and row["qual"] == 9.5
    assert df.rdd.getNumPartitions() == 4


def test_missing_table_raises(spark, db_path):
    path, _ = db_path
    with pytest.raises(Exception, match="nope"):
        read_gemini_db(spark, path, "nope").count()
