"""End-to-end VCF → tables pipeline (SURVEY.md §3 lifecycle).

Spark equivalent of the reference's load loop [U vcf2db.py §VCFDB.load
~L640]: read VCF (header-inferred schema, contig partitions) → derive
per-variant stats → assign deterministic variant_id → explode annotations
into variant_impacts → denormalize top impact → load PED samples → emit
the four-table GEMINI-shaped output.

Each returned DataFrame is a lazy plan; callers pick the sink
(``sinks.write_parquet`` / ``sinks.write_jdbc``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vcf2db_spark.operators.impacts import explode_impacts, with_top_impact
from vcf2db_spark.operators.variants import (
    assign_variant_id,
    with_genotype_stats,
    with_variant_type,
)
from vcf2db_spark.sources.header import VCFHeader, clean, parse_header, read_header_text
from vcf2db_spark.sources.ped import read_ped
from vcf2db_spark.sources.vcf import read_vcf


@dataclass
class VCFTables:
    """The reference's output data model (SURVEY §1.2)."""

    variants: DataFrame
    variant_impacts: DataFrame | None
    samples: DataFrame | None
    vcf_header: DataFrame
    header: VCFHeader
    #: the persisted locus-sorted frame that ``variants`` and
    #: ``variant_impacts`` read — callers own its lifetime
    #: (``tables.cached.unpersist()`` when done)
    cached: DataFrame | None = None


def _header_frame(spark: SparkSession, raw: str) -> DataFrame:
    """The one-row ``vcf_header`` table as a JVM literal (a local
    ``createDataFrame`` would cost a Python worker on every drain)."""
    return spark.range(1).select(F.lit(raw).alias("header_text"))


def load_vcf(
    spark: SparkSession,
    vcf_path: str,
    ped_path: str | None = None,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    num_partitions: int | None = None,
    cache_parse: bool = False,
    decompose: str = "reject",
) -> VCFTables:
    """Parse once, sort by locus into a persisted frame (``cached``), and
    return ``variants`` / ``variant_impacts`` as JVM projections over it.

    ``vcf_path`` is any container ``read_vcf`` reads: plain text, gzip,
    BGZF with or without an index, or BCF; ``read_vcf`` picks the
    partitioning. ``cached`` is materialized before this returns (by
    variant_id's offsets job) and stays until the caller calls
    ``tables.cached.unpersist()``. ``cache_parse=True`` also persists the
    parsed frame so variant_id's range sampling and the sort share one
    read and parse of the file; that copy is freed before this returns,
    once the sort is materialized."""
    header = parse_header(read_header_text(vcf_path))

    raw = read_vcf(
        spark,
        vcf_path,
        black_list=black_list,
        include_genotypes=include_genotypes and bool(header.samples),
        decompose=decompose,
    )
    if cache_parse:
        raw = raw.persist()
    v = with_variant_type(raw)
    if include_genotypes and header.samples:
        v = with_genotype_stats(v)
    v, cached = assign_variant_id(v, num_partitions=num_partitions)
    if cache_parse:
        raw.unpersist()

    impacts = None
    ann_key = header.annotation_key
    if ann_key is not None and clean(ann_key) in v.columns:
        impacts = explode_impacts(v, header)
        v = with_top_impact(v, header)

    samples = None
    if ped_path is not None:
        samples = read_ped(spark, ped_path, vcf_samples=header.samples or None)

    return VCFTables(
        variants=v,
        variant_impacts=impacts,
        samples=samples,
        vcf_header=_header_frame(spark, header.raw),
        header=header,
        cached=cached,
    )


def open_artifact(spark: SparkSession, path: str) -> VCFTables:
    """Re-open a written artifact as ``VCFTables`` — the downstream-query
    entry point (SURVEY §3 entry 3) without re-parsing any VCF.

    ``path`` is either the CLI's parquet output directory (one dataset per
    table) or a gemini-compatible SQLite ``.db`` file (ours, or one the
    reference itself produced — genotype blobs decode back to arrays).
    The VCF header text stored in the artifact rebuilds the sample-order
    index that gt-filters need.
    """
    import os

    vcf_header = raw = None
    if path.endswith(".db"):
        import sqlite3 as _sq

        from vcf2db_spark.sources.sqlite import read_gemini_db

        con = _sq.connect(f"file:{path}?mode=ro", uri=True)
        try:
            present = {
                r[0]
                for r in con.execute("SELECT name FROM sqlite_master WHERE type='table'")
            }
            if "vcf_header" in present:
                (raw,) = con.execute("SELECT header_text FROM vcf_header LIMIT 1").fetchone()
        finally:
            con.close()

        def load(name):
            return read_gemini_db(spark, path, name) if name in present else None

    else:

        def load(name):
            p = os.path.join(path, name)
            return spark.read.parquet(p) if os.path.isdir(p) else None

        vcf_header = load("vcf_header")
        if vcf_header is not None:
            raw = vcf_header.collect()[0]["header_text"]

    variants = load("variants")
    if variants is None:
        raise ValueError(f"no variants table in artifact {path!r}")
    if raw is None:  # header-less artifact: SQL works, gt-filters can't resolve samples
        raw = "##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT"
    return VCFTables(
        variants=variants,
        variant_impacts=load("variant_impacts"),
        samples=load("samples"),
        vcf_header=vcf_header if vcf_header is not None else _header_frame(spark, raw),
        header=parse_header(raw),
    )
