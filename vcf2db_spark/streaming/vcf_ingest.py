"""Continuous VCF ingest — Structured Streaming over arriving VCF shards
(SURVEY.md §2C C7-C11 applied to the §2A A1 domain source).

The reference is a one-shot batch loader; a cohort that grows (new
sequencing batches landing as decomposed, annotated VCF shards) re-runs it
from scratch. Here the same parse/derive pipeline runs incrementally: a
file-source stream watches a directory, each micro-batch parses only the
newly arrived shards, and an append-mode parquet sink grows the variants
table — exactly-once per file via the streaming checkpoint.

Preconditions (documented, asserted where cheap):
- all shards share ONE header (same cohort → same INFO/FORMAT/samples);
  the header is read once from ``header_path`` at stream definition time;
- shards are decomposed (the parser raises on multi-allelic ALT, same as
  the batch path).

Scale: the file source lists incrementally (no re-scan of processed
files); each micro-batch is parsed by the batch reader's JVM builder
(``sources.vcf.vcf_columns``), so text VCF has one parse semantics across
batch and stream and no Python worker runs.
``variant_id`` is deliberately absent in stream mode — a global ordinal
needs a total order over an unbounded stream; consumers key on
(chrom, start, ref, alt) or assign ids in a batch compaction pass
(`operators.variants.assign_variant_id`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from vcf2db_spark.operators.variants import with_genotype_stats, with_variant_type
from vcf2db_spark.sources.header import parse_header, read_header_text
from vcf2db_spark.sources.vcf import vcf_columns


def read_vcf_stream(
    spark: SparkSession,
    watch_dir: str,
    header_path: str,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    max_files_per_trigger: int | None = None,
    decompose: str = "reject",
) -> DataFrame:
    """Streaming DataFrame of parsed variant records from VCF shards
    arriving under ``watch_dir`` (plain ``.vcf``; header lines in shards
    are skipped — the binding header comes from ``header_path``)."""
    header = parse_header(read_header_text(header_path))
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return vcf_columns(
        reader.text(watch_dir),
        header,
        black_list=black_list,
        include_genotypes=include_genotypes,
        decompose=decompose,
    )


def stream_load_vcf(
    spark: SparkSession,
    watch_dir: str,
    header_path: str,
    out_path: str,
    checkpoint: str,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    available_now: bool = True,
    decompose: str = "reject",
):
    """Incremental load: parse arriving shards, derive type/sub_type and
    cohort genotype stats (the batch pipeline's A5 stage), append to a
    parquet variants table. Returns the started StreamingQuery.

    ``available_now=True`` drains everything currently present and stops —
    the batch-backfill mode; ``False`` keeps watching."""
    parsed = read_vcf_stream(
        spark,
        watch_dir,
        header_path,
        black_list=black_list,
        include_genotypes=include_genotypes,
        decompose=decompose,
    )
    v = with_variant_type(parsed)
    if include_genotypes and "gt_types" in v.columns:
        v = with_genotype_stats(v)
    writer = (
        v.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
