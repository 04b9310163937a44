"""Benchmark of vcf2db_spark: seeded workloads, tracing and summaries."""
