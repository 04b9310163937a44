from vcf2db_spark.sources.bed import read_bed
from vcf2db_spark.sources.header import VCFHeader, build_schema, clean, parse_header
from vcf2db_spark.sources.ped import read_ped
from vcf2db_spark.sources.sqlite import read_gemini_db
from vcf2db_spark.sources.vcf import VCFDataSource, read_vcf

__all__ = [
    "VCFHeader",
    "build_schema",
    "clean",
    "parse_header",
    "read_bed",
    "read_ped",
    "read_gemini_db",
    "VCFDataSource",
    "read_vcf",
]
