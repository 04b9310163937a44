from vcf2db_spark.operators.annotate import annotate_variants
from vcf2db_spark.operators.impacts import explode_impacts, with_top_impact
from vcf2db_spark.operators.intervals import interval_join
from vcf2db_spark.operators.variants import (
    assign_variant_id,
    with_genotype_stats,
    with_variant_type,
)
from vcf2db_spark.operators.windower import window_stats

__all__ = [
    "annotate_variants",
    "explode_impacts",
    "interval_join",
    "window_stats",
    "with_top_impact",
    "assign_variant_id",
    "with_genotype_stats",
    "with_variant_type",
]
