"""Per-variant derivations + deterministic ID assignment (SURVEY.md §2A
A5; §7 hard part 3).

The reference computes these row-by-row from cyvcf2 numpy arrays
[U vcf2db.py §VCFDB._set_variant_properties ~L620]; here they are Spark
higher-order functions over the typed genotype arrays — JVM-side, inside
WholeStageCodegen, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# cyvcf2 gt_types coding
HOM_REF, HET, UNKNOWN, HOM_ALT = 0, 1, 2, 3

_TS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}


def with_variant_type(df: DataFrame, ref: str = "ref", alt: str = "alt") -> DataFrame:
    """``type`` (snp/indel) and ``sub_type`` (ts/tv/ins/del/unknown)."""
    r, a = F.col(ref), F.col(alt)
    is_snp = (F.length(r) == 1) & (F.length(a) == 1) & (r != a)
    ts_pairs = F.array(
        *[F.struct(F.lit(x).alias("r"), F.lit(y).alias("a")) for x, y in sorted(_TS)]
    )
    is_ts = F.array_contains(ts_pairs, F.struct(r.alias("r"), a.alias("a")))
    return df.withColumns(
        {
            "type": F.when(is_snp, "snp").otherwise("indel"),
            "sub_type": F.when(is_snp & is_ts, "ts")
            .when(is_snp, "tv")
            .when(F.length(r) < F.length(a), "ins")
            .when(F.length(r) > F.length(a), "del")
            .otherwise("unknown"),
        }
    )


def with_genotype_stats(df: DataFrame, gt_types: str = "gt_types") -> DataFrame:
    """call_rate / num_hom_ref / num_het / num_hom_alt / num_unknown / aaf
    from the gt_types array — pure higher-order functions."""
    g = F.col(gt_types)

    def count_eq(code: int):
        return F.size(F.filter(g, lambda x: x == F.lit(code)))

    n = F.size(g)
    num_unknown = count_eq(UNKNOWN)
    num_het = count_eq(HET)
    num_hom_alt = count_eq(HOM_ALT)
    called = n - num_unknown
    return df.withColumns(
        {
            "num_hom_ref": count_eq(HOM_REF),
            "num_het": num_het,
            "num_hom_alt": num_hom_alt,
            "num_unknown": num_unknown,
            "call_rate": F.when(n > 0, called.cast("double") / n).otherwise(None),
            "aaf": F.when(
                called > 0,
                (num_het + 2 * num_hom_alt).cast("double") / (2 * called),
            ).otherwise(None),
        }
    )


def assign_variant_id(
    df: DataFrame,
    order: tuple[str, ...] = ("chrom", "start", "ref", "alt"),
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic sequential ``variant_id`` in locus order — the Spark
    equivalent of the reference's file-order counter [U vcf2db.py ~L660].

    NOT a global ``row_number()`` window (single-partition sort — dies at
    scale). Two-phase instead:

    1. range-repartition + sort within partitions on the locus key,
       persisted so every reader sees identical partition contents;
    2. count rows per partition (tiny driver-side collect, one row per
       partition) into cumulative offsets;
    3. one JVM projection adds ``offset[pid] + local_index + 1``.

    ``monotonically_increasing_id()`` is exact here: it is
    ``pid << 33 | row index within the partition``, and directly above
    the persisted scan both halves are the partition and the row order
    the offsets were counted on, so the ids are gapless. The ceiling is
    2^33 (~8.6e9) rows per partition.

    Returns ``(with_ids, sorted_df)``: the persisted sort backs every
    read of ``with_ids`` — the caller owns it (``sorted_df.unpersist()``).
    Total cost: one range shuffle + one metadata-size pass — works the same
    on 1000 executors.
    """
    spark = df.sparkSession
    n = num_partitions or max(2, spark.sparkContext.defaultParallelism)
    sorted_df = df.repartitionByRange(n, *[F.col(c) for c in order]).sortWithinPartitions(
        *order
    ).persist()

    counts = sorted_df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets, acc = [], 0
    for pid in range(n):
        offsets.append(F.lit(acc).cast("long"))
        acc += sizes.get(pid, 0)
    local_index = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    base = F.element_at(F.array(*offsets), F.spark_partition_id() + 1)
    # outside ANSI mode element_at is typed nullable though every pid is
    # in range; the coalesce keeps variant_id non-nullable (DDL NOT NULL)
    variant_id = F.coalesce(base + local_index + 1, F.lit(0).cast("long"))
    return sorted_df.select(variant_id.alias("variant_id"), "*"), sorted_df
