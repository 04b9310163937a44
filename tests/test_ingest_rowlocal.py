"""The load loop after the parse is JVM projections over one persisted,
locus-sorted frame: variant_id from per-partition offsets, the top impact
picked row-locally. These tests pin that rewrite against the
explode + ``groupBy(min(struct))`` + left-join shape it replaced, gate the
executed plans, and check that ``tables.cached`` is the only state a load
leaves behind.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from vcf2db_spark.pipeline import load_vcf

_CSQ = (
    "Allele|Consequence|SYMBOL|Feature|BIOTYPE|EXON|Codons|Amino_acids|Protein_position|"
    "PolyPhen|SIFT"
)

HEADER = f"""\
##fileformat=VCFv4.2
##contig=<ID=chr2,length=242193529>
##contig=<ID=chr10,length=133797422>
##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">
##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations from Ensembl VEP. Format: {_CSQ}">
##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2
"""

# File order is not locus order: chr10 sorts before chr2, and A>G before
# A>T at the same position. Range bounds are sampled keys, so only the
# last range partition can come out empty; the record repeated at the last
# locus makes the 4-way split leave it empty.
CSQ_T = ",".join([
    # tied rank and transcript: the payload (consequence) breaks the tie
    "T|stop_gained&splice_region_variant|GENEX|ENST7|protein_coding|2/5|||40|probably_damaging(0.9)|",
    "T|stop_gained|GENEA|ENST7|protein_coding|2/5|Cag/Tag|Q/*|40||deleterious(0.01)",
    "T|stop_gained|GENEW||protein_coding||||||",  # tied rank, no transcript
    "T|frameshift_variant|GENEY|ENST3||||||benign(0.1)|",
])
CSQ_G = ",".join([
    "G|missense_variant|GENEB|ENST1|protein_coding|1/2|||||",
    "G|missense_variant|GENEA|ENST1|protein_coding||||||",
    "G|intron_variant|||||||||",
    "G||||||||||",  # empty consequence: null rank
])
BODY = (
    f"chr2\t100\t.\tA\tT\t50\tPASS\tDP=10;CSQ={CSQ_T}\tGT\t0/1\t1/1\n"
    f"chr2\t100\t.\tA\tG\t40\tPASS\tDP=12;CSQ={CSQ_G}\tGT\t0/0\t0/1\n"
    "chr10\t50\t.\tC\tA\t30\tPASS\tDP=8\tGT\t0/1\t./.\n"
    + "".join(f"chr2\t300\t.\tG\tC\t20\tPASS\tDP={dp}\tGT\t0/1\t0/0\n" for dp in (1, 2, 3))
)

TOP_COLS = (
    "gene", "transcript", "is_exonic", "is_coding", "is_lof", "exon",
    "codon_change", "aa_change", "aa_length", "biotype", "impact_so",
    "impact_severity", "polyphen_pred", "polyphen_score", "sift_pred",
    "sift_score",
)

# plan nodes that must not sit between a table and its cached scan
_FORBIDDEN = re.compile(r"Exchange|Join|Python|Pandas|Arrow")


@pytest.fixture(scope="module")
def vcf(tmp_path_factory):
    p = tmp_path_factory.mktemp("rowlocal") / "edge.vcf"
    p.write_text(HEADER + BODY)
    return str(p)


def join_oracle(tables):
    """The replaced shape: groupBy argmax over the exploded impacts, then a
    left join back onto the variants."""
    imp = tables.variant_impacts
    payload = [c for c in imp.columns if c != "variant_id"]
    best = F.min(F.struct(
        F.col("severity_rank").alias("_r"),
        F.coalesce(F.col("transcript"), F.lit("~")).alias("_t"),
        *[F.col(c) for c in payload],
    )).alias("_best")
    top = imp.groupBy("variant_id").agg(best).select(
        "variant_id", *[F.col(f"_best.{c}").alias(c) for c in TOP_COLS]
    )
    return tables.variants.drop(*TOP_COLS).join(top, "variant_id", "left")


def nodes_above_cache(df) -> list[str]:
    """Operator names of the executed plan above its first InMemoryTableScan."""
    df.collect()
    names = []
    for line in df._jdf.queryExecution().executedPlan().treeString().splitlines():
        m = re.match(r"[\s:|+\-]*(?:\*\(\d+\)\s*)?(\w+)", line)
        if not m:
            continue
        if m.group(1) == "InMemoryTableScan":
            return names
        names.append(m.group(1))
    raise AssertionError("plan has no InMemoryTableScan")


def plan_violations(df) -> list[str]:
    return [n for n in nodes_above_cache(df) if _FORBIDDEN.search(n)]


@pytest.mark.parametrize("n", [1, 2, 4])
def test_rowlocal_top_impact_matches_join_oracle(spark, vcf, n):
    t = load_vcf(spark, vcf, num_partitions=n, cache_parse=True)
    try:
        cols = ["variant_id", *TOP_COLS]
        got = sorted(t.variants.select(cols).collect())
        want = sorted(join_oracle(t).select(cols).collect())
        assert got == want
        by_alt = {r["alt"]: r for r in t.variants.collect()}
        assert by_alt["T"]["gene"] == "GENEA"  # tie broken past the transcript
        assert by_alt["T"]["impact_so"] == "stop_gained"
        assert by_alt["G"]["impact_so"] is None  # null rank sorts first
        assert by_alt["A"]["gene"] is None  # no CSQ → null impact columns

        # variant_id is exactly 1..N in (chrom, start, ref, alt) order
        keys = ["chrom", "start", "ref", "alt"]
        rows = t.variants.orderBy("variant_id").collect()
        assert [r["variant_id"] for r in rows] == list(range(1, 7))
        loci = [tuple(r[k] for k in keys) for r in rows]
        assert loci == sorted(loci)
        assert len({r["dp"] for r in rows}) == 6  # the repeats are distinct rows
        # every impact row joins back to the variant it was exploded from
        joined = t.variant_impacts.join(t.variants.select("variant_id", "alt"), "variant_id")
        assert joined.count() == t.variant_impacts.count() == 8
        assert joined.filter(F.col("allele") != F.col("alt")).count() == 0

        if n == 4:
            filled = t.cached.select(F.spark_partition_id()).distinct().count()
            assert t.cached.rdd.getNumPartitions() == 4 and filled == 3
    finally:
        t.cached.unpersist()


def test_tables_plan_has_no_exchange_join_or_python_above_cache(spark, vcf):
    t = load_vcf(spark, vcf, num_partitions=2, cache_parse=True)
    try:
        assert plan_violations(t.variants) == []
        assert plan_violations(t.variant_impacts) == []
        # negative control: the join shape this replaced trips the gate
        assert plan_violations(join_oracle(t))
    finally:
        t.cached.unpersist()


def test_load_releases_every_persisted_rdd(spark, vcf):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        t = load_vcf(spark, vcf, num_partitions=2, cache_parse=True)
        t.variants.collect()
        t.cached.unpersist()
    assert jsc.getPersistentRDDs().size() == before
