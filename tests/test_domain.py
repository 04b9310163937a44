"""Unit + integration tests for the vcf2db domain layer (SURVEY.md §5.3-4):
header inference goldens, clean() properties, VCF source, derivations,
impacts severity goldens, deterministic IDs, codec round-trips, PED, and
the end-to-end pipeline against hand-computed values from the mini fixture.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.fixtures.make_mini_vcf import write_fixture
from vcf2db_spark.functions.codecs import pack_blob, unpack_blob
from vcf2db_spark.operators.impacts import RANK, SEVERITY_ORDER, severity_category
from vcf2db_spark.pipeline import load_vcf
from vcf2db_spark.sinks.writers import varchar_widths, write_parquet
from vcf2db_spark.sources.header import build_schema, clean, parse_header
from vcf2db_spark.sources.ped import read_ped


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("vcf_fixture")
    return write_fixture(str(d))


@pytest.fixture(scope="module")
def tables(spark, fixture_paths):
    vcf, ped = fixture_paths
    return load_vcf(spark, vcf, ped_path=ped)


# ---- A2: header → schema -----------------------------------------------


def test_header_parse(fixture_paths):
    from vcf2db_spark.sources.header import read_header_text

    h = parse_header(read_header_text(fixture_paths[0]))
    assert h.samples == ["NA001", "NA002", "NA003"]
    assert h.contigs == ["chr1", "chr2"]
    assert h.infos["AC"].number == "A" and not h.infos["AC"].is_list
    assert h.infos["AF"].type == "Float"
    assert h.infos["PASSFLAG"].type == "Flag"
    assert h.annotation_key == "CSQ"
    assert h.annotation_subfields[:4] == ["Allele", "Consequence", "SYMBOL", "Feature"]
    assert h.formats["AD"].is_list  # Number=R stays a list


def test_build_schema_types(fixture_paths):
    from vcf2db_spark.sources.header import read_header_text

    h = parse_header(read_header_text(fixture_paths[0]))
    schema = build_schema(h)
    d = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert d["chrom"] == "string" and d["start"] == "bigint"
    assert d["ac"] == "bigint"  # Number=A scalar after decompose
    assert d["af"] == "double"
    assert d["passflag"] == "boolean"
    assert d["mq_ranksum"] == "double"  # dotted name sanitized
    assert d["gt_types"] == "array<int>"
    # black-list pruning (A4)
    pruned = build_schema(h, black_list=("culprit", "DP"))
    names = pruned.fieldNames()
    assert "culprit" not in names and "dp" not in names and "ac" in names


def test_clean_rules():
    assert clean("MQ.RankSum") == "mq_ranksum"
    assert clean("my-field") == "my_field"
    assert clean("1000G") == "_1000g"
    assert clean("filter") == "filter_info"  # fixed-column collision
    assert clean("select") == "select_info"  # reserved


@given(st.text(min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_clean_properties(name):
    out = clean(name)
    assert out == clean(out)  # idempotent
    assert out and not out[0].isdigit()
    assert all(c.islower() or c.isdigit() or c == "_" for c in out)


# ---- A7: severity golden table ------------------------------------------


def test_severity_golden():
    assert RANK["stop_gained"] < RANK["missense_variant"] < RANK["synonymous_variant"]
    assert severity_category(RANK["frameshift_variant"]) == "HIGH"
    assert severity_category(RANK["missense_variant"]) == "MED"
    assert severity_category(RANK["intron_variant"]) == "LOW"
    assert len(set(SEVERITY_ORDER)) == len(SEVERITY_ORDER)


# ---- A8: codec round-trip ------------------------------------------------


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=50))
@settings(max_examples=100, deadline=None)
def test_blob_roundtrip(arr):
    assert unpack_blob(pack_blob(arr, legacy=True), legacy=True) == arr


def test_blob_none():
    assert pack_blob(None) is None and unpack_blob(None) is None


# ---- A1/A5: source + derivations -----------------------------------------


def test_variants_table(tables):
    v = {r["variant_id"]: r for r in tables.variants.collect()}
    assert sorted(v) == [1, 2, 3, 4, 5, 6]  # deterministic locus order
    r1 = v[1]
    assert (r1["chrom"], r1["start"], r1["end"], r1["ref"], r1["alt"]) == ("chr1", 99, 100, "A", "G")
    assert r1["type"] == "snp" and r1["sub_type"] == "ts"
    assert r1["ac"] == 2 and abs(r1["af"] - 0.333) < 1e-9 and r1["culprit"] == "MQ"
    assert r1["filter"] is None  # PASS → null, as the reference stores it
    assert r1["gt_types"] == [1, 0, 3]
    assert r1["num_hom_ref"] == 1 and r1["num_het"] == 1 and r1["num_hom_alt"] == 1
    assert r1["call_rate"] == 1.0 and abs(r1["aaf"] - 0.5) < 1e-12
    assert r1["gts"] == ["A/G", "A/A", "G|G"]
    assert r1["gt_phases"] == [False, False, True]
    assert r1["gt_depths"] == [10, 12, 8]
    assert r1["gt_ref_depths"] == [6, 12, 0] and r1["gt_alt_depths"] == [4, 0, 8]

    r2 = v[2]
    assert r2["passflag"] is True and r2["mq_ranksum"] == -1.5 and r2["filter"] == "q10"
    assert r2["gt_types"] == [0, 2, 1] and abs(r2["call_rate"] - 2 / 3) < 1e-12
    assert abs(r2["aaf"] - 0.25) < 1e-12
    assert r2["gt_quals"] == [50, -1, 33]  # missing → -1 sentinel

    assert v[3]["type"] == "indel" and v[3]["sub_type"] == "ins"
    assert v[4]["type"] == "indel" and v[4]["sub_type"] == "del"
    assert v[6]["sub_type"] == "tv"
    assert v[6]["gt_types"] == [1, 0, 2]  # ./1 → unknown (cyvcf2 coding)


def test_multiallelic_rejected(spark, tmp_path):
    bad = tmp_path / "bad.vcf"
    from tests.fixtures.make_mini_vcf import HEADER

    bad.write_text(HEADER + "chr1\t10\t.\tA\tG,T\t1.0\tPASS\tDP=5\tGT\t0/1\t0/0\t1/1\n")
    from vcf2db_spark.sources.vcf import read_vcf

    with pytest.raises(Exception, match="decompose"):
        read_vcf(spark, str(bad)).collect()


def test_contig_partitions(spark, fixture_paths):
    from vcf2db_spark.sources.vcf import read_vcf

    df = read_vcf(spark, fixture_paths[0])
    assert df.rdd.getNumPartitions() == 2  # one per header contig


def test_contig_partitions_capped_by_shuffle_partitions(spark, tmp_path):
    """A GRCh38 header with alt, decoy and HLA contigs declares 3,366
    contigs: the lines shuffle into at most spark.sql.shuffle.partitions
    partitions, each contig still in one, with the rows of an
    unpartitioned read."""
    from pyspark.sql import functions as F

    from vcf2db_spark.sources.vcf import read_vcf

    contigs = [f"chr{i}" for i in range(1, 23)] + [f"chrUn_{i:04d}" for i in range(3344)]
    lines = ["##fileformat=VCFv4.2"]
    lines += [f"##contig=<ID={c},length=1000000>" for c in contigs]
    lines += [
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1",
    ]
    lines += [
        f"{contigs[i % 40 * 80]}\t{100 + i}\t.\tA\tG\t5\tPASS\tDP={i}\tGT\t0/1"
        for i in range(400)
    ]
    path = tmp_path / "grch38.vcf"
    path.write_text("\n".join(lines) + "\n")
    assert len(parse_header(path.read_text()).contigs) == 3366

    df = read_vcf(spark, str(path))
    assert df.rdd.getNumPartitions() <= int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_contig = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("chrom")
        .agg(F.countDistinct("pid").alias("n"))
    )
    assert {r["n"] for r in per_contig.collect()} == {1}
    whole = read_vcf(spark, str(path), partition_by_contig=False)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, whole.collect()))
    assert df.count() == 400


# ---- A6/A7: impacts -------------------------------------------------------


def test_impacts_table(tables):
    imp = tables.variant_impacts.collect()
    assert len(imp) == 6
    by_vid: dict[int, list] = {}
    for r in imp:
        by_vid.setdefault(r["variant_id"], []).append(r)
    assert sorted(by_vid) == [1, 2, 3, 5]
    assert {r["impact_so"] for r in by_vid[1]} == {"missense_variant", "intron_variant"}
    # '&'-joined consequence takes most severe member
    r5 = by_vid[5][0]
    assert r5["impact_so"] == "stop_gained" and r5["impact_severity"] == "HIGH"
    assert r5["is_lof"] is True


def test_top_impact_denormalized(tables):
    v = {r["variant_id"]: r for r in tables.variants.collect()}
    assert v[1]["gene"] == "BRCA2" and v[1]["transcript"] == "ENST0002"
    assert v[1]["impact_so"] == "missense_variant" and v[1]["impact_severity"] == "MED"
    assert abs(v[1]["polyphen_score"] - 0.95) < 1e-12 and v[1]["polyphen_pred"] == "probably_damaging"
    assert v[1]["sift_pred"] == "deleterious"
    assert v[3]["impact_so"] == "frameshift_variant" and v[3]["is_lof"] is True
    assert v[4]["gene"] is None and v[4]["impact_severity"] is None  # no CSQ
    assert v[5]["gene"] == "MLH1" and v[5]["impact_severity"] == "HIGH"


# ---- A9: PED --------------------------------------------------------------


def test_ped(tables):
    s = {r["name"]: r for r in tables.samples.collect()}
    assert [s[n]["sample_id"] for n in ("NA001", "NA002", "NA003")] == [1, 2, 3]
    assert s["NA002"]["paternal_id"] == "NA001" and s["NA001"]["paternal_id"] is None
    assert s["NA001"]["sex"] == 1 and s["NA003"]["phenotype"] == -9
    assert s["NA003"]["ethnicity"] == "AFR"  # extra PED column


def test_ped_vcf_order_fills_missing(spark, tmp_path):
    ped = tmp_path / "p.ped"
    ped.write_text("fam1 S2 0 0 1 1\n")
    df = read_ped(spark, str(ped), vcf_samples=["S1", "S2"])
    rows = {r["name"]: r for r in df.collect()}
    assert rows["S1"]["sample_id"] == 1 and rows["S1"]["family_id"] is None
    assert rows["S2"]["sample_id"] == 2 and rows["S2"]["family_id"] == "fam1"


# ---- determinism + sinks --------------------------------------------------


def test_variant_id_deterministic(spark, fixture_paths):
    v1 = load_vcf(spark, fixture_paths[0]).variants
    v2 = load_vcf(spark, fixture_paths[0]).variants
    a = [(r["variant_id"], r["chrom"], r["start"]) for r in v1.orderBy("variant_id").collect()]
    b = [(r["variant_id"], r["chrom"], r["start"]) for r in v2.orderBy("variant_id").collect()]
    assert a == b
    assert [x[0] for x in a] == list(range(1, 7))


def test_parquet_sink_roundtrip(spark, tables, tmp_path):
    out = str(tmp_path / "variants_pq")
    write_parquet(tables.variants, out)
    back = spark.read.parquet(out)
    assert back.count() == 6
    assert set(back.select("chrom").distinct().toPandas()["chrom"]) == {"chr1", "chr2"}


def test_varchar_widths(tables):
    w = varchar_widths(tables.variants.select("chrom", "ref", "alt"))
    assert w["chrom"] == 4 and w["ref"] == 3 and w["alt"] == 3


def test_vcf_header_table(tables):
    txt = tables.vcf_header.collect()[0]["header_text"]
    assert txt.startswith("##fileformat") and "#CHROM" in txt
