"""VCF parser edge-case robustness (sources/vcf.py): the messy inputs a
real decomposed+annotated VCF contains — missing values, unknown INFO
keys, haploid/phased genotypes, CRLF, flag-only INFO, multi-allelic
rejection. Each case pins behavior every container and the streaming
path share (one parser, ``vcf_columns``); ``tests/test_vcf_builders.py``
checks every case in every container against the Python oracle too."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from vcf2db_spark.pipeline import load_vcf

HEADER = """\
##fileformat=VCFv4.2
##contig=<ID=chr1,length=1000000>
##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">
##INFO=<ID=AF,Number=A,Type=Float,Description="freq">
##INFO=<ID=FLAGX,Number=0,Type=Flag,Description="flag">
##INFO=<ID=LISTY,Number=.,Type=Integer,Description="list">
##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="gq">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="dp">
##FORMAT=<ID=AD,Number=R,Type=Integer,Description="ad">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2
"""


#: every fixture record set, by case; tests/test_vcf_builders.py parses
#: each with both VCF builders
BODIES = {
    "missing_values": "chr1\t10\t.\tA\tT\t.\t.\t.\tGT\t0/1\t./.\n",
    "unknown_info_key": "chr1\t10\t.\tA\tT\t5.0\tPASS\tDP=9;NOT_DECLARED=7;AF=0.5\tGT\t0/1\t0/0\n",
    "flag_and_list": (
        "chr1\t10\t.\tA\tT\t5.0\tPASS\tFLAGX;LISTY=1,2,3\tGT\t0/1\t0/0\n"
        "chr1\t20\t.\tC\tG\t5.0\tPASS\tDP=4\tGT\t0/1\t0/0\n"
    ),
    "haploid_phased": (
        "chr1\t10\t.\tA\tT\t5.0\tPASS\tDP=1\tGT\t1\t0\n"
        "chr1\t20\t.\tC\tG\t5.0\tPASS\tDP=1\tGT\t0|1\t1|1\n"
        "chr1\t30\t.\tG\tC\t5.0\tPASS\tDP=1\tGT\t./1\t0/0\n"
    ),
    "crlf": "chr1\t10\t.\tA\tT\t5.0\tPASS\tDP=3\tGT\t0/1\t0/0\r\n",
    "multiallelic": "chr1\t10\t.\tA\tT,G\t5.0\tPASS\tDP=3\tGT\t0/1\t0/2\n",
    "multivalue_scalar": "chr1\t10\t.\tA\tT\t5.0\tPASS\tDP=3,4\tGT\t0/1\t0/0\n",
    "alt_star": "chr1\t10\t.\tA\t*\t5.0\tPASS\tDP=3\tGT\t0/1\t0/0\n",
    "filter_multi": "chr1\t10\t.\tA\tT\t5.0\tq10;s50\tDP=3\tGT\t0/1\t0/0\n",
}


def _load(spark, tmp_path, body: str, name: str = "edge.vcf"):
    p = tmp_path / name
    p.write_text(HEADER + body)
    return load_vcf(spark, str(p)).variants


def test_missing_values_everywhere(spark, tmp_path):
    """qual '.', INFO '.', GT-only FORMAT, missing GQ/DP/AD → NULL/-1
    sentinels, not crashes."""
    v = _load(spark, tmp_path, BODIES["missing_values"]).collect()[0]
    assert v["qual"] is None
    assert v["filter"] is None  # '.' == unfiltered == PASS convention
    assert v["dp"] is None and v["af"] is None
    assert v["gt_quals"] == [-1, -1] and v["gt_depths"] == [-1, -1]
    assert v["gt_types"] == [1, 2]  # het, unknown


def test_unknown_info_key_ignored(spark, tmp_path):
    """Keys absent from the header are skipped (the reference only
    extracts header-declared fields)."""
    v = _load(spark, tmp_path, BODIES["unknown_info_key"])
    assert "not_declared" not in v.columns
    row = v.collect()[0]
    assert row["dp"] == 9 and row["af"] == pytest.approx(0.5)


def test_flag_and_list_info(spark, tmp_path):
    rows = {r["start"]: r for r in _load(spark, tmp_path, BODIES["flag_and_list"]).collect()}
    assert rows[9]["flagx"] is True and rows[9]["listy"] == [1, 2, 3]
    assert rows[19]["flagx"] is None  # absent flag → NULL (not False)
    assert rows[19]["listy"] is None


def test_haploid_and_phased_genotypes(spark, tmp_path):
    """Haploid calls (chrY/MT-style '1'), phased '0|1', half-missing './1'."""
    rows = {r["start"]: r for r in _load(spark, tmp_path, BODIES["haploid_phased"]).collect()}
    assert rows[9]["gt_types"] == [3, 0]  # haploid 1 → hom_alt, 0 → hom_ref
    assert rows[19]["gt_phases"] == [True, True]
    assert rows[19]["gts"] == ["C|G", "G|G"]
    assert rows[29]["gt_types"] == [2, 0]  # half-missing → unknown


def test_crlf_line_endings(spark, tmp_path):
    v = _load(spark, tmp_path, BODIES["crlf"]).collect()[0]
    assert v["dp"] == 3
    assert v["gt_types"] == [1, 0]


def test_multiallelic_rejected_with_clear_error(spark, tmp_path):
    with pytest.raises(Exception, match="decompose"):
        _load(spark, tmp_path, BODIES["multiallelic"]).collect()


def test_multivalue_scalar_info_rejected(spark, tmp_path):
    """Number=1 field carrying a comma list → decompose error, not silent
    string-join (SURVEY §7 hard-part 4: preserve the precondition)."""
    with pytest.raises(Exception, match="decomposed"):
        _load(spark, tmp_path, BODIES["multivalue_scalar"]).collect()


def test_alt_star_allele(spark, tmp_path):
    """Spanning-deletion ALT '*' (post-decompose leftover) parses as a
    normal alt string."""
    v = _load(spark, tmp_path, BODIES["alt_star"]).collect()[0]
    assert v["alt"] == "*"
    assert v["gt_types"] == [1, 0]


def test_filter_semicolon_multi(spark, tmp_path):
    v = _load(spark, tmp_path, BODIES["filter_multi"]).collect()[0]
    assert v["filter"] == "q10;s50"
