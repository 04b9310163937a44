"""One VCF record parser, checked against its Python oracle in every
container. ``read_vcf`` types every record with the same Spark SQL
builder (``sources.vcf.vcf_columns``); ``tests/vcf_row_oracle.py`` keeps
the plain-Python statement of the same rules. Every fixture of
test_vcf_edge_cases, test_decompose and test_vcf_stream, plus the edge
cases below, is read as plain text, plain gzip and BGZF (lines from
``spark.read.text``), and as indexed BGZF and BCF (lines from
``VCFDataSource``). Each read must equal the oracle row for row, with
the schema ``build_schema`` gives, nullability included; records the
oracle rejects must fail the read with the same message.
"""

from __future__ import annotations

import gzip
import shutil

import pytest

from tests import test_decompose, test_vcf_edge_cases
from tests.fixtures import make_mini_vcf as mini
from tests.test_bgzf_tabix import _mk_vcf_text
from tests.test_vcf_stream import SHARD2
from tests.vcf_row_oracle import _row_builder
from vcf2db_spark.sources.bcf import iter_bcf_parts, write_bcf
from vcf2db_spark.sources.bgzf import compress_file
from vcf2db_spark.sources.header import build_schema, parse_header, read_header_text
from vcf2db_spark.sources.tabix import index_vcf
from vcf2db_spark.sources.vcf import read_vcf

HEADER = """\
##fileformat=VCFv4.2
##contig=<ID=chr1,length=1000000>
##contig=<ID=chr2,length=1000000>
##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">
##INFO=<ID=AF,Number=A,Type=Float,Description="freq">
##INFO=<ID=S,Number=1,Type=String,Description="string">
##INFO=<ID=FLAGX,Number=0,Type=Flag,Description="flag">
##INFO=<ID=LISTY,Number=.,Type=Integer,Description="list">
##INFO=<ID=RD,Number=R,Type=Integer,Description="per-allele depth">
##INFO=<ID=GL,Number=G,Type=Float,Description="likelihoods">
##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="gq">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="dp">
##FORMAT=<ID=AD,Number=R,Type=Integer,Description="ad">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2
"""

EDGE = {
    # the last of a duplicated INFO or FORMAT key wins, as in a dict
    "duplicate_keys": (
        "chr1\t10\t.\tA\tT\t5\tPASS\tDP=3;S=a;DP=5;S=b;FLAGX;FLAGX\tGT:DP:DP\t0/1:4:7\t1/1:8:9\n"
        "chr1\t20\t.\tC\tG\t5\tPASS\tDP=3;DP=6\tGT:GT:GQ\t0/0:1/1:20\t0/1:0/0:30\n"
    ),
    # zip() cuts a sample shorter than FORMAT; a record may lack FORMAT
    "short_sample": (
        "chr1\t10\t.\tA\tT\t5\tPASS\tDP=3\tGT:GQ:DP:AD\t0/1:30\t.\n"
        "chr1\t20\t.\tC\tG\t5\tPASS\tDP=3\tGQ:GT\t40\t50:1/1:extra\n"
        "chr1\t30\t.\tG\tC\t5\tPASS\tDP=3\n"
    ),
    # an INFO value is everything after the first '='
    "equals_in_value": "chr1\t10\t.\tA\tT\t5\tPASS\tS=a=b;DP=2\tGT\t0/1\t0/0\n",
    # an absent Flag is NULL; a Flag with a value is still set
    "flags": (
        "chr1\t10\t.\tA\tT\t5\tPASS\tDP=1\tGT\t0/1\t0/0\n"
        "chr1\t20\t.\tC\tG\t5\tPASS\tFLAGX=1;DP=1\tGT\t0/1\t0/0\n"
    ),
    # '.' and empty values everywhere
    "dots_and_empties": (
        "chr1\t10\t.\tA\tT\t.\t.\tDP=.;S=;LISTY=1,.,3;;RD=\tGT:GQ:DP:AD\t0/1::.:.\t./.:.::,\n"
        "chr1\t20\t.\tC\tG\t\tPASS\tS=.;LISTY;AF=.\tGT:AD\t0/1:.,4\t1/1:5,.\n"
        "chr1\t30\t.\tG\tC\t7.5\tPASS\t.\tGT:AD\t0/1:3\t./.:\n"
    ),
    # haploid, phased, half-missing, an allele index past ALT
    "genotypes": (
        "chr2\t10\t.\tA\tT\t5\tPASS\tDP=1\tGT\t1\t0\n"
        "chr2\t20\t.\tC\tG\t5\tPASS\tDP=1\tGT\t0|1\t1|.\n"
        "chr2\t30\t.\tG\tC\t5\tPASS\tDP=1\tGT\t./1\t0/2\n"
        "chr2\t40\t.\tG\tC\t5\tPASS\tDP=1\tGT\t0/1/1\t.|.\n"
    ),
    # split: A/R slices, G without a value, counts that do not match
    "multiallelic": (
        "chr1\t10\t.\tA\tG,T\t5\tPASS\tAF=0.1,0.2;RD=1,2,3;GL;DP=4\tGT:AD\t1/2:1,2,3\t0/1:4,5\n"
        "chr1\t20\t.\tC\tG,T,A\t5\tPASS\tAF=0.1;RD=1,2;GL=1,2,3,4,5,6\tGT:AD\t0/3:.\t2|1:1,2,3,4\n"
        "chr1\t30\t.\tG\tC\t5\tPASS\tAF=0.3;RD=7,8;GL=1,2,3\tGT:AD\t0/1:7,8\t0/2:1,2\n"
    ),
}

# the multi-allelic shard of test_vcf_stream.test_stream_decompose_split
STREAM_MULTI = (
    "chr1\t700\t.\tA\tG,T\t40.0\tPASS\tAC=1,2;AF=0.167,0.333;DP=21"
    "\tGT:GQ:DP:AD\t1/2:50:9:1,4,4\t0/1:60:8:4,4,0\t0/0:70:7:7,0,0\n"
)

CASES = {
    **{f"edge_{k}": (test_vcf_edge_cases.HEADER, v, "reject")
       for k, v in test_vcf_edge_cases.BODIES.items()},
    "decompose_split": (test_decompose.HEADER, test_decompose.BODY, "split"),
    "decompose_reject": (test_decompose.HEADER, test_decompose.BODY, "reject"),
    "stream_mini": (mini.HEADER, mini.BODY, "reject"),
    "stream_shard2": (mini.HEADER, SHARD2, "reject"),
    "stream_multi_split": (mini.HEADER, STREAM_MULTI, "split"),
    **{f"new_{k}": (HEADER, v, "split" if k == "multiallelic" else "reject")
       for k, v in EDGE.items()},
    "new_multiallelic_reject": (HEADER, EDGE["multiallelic"], "reject"),
    "new_scalar_list_reject": (
        HEADER, "chr1\t10\t.\tA\tT\t5\tPASS\tS=a,b\tGT\t0/1\t0/0\n", "reject"
    ),
    # a rejected value is rejected even when a later duplicate would win
    "new_duplicate_list_reject": (
        HEADER, "chr1\t10\t.\tA\tT\t5\tPASS\tDP=3,4;DP=6\tGT\t0/1\t0/0\n", "reject"
    ),
    "new_af_count_split": (
        HEADER, "chr1\t10\t.\tA\tT,G\t5\tPASS\tAF=1,2,3\tGT\t0/1\t0/0\n", "split"
    ),
}


#: cases whose BCF twin holds other records or another header than the
#: text: a sample shorter than FORMAT is padded with missing values (an
#: absent GT reads back as '.', which the text rule spells './.'); an
#: undeclared INFO key gains a header line that declares it; empty
#: values read back as '.' and empty INFO items are dropped
BCF_LOSSY = {"new_short_sample", "edge_unknown_info_key", "new_dots_and_empties"}

#: the containers whose lines ``VCFDataSource`` reads
SOURCE_CONTAINERS = ("indexed_bgzf", "bcf")


def text_records(path: str) -> list[list[str]]:
    """The file's records as tab-split fields (universal newlines)."""
    with open(path) as fh:
        return [
            line.rstrip("\n").split("\t")
            for line in fh
            if line.strip("\n") and not line.startswith("#")
        ]


def oracle(path: str, records: list[list[str]], decompose: str):
    """The oracle's rows for ``records`` under ``path``'s header, or the
    message it rejects them with."""
    header = parse_header(read_header_text(path))
    build = _row_builder(header, build_schema(header), decompose)
    try:
        return [row for parts in records for row in build(parts)], None
    except ValueError as exc:
        return None, str(exc)


def containers(tmp_path, text: str) -> dict[str, str]:
    """The fixture as every container ``read_vcf`` reads."""
    plain = tmp_path / "case.vcf"
    plain.write_text(text)
    gz = tmp_path / "case.gzip.vcf.gz"
    with open(plain, "rb") as src, gzip.open(gz, "wb") as dst:
        shutil.copyfileobj(src, dst)
    bgz = str(tmp_path / "case.vcf.gz")
    compress_file(str(plain), bgz)
    indexed = str(tmp_path / "indexed.vcf.gz")
    shutil.copy(bgz, indexed)
    index_vcf(indexed)
    out = {"text": str(plain), "gzip": str(gz), "bgzf": bgz, "indexed_bgzf": indexed}
    out["bcf"] = write_bcf(str(plain), str(tmp_path / "case.bcf"))
    return out


def read_rows(spark, container: str, path: str, decompose: str) -> list[tuple]:
    df = read_vcf(spark, path, decompose=decompose)
    assert df.schema == build_schema(parse_header(read_header_text(path))), container
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("BatchScan vcf" in plan) == (container in SOURCE_CONTAINERS), container
    return [tuple(r) for r in df.collect()]


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    return sorted(a, key=repr) == sorted(b, key=repr)


@pytest.mark.parametrize("case", sorted(CASES))
def test_jvm_builder_matches_python_builder(spark, tmp_path, case):
    header, body, decompose = CASES[case]
    paths = containers(tmp_path, header + body)
    text = oracle(paths["text"], text_records(paths["text"]), decompose)
    assert text[1] or text[0], "fixture parsed to no rows"
    expected = dict.fromkeys(paths, text)
    # the oracle over the header and records the BCF holds: the text's,
    # unless the container cannot represent them
    expected["bcf"] = oracle(paths["bcf"], list(iter_bcf_parts(paths["bcf"])), decompose)
    if case not in BCF_LOSSY:
        (rows, error), (text_rows, text_error) = expected["bcf"], text
        assert error == text_error and (error or same_rows(rows, text_rows))
    for container, path in paths.items():
        rows, error = expected[container]
        if error:
            with pytest.raises(Exception) as got:
                read_rows(spark, container, path, decompose)
            assert error in str(got.value), container
        else:
            assert same_rows(read_rows(spark, container, path, decompose), rows), container


def test_plain_gzip_and_bgzf_parse_alike(spark, tmp_path):
    """The test_bgzf_tabix fixture, multi-block, in every container:
    one row set, the oracle's."""
    paths = containers(tmp_path, _mk_vcf_text(300, seed=3))
    want, error = oracle(paths["text"], text_records(paths["text"]), "reject")
    assert error is None and len(want) == 600
    assert set(paths) == {"text", "gzip", "bgzf", "indexed_bgzf", "bcf"}
    for container, path in paths.items():
        assert same_rows(read_rows(spark, container, path, "reject"), want), container
