"""BCF container + CSI index (r9, VERDICT r8 item 8): the binary twin
of the text VCF source. htslib is absent from this environment, so the
encoder exists as the fixture device; tests prove (a) the decode path
through the FULL Spark source is row-identical to the text read, (b)
spec-level framing bytes, (c) CSI partition pruning and the .csi
fallback for text VCFs, (d) foreign-BCF indexing (index_bcf)."""

from __future__ import annotations

import os
import struct

import pytest

from tests.fixtures.make_mini_vcf import write_fixture
from vcf2db_spark.sources.bcf import (
    BCF_MAGIC,
    BCFCodec,
    index_bcf,
    is_bcf,
    iter_bcf_parts,
    read_bcf_header_text,
    write_bcf,
)
from vcf2db_spark.sources.csi import (
    CSIBuilder,
    read_csi,
    reg2bin_csi,
    reg2bins_csi,
    write_csi,
)
from vcf2db_spark.sources.tabix import reg2bin, reg2bins


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bcf"))
    vcf, ped = write_fixture(d)
    bcf = os.path.join(d, "mini.bcf")
    write_bcf(vcf, bcf, index_path=bcf + ".csi")
    return vcf, bcf


def _rows(df):
    return sorted(
        (r.asDict(recursive=True) for r in df.collect()),
        key=lambda r: (r["chrom"], r["start"]),
    )


def test_bcf_rows_identical_to_text(spark, paths):
    """The headline round trip: reading the BCF through the Spark
    source yields row-for-row the SAME DataFrame as the text VCF —
    every INFO type (incl. Flag, dotted names, A-numbered), CSQ,
    genotype arrays, phased/missing GTs, float32-exact values."""
    from vcf2db_spark.sources.vcf import read_vcf

    vcf, bcf = paths
    assert _rows(read_vcf(spark, vcf)) == _rows(read_vcf(spark, bcf))


def test_load_vcf_reads_bcf(spark, paths):
    """``load_vcf`` (and so the CLI) takes a BCF: the header is read
    from the binary container, and the ``variants`` rows equal those of
    the text twin, ``variant_id`` included."""
    from vcf2db_spark.pipeline import load_vcf

    vcf, bcf = paths
    got = {}
    for path in (vcf, bcf):
        tables = load_vcf(spark, path)
        got[path] = _rows(tables.variants)
        tables.cached.unpersist()
    assert len(got[vcf]) == 6 and got[bcf] == got[vcf]


def test_bcf_magic_and_framing(paths):
    """Spec-level container bytes: BGZF-wrapped magic + l_text + header
    text, then l_shared/l_indiv framed records whose shared prefix
    carries (rid, pos0, rlen) — asserted against the known fixture."""
    from vcf2db_spark.sources.bgzf import BGZFReader, is_bgzf

    _, bcf = paths
    assert is_bgzf(bcf) and is_bcf(bcf)
    with BGZFReader(bcf) as rd:
        assert rd.read(5) == BCF_MAGIC
        (l_text,) = struct.unpack("<I", rd.read(4))
        text = rd.read(l_text)
        assert text.endswith(b"\x00")
        assert text.startswith(b"##fileformat=VCFv4.2")
        l_shared, l_indiv = struct.unpack("<II", rd.read(8))
        shared = rd.read(l_shared)
        rid, pos, rlen = struct.unpack_from("<iii", shared, 0)
        assert (rid, pos, rlen) == (0, 99, 1)  # chr1:100 ref=A
        (n_allele_info,) = struct.unpack_from("<I", shared, 16)
        assert n_allele_info >> 16 == 2  # REF + 1 ALT
        assert l_indiv > 0  # 3 samples × GT:GQ:DP:AD


def test_bcf_header_gains_undeclared_filters(paths):
    """htslib rule: body FILTER names with no header line get ##FILTER
    entries added on write (the string dictionary indexes declared IDs
    only); everything else of the header is carried verbatim."""
    vcf, bcf = paths
    ht = read_bcf_header_text(bcf)
    assert "##FILTER=<ID=q10" in ht and "##FILTER=<ID=lowq" in ht
    orig = [
        ln
        for ln in open(vcf).read().splitlines()
        if ln.startswith("#")
    ]
    got = ht.splitlines()
    assert [ln for ln in got if not ln.startswith("##FILTER=")] == orig


def test_bcf_undeclared_format_key_round_trips(spark, tmp_path):
    """htslib rule: a FORMAT key with no header line gains a one-value
    String ``##FORMAT`` line on write, so the record still encodes; the
    BCF decodes to the text records and reads as the text VCF reads."""
    from vcf2db_spark.sources.vcf import read_vcf

    vcf = tmp_path / "undeclared.vcf"
    vcf.write_text(
        "##fileformat=VCFv4.2\n"
        "##contig=<ID=chr1,length=1000>\n"
        "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">\n"
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="gt">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n"
        "chr1\t10\t.\tA\tT\t5\tPASS\tDP=3\tGT:XF\t0/1:ab\t1/1:cd\n"
        "chr1\t20\t.\tC\tG\t5\tPASS\tDP=4\tGT:XF\t0/0:e\t./.:.\n"
    )
    bcf = write_bcf(str(vcf), str(tmp_path / "undeclared.bcf"))
    assert '##FORMAT=<ID=XF,Number=1,Type=String,Description="added on BCF write">' in (
        read_bcf_header_text(bcf)
    )
    body = [ln.split("\t") for ln in vcf.read_text().splitlines() if not ln.startswith("#")]
    assert list(iter_bcf_parts(bcf)) == body
    assert _rows(read_vcf(spark, bcf)) == _rows(read_vcf(spark, str(vcf)))


def test_bcf_contig_scan_and_gt_decode(paths):
    """Filtered framed scan + the GT edge cases: phased 1|1, missing
    ./., half-call ./1 all reconstruct their text forms."""
    _, bcf = paths
    chr2 = list(iter_bcf_parts(bcf, "chr2"))
    assert [p[1] for p in chr2] == ["150", "250"]
    allp = list(iter_bcf_parts(bcf))
    by_pos = {(p[0], p[1]): p for p in allp}
    assert by_pos[("chr1", "100")][11].startswith("1|1")  # phased NA003
    assert by_pos[("chr1", "200")][10].startswith("./.")  # missing NA002
    assert by_pos[("chr2", "250")][11].startswith("./1")  # half-call


def test_csi_partition_pruning(spark, paths):
    """Pushed-down chrom/locus predicates prune PARTITIONS through the
    CSI (not just rows through the residual filter)."""
    from vcf2db_spark.sources.vcf import VCFReader

    _, bcf = paths
    reader = VCFReader({"path": bcf})
    assert reader.is_bcf and reader.index is not None
    assert len(reader.partitions()) == 2  # one per contig
    reader.chrom_in = {"chr2"}
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].contig == "chr2"
    # locus window inside chr1: the other contig is gone and the chunk
    # read applies the [beg, end) residual
    reader2 = VCFReader({"path": bcf})
    reader2.chrom_in, reader2.beg, reader2.end = {"chr1"}, 250, 350
    rows = [
        tuple(p[:2])
        for part in reader2.partitions()
        for p in iter_bcf_parts(bcf, part.contig)
        if 250 <= int(p[1]) - 1 < 350
    ]
    assert rows == [("chr1", "300")]
    # end-to-end through Spark with the pushdown
    from vcf2db_spark.sources.vcf import read_vcf

    got = read_vcf(spark, bcf).filter(
        "chrom = 'chr1' AND start >= 250 AND start < 350"
    )
    assert [r["start"] for r in got.collect()] == [299]


def test_index_bcf_builds_csi_for_foreign_file(spark, tmp_path):
    """A BCF arriving WITHOUT an index: index='build' creates the .csi
    in one framed pass (bcftools index parity) and the seek read
    matches the full scan."""
    from vcf2db_spark.sources.vcf import read_vcf

    d = str(tmp_path)
    vcf, _ = write_fixture(d)
    bcf = os.path.join(d, "mini.bcf")
    write_bcf(vcf, bcf)  # no index
    assert not os.path.exists(bcf + ".csi")
    out = index_bcf(bcf)
    assert out == bcf + ".csi" and os.path.exists(out)
    got = read_vcf(spark, bcf)
    assert got.count() == 6
    assert _rows(got) == _rows(read_vcf(spark, vcf))


def test_csi_over_text_vcf_gz(spark, tmp_path):
    """.csi fallback for bgzipped TEXT VCFs (tabix -C parity): with no
    .tbi present the reader picks up {path}.csi and seek-reads."""
    from vcf2db_spark.sources.bgzf import BGZFReader, compress_file
    from vcf2db_spark.sources.vcf import read_vcf

    d = str(tmp_path)
    vcf, _ = write_fixture(d)
    gz = vcf + ".gz"
    compress_file(vcf, gz)
    contigs = ["chr1", "chr2"]
    builder = CSIBuilder()
    with BGZFReader(gz) as rd:
        while True:
            vbeg = rd.tell_virtual()
            line = rd.readline()
            if not line:
                break
            if line.startswith(b"#"):
                continue
            parts = line.split(b"\t", 4)
            beg = int(parts[1]) - 1
            builder.add(
                contigs.index(parts[0].decode()), beg,
                beg + len(parts[3]), vbeg, rd.tell_virtual(),
            )
    write_csi(builder.build(names=contigs), gz + ".csi")
    assert not os.path.exists(gz + ".tbi")
    got = read_vcf(spark, gz)
    assert got.count() == 6
    assert got.filter("chrom = 'chr2'").count() == 2


def test_csi_codec_round_trip(tmp_path):
    """write_csi → read_csi preserves bins, chunks, loffsets, names,
    and the (min_shift, depth) parameters."""
    b = CSIBuilder(min_shift=14, depth=5)
    b.add(0, 100, 200, 1 << 16, 2 << 16)
    b.add(0, 300, 400, 2 << 16, 3 << 16)
    b.add(1, 50, 60, 3 << 16, 4 << 16)
    idx = b.build(names=["c1", "c2"])
    p = str(tmp_path / "t.csi")
    write_csi(idx, p)
    got = read_csi(p)
    assert got.names == ["c1", "c2"]
    assert got.min_shift == 14 and got.depth == 5
    assert got.chunks("c1", 0, 500) == [(1 << 16, 3 << 16)]
    assert got.chunks("c2") == [(3 << 16, 4 << 16)]
    assert got.chunks("c1", 100000, 200000) == []


def test_reg2bin_csi_matches_tabix_at_default_params():
    """At (min_shift=14, depth=5) the generalized CSI binning IS the
    tabix scheme — same bin numbers, same candidate sets."""
    cases = [(0, 1), (0, 16384), (100, 200), (16384, 16385),
             (1 << 20, (1 << 20) + 5000), (1 << 28, (1 << 28) + 1)]
    for beg, end in cases:
        assert reg2bin_csi(beg, end) == reg2bin(beg, end)
        assert sorted(set(reg2bins_csi(beg, end))) == sorted(set(reg2bins(beg, end)))


def test_bcf_version_magic_rejected(tmp_path):
    """BCF1 (samtools-era) and future-version magics share the 3-byte
    prefix but use different record framing — they must fail BY NAME,
    not decode garbage with BCF2.2 rules (ADVICE r9)."""
    from vcf2db_spark.sources.bgzf import BGZFWriter

    def mk(magic: bytes) -> str:
        p = str(tmp_path / f"v_{magic.hex()}.bcf")
        with BGZFWriter(p) as w:
            w.write(magic + struct.pack("<I", 4) + b"##\x00\x00")
        return p

    bcf1 = mk(b"BCF\x01\x02")
    future = mk(b"BCF\x02\x03")
    ok = mk(b"BCF\x02\x01")  # minor 2.1 < 2.2: accepted
    assert not is_bcf(bcf1) and not is_bcf(future)
    assert is_bcf(ok)
    with pytest.raises(ValueError, match="unsupported BCF version 1.2"):
        read_bcf_header_text(bcf1)
    with pytest.raises(ValueError, match="unsupported BCF version 2.3"):
        read_bcf_header_text(future)
    assert read_bcf_header_text(ok) == "##"


def test_csi_planner_honors_idx_overrides(spark, tmp_path):
    """A reheadered BCF can carry out-of-order IDX= contig slots: the
    record rids follow the IDX numbering, not header file order. When
    the .csi carries no aux names (htslib writes l_aux=0 for BCF), the
    planner's name→rid map must use the IDX-aware dictionary or it
    reads the WRONG contig's chunks and the residual filter silently
    empties the result (ADVICE r9, reproduced pre-fix)."""
    import dataclasses

    from vcf2db_spark.sources.vcf import read_vcf

    header = (
        "##fileformat=VCFv4.2\n"
        "##contig=<ID=chrA,length=1000000,IDX=1>\n"
        "##contig=<ID=chrB,length=1000000,IDX=0>\n"
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">\n'
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n'
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA001\n"
    )
    body = (  # rid order (chrB=0 first), as bcftools sort would emit
        "chrB\t100\t.\tA\tG\t9.0\tPASS\tDP=5\tGT\t0/1\n"
        "chrB\t200\t.\tC\tT\t9.0\tPASS\tDP=6\tGT\t1/1\n"
        "chrA\t150\t.\tG\tA\t9.0\tPASS\tDP=7\tGT\t0/0\n"
        "chrA\t300\t.\tT\tC\t9.0\tPASS\tDP=8\tGT\t0/1\n"
    )
    vcf = str(tmp_path / "idx.vcf")
    with open(vcf, "w") as fh:
        fh.write(header + body)
    bcf = str(tmp_path / "idx.bcf")
    csi = bcf + ".csi"
    write_bcf(vcf, bcf, index_path=csi)
    # strip the embedded aux names to emulate an htslib-written BCF CSI
    write_csi(dataclasses.replace(read_csi(csi), names=[]), csi)
    got = read_vcf(spark, bcf).filter("chrom = 'chrA'")
    assert sorted(r["start"] for r in got.collect()) == [149, 299]
    assert read_vcf(spark, bcf).count() == 4


def test_csi_loffset_splitting_tiles_exactly(tmp_path):
    """partition_chunks must fan a single merged whole-contig chunk out
    into multiple record-aligned groups (cut at per-bin loffsets — each
    an exact record start), and the groups must TILE the contig: reading
    every group yields each record exactly once, in file order. Without
    loffset cuts a contiguous contig can never split past one task, so a
    small-but-decode-expensive cohort file would serialize on one core."""
    from tests.fixtures.make_mini_vcf import write_fixture
    from vcf2db_spark.sources.bcf import iter_bcf_chunk_parts
    from vcf2db_spark.sources.csi import read_csi

    # ~4k records on one contig spread over >16 kb of locus space so the
    # builder records many per-bin loffsets
    d = str(tmp_path)
    vcf = os.path.join(d, "wide.vcf")
    with open(vcf, "w") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        fh.write("##contig=<ID=chr1>\n")
        fh.write('##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n')
        fh.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n")
        for i in range(4000):
            fh.write(
                f"chr1\t{100 + i * 50}\t.\tA\tG\t10\tPASS\tDP={i % 97}\n"
            )
    bcf = os.path.join(d, "wide.bcf")
    write_bcf(vcf, bcf, index_path=bcf + ".csi")
    idx = read_csi(bcf + ".csi", names=["chr1"])

    merged = idx.chunks("chr1", 0, None)
    assert len(merged) == 1  # contiguous records merge to one chunk
    groups = idx.partition_chunks("chr1", 0, None, target_bytes=4 << 10)
    assert len(groups) > 4  # the split actually fans out

    starts = [
        int(p[1])
        for g in groups
        for p in iter_bcf_chunk_parts(bcf, g, 0, 1 << 40)
    ]
    expect = [100 + i * 50 for i in range(4000)]
    assert starts == expect  # no record skipped or read twice
