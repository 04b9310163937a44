"""VCF reader for Spark (SURVEY.md §2A A1).

Spark-first replacement for the reference's cyvcf2/htslib streaming loop
[U vcf2db.py §VCFDB.load ~L640]. The schema comes from the VCF header
(A2, ``header.build_schema``). One function, ``vcf_columns``, turns VCF
record lines into typed rows, whatever container the lines came from:
Spark SQL over a frame with a ``value`` column, split on tab and typed by
Spark expressions (INFO fields by their header type, per-sample
GT/GQ/DP/AD through ``transform``, ``decompose='split'`` as a
``posexplode`` over ALT). No Python worker types a record.

The lines come from one of two places.

**Plain text, plain gzip, and BGZF with no index:** ``spark.read.text``.
With ``partition_by_contig`` the lines are hash-partitioned by contig
before the parse, into one partition per header contig (at most
``spark.sql.shuffle.partitions``).

**BCF, and BGZF with a ``.tbi``/``.csi`` index: the Python DataSource**
(``VCFDataSource``), for what only Python code here can do. Each
partition is one (contig, index chunk range): it seeks to its
virtual-offset range and inflates only those blocks (``sources.bgzf`` /
``sources.tabix`` / ``sources.csi``), so a multi-gigabyte file
decompresses in parallel; BCF records are decoded back to their text
fields (``sources.bcf``). Pushed-down ``chrom``/``start``/``end``
predicates (``pushFilters``) prune partitions and narrow the chunk
ranges — the distributed twin of a tabix region query. The source's rows
are the record lines plus their locus (``LINE_SCHEMA``); ``vcf_columns``
passes that locus through untouched, so Spark still pushes locus
predicates on the parsed frame down to the source.

Genotype matrices land as typed arrays; Parquet page compression
replaces the reference's snappy blobs (A8) — the byte-parity codec lives
in ``functions.codecs``.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from vcf2db_spark.session import pin_session_conf
from vcf2db_spark.sources.header import (
    GT_COLUMNS,
    VCFHeader,
    build_schema,
    info_fields,
    parse_header,
    read_header_text,
)

MISSING_INT = -1  # cyvcf2's missing-depth/qual sentinel
_MAX_POS = 1 << 29  # tabix coordinate ceiling

#: how the parser tells the user to decompose: a multi-allelic record
#: under decompose='reject', a multi-value Number=1/A INFO value
_SPLIT_HINT = (
    "input must be decomposed — run `vt decompose` first, or read with decompose='split'."
)
_DECOMPOSED_HINT = (
    "input must be decomposed (one ALT per record) — "
    "run `vt decompose` / `bcftools norm -m-` first."
)

#: what ``VCFDataSource`` reads: each record line with its locus (0-based
#: start, end = start + len(REF)) for pushdown
LINE_SCHEMA = T.StructType([
    T.StructField("chrom", T.StringType(), False),
    T.StructField("start", T.LongType(), False),
    T.StructField("end", T.LongType(), False),
    T.StructField("value", T.StringType(), True),
])


@dataclass
class ContigPartition(InputPartition):
    contig: str | None  # None → whole file (unpartitioned fallback)
    #: tabix chunk ranges [(vbeg, vend), ...] — when set, the reader seeks
    #: instead of scanning
    chunks: list[tuple[int, int]] | None = None
    #: residual locus window [beg, end) applied during the seek-read
    beg: int = 0
    end: int = _MAX_POS


def _q(text: str) -> str:
    """A Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_format(template: str) -> str:
    """SQL ``concat`` of ``template`` with each ``{expr}`` replaced by that
    SQL expression's value."""
    pieces = re.split(r"\{([^{}]*)\}", template)
    return "concat(" + ", ".join(p if i % 2 else _q(p) for i, p in enumerate(pieces)) + ")"


def _int_or_missing(val: str) -> str:
    """A FORMAT integer: absent, '.' or '' → the -1 sentinel."""
    return (
        f"CASE WHEN {val} IS NULL OR {val} IN ('.', '') THEN {MISSING_INT} "
        f"ELSE CAST({val} AS INT) END"
    )


def _last_index(key: str) -> str:
    """0-based index of the LAST ``key`` in FORMAT (``dict(zip(...))``
    keeps the last duplicate), -1 when absent."""
    hit = f"array_position(reverse(_fmt), {_q(key)})"
    return f"size(_fmt) - coalesce(nullif({hit}, 0), size(_fmt) + 1)"


def vcf_columns(
    lines: DataFrame,
    header: VCFHeader,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    decompose: str = "reject",
) -> DataFrame:
    """Parse a frame of VCF text lines into the variants schema,
    ``build_schema(header, black_list, include_genotypes)`` exactly,
    nullability included. This is the package's one VCF record parser.

    ``lines`` has a ``value`` column, as ``spark.read.text`` /
    ``readStream.text`` give it, or ``VCFDataSource``'s four columns
    (``LINE_SCHEMA``). In the second case the output's ``chrom``,
    ``start`` and ``end`` are the source's own columns, unchanged, so
    Catalyst pushes predicates on them through the parse into
    ``pushFilters``.

    The rules: a duplicate INFO or FORMAT key keeps its last value, a
    sample shorter than FORMAT is cut short, an INFO value is everything
    after the first '=', an absent Flag is NULL. Header and empty lines
    are skipped. A multi-allelic record under ``decompose='reject'``, a
    multi-value Number=1/A INFO field and a malformed line raise
    (``raise_error``), whichever columns a query keeps.
    ``decompose='split'`` is a ``posexplode`` over ALT that slices
    Number=A/R values and drops Number=G ones (vt decompose -s). The
    plain-Python statement of the same rules is kept as the test oracle
    (``tests/vcf_row_oracle.py``). The expressions are SQL text: one call
    into the JVM per column rather than one per function."""
    split = decompose.lower() == "split"
    schema = build_schema(header, black_list=black_list, include_genotypes=include_genotypes)
    infos = info_fields(header, black_list)
    has_gts = "gts" in schema.fieldNames()
    # the source's locus columns, carried through every stage as-is
    has_locus = {"chrom", "start", "end"} <= set(lines.columns)
    locus = ["`chrom`", "`start`", "`end`"] if has_locus else []

    # Header and empty lines become NULL rather than being filtered out
    # first: Spark merges a query's pushed-down predicates into the same
    # filter and may evaluate their casts before this one, and a cast of
    # "POS" would raise.
    parts = lines.selectExpr(
        *locus,
        r"split(CASE WHEN value <> '' AND NOT startswith(value, '#') THEN value END, '\t') AS _p"
    )
    parsed = parts.selectExpr(
        *locus,
        "_p IS NOT NULL AS _record",
        "size(_p) AS _ncols",
        "get(_p, 0) AS _chrom",
        "get(_p, 1) AS _pos",
        "get(_p, 3) AS _ref",
        "get(_p, 4) AS _alts",
        "size(split(get(_p, 4), ',')) AS _nalts",
        "get(_p, 5) AS _qual",
        "get(_p, 6) AS _filter",
        # [key, value] per INFO item: the value is everything after the
        # first '=', NULL for a bare key
        "transform(split(get(_p, 7), ';'), x -> split(x, '=', 2)) AS _info",
        "CASE WHEN size(_p) > 8 THEN split(get(_p, 8), ':') "
        "ELSE CAST(array() AS ARRAY<STRING>) END AS _fmt",
        "transform(slice(_p, 10, size(_p)), x -> split(x, ':')) AS _samples",
    )
    # a record is rewritten per alt only when it has several
    multi = "_nalts > 1" if split else "false"
    where = "{concat_ws(':', _chrom, _pos)}"
    checks = [
        ("_ncols < 8", f"malformed VCF record (fewer than 8 columns) at {where}"),
        ("try_cast(_pos AS BIGINT) IS NULL", f"malformed VCF POS at {where}"),
    ]
    if not split:
        checks.append((
            "_nalts > 1", "multi-allelic record at {_chrom}:{_pos} (ALT='{_alts}'); " + _SPLIT_HINT
        ))
    scalars = [(fid, fd) for fid, fd in infos if fd.type != "Flag" and not fd.is_list]
    if scalars:
        # a comma in a Number=1/A value (after the per-alt slice, in split
        # mode) is a record the parser rejects
        def ids(defs):
            return ", ".join(_q(fid) for fid, _fd in defs) or "NULL"

        sliced_a = [(fid, fd) for fid, fd in scalars if split and fd.number == "A"]
        others = [(fid, fd) for fid, fd in scalars if not (split and fd.number == "A")]
        bad = (
            f"e -> instr(get(e, 1), ',') > 0 AND (e[0] IN ({ids(others)}) OR "
            f"(e[0] IN ({ids(sliced_a)}) AND "
            f"NOT ({multi} AND size(split(get(e, 1), ',')) = _nalts)))"
        )
        first = f"filter(_info, {bad})[0]"
        numbers = "map(" + ", ".join(f"{_q(fid)}, {_q(fd.number)}" for fid, fd in scalars) + ")"
        checks.append((
            f"exists(_info, {bad})",
            f"INFO field {{{first}[0]}} (Number={{try_element_at({numbers}, {first}[0])}}) "
            f"has multiple values ('{{get({first}, 1)}}'); " + _DECOMPOSED_HINT,
        ))
    guard = "CASE WHEN NOT _record THEN false " + " ".join(
        f"WHEN {cond} THEN raise_error({_sql_format(msg)})" for cond, msg in checks
    ) + " ELSE true END"
    parsed = parsed.filter(F.expr(guard))

    indices = [f"{_last_index(k)} AS _i{k}" for k in ("GT", "GQ", "DP", "AD")]
    if split:
        parsed = parsed.selectExpr(
            "*", *indices, f"{multi} AS _multi", "posexplode(split(_alts, ',')) AS (_ai, _alt)"
        )
    else:
        parsed = parsed.selectExpr("*", *indices, "false AS _multi", "0 AS _ai", "_alts AS _alt")

    # stage 1: the string value of each INFO field (its last item), and
    # the per-sample calls
    stage1 = [
        *locus, "_chrom", "_pos", "_ref", "_alt", "_qual", "_filter", "_multi", "_nalts", "_ai"
    ]
    for i, (fid, fd) in enumerate(infos):
        keep = f"e[0] = {_q(fid)}"
        if split and fd.number == "G":
            keep += " AND (NOT _multi OR get(e, 1) IS NULL)"  # dropped when split
        items = f"filter(_info, e -> {keep})"
        if fd.type == "Flag":
            stage1.append(f"CASE WHEN size({items}) > 0 THEN true END AS _v{i}")
        else:
            stage1.append(f"get(try_element_at({items}, -1), 1) AS _v{i}")
    if has_gts:
        # vt decompose -s on a split record: allele 0 → 0, this alt → 1,
        # any other alt → '.'
        allele = (
            "t -> CASE WHEN t IN ('.', '') THEN NULL WHEN NOT _multi THEN CAST(t AS INT) "
            "WHEN CAST(t AS INT) = 0 THEN 0 WHEN CAST(t AS INT) = _ai + 1 THEN 1 END"
        )
        sample = (
            "s -> named_struct("
            "'gt', coalesce(get(s, _iGT), './.'), "
            "'a', transform(split(translate(coalesce(get(s, _iGT), './.'), '|', '/'), '/'), "
            f"{allele}), "
            "'gq', get(s, _iGQ), 'dp', get(s, _iDP), 'ad', split(get(s, _iAD), ','))"
        )
        bases = (
            "transform(c.a, x -> CASE WHEN x IS NULL THEN '.' WHEN x = 0 THEN _ref ELSE _alt END)"
        )
        alt_slot = "CASE WHEN _multi AND size(c.ad) = _nalts + 1 THEN _ai + 1 ELSE 1 END"
        call = (
            "c -> named_struct("
            f"'gts', CASE WHEN instr(c.gt, '|') > 0 THEN array_join({bases}, '|') "
            f"ELSE array_join({bases}, '/') END, "
            "'gt_types', CASE WHEN exists(c.a, x -> x IS NULL) THEN 2 "
            "WHEN forall(c.a, x -> x = 0) THEN 0 WHEN forall(c.a, x -> x > 0) THEN 3 ELSE 1 END, "
            "'gt_phases', instr(c.gt, '|') > 0, "
            f"'gt_depths', {_int_or_missing('c.dp')}, "
            f"'gt_ref_depths', CASE WHEN size(c.ad) >= 2 "
            f"THEN {_int_or_missing('get(c.ad, 0)')} ELSE {MISSING_INT} END, "
            f"'gt_alt_depths', CASE WHEN size(c.ad) >= 2 "
            f"THEN {_int_or_missing(f'get(c.ad, {alt_slot})')} ELSE {MISSING_INT} END, "
            f"'gt_quals', {_int_or_missing('c.gq')})"
        )
        stage1.append(f"transform(transform(_samples, {sample}), {call}) AS _calls")
    stage1_df = parsed.selectExpr(*stage1)

    # stage 2: the columns in schema order, typed by a cast to the
    # schema's type ('.' → NULL first). The locus columns are non-nullable
    # as in build_schema: the guard raised on any record their defaults
    # could stand in for.
    start = "CAST(_pos AS BIGINT) - 1"
    out = [
        "coalesce(_chrom, '')",
        f"coalesce({start}, 0)",
        f"coalesce({start} + length(_ref), 0)",
        "coalesce(_ref, '')",
        "coalesce(_alt, '')",
        "CASE WHEN _qual IN ('.', '') THEN NULL ELSE _qual END",
        "CASE WHEN _filter IN ('.', 'PASS') THEN NULL ELSE _filter END",
    ]
    for i, (fid, fd) in enumerate(infos):
        val = f"_v{i}"
        if fd.type == "Flag":
            out.append(val)
            continue
        if split and fd.number == "A":
            val = (
                f"CASE WHEN _multi AND size(split({val}, ',')) = _nalts "
                f"THEN get(split({val}, ','), _ai) ELSE {val} END"
            )
        elif split and fd.number == "R":
            val = (
                f"CASE WHEN _multi AND size(split({val}, ',')) = _nalts + 1 "
                f"THEN concat(get(split({val}, ','), 0), ',', get(split({val}, ','), _ai + 1)) "
                f"ELSE {val} END"
            )
        if fd.is_list:
            out.append(
                f"CASE WHEN {val} IS NULL OR {val} = '' THEN NULL "
                f"ELSE transform(split({val}, ','), x -> nullif(x, '.')) END"
            )
        else:
            out.append(f"nullif({val}, '.')")
    out += [f"_calls.{name}" for name, _dt in GT_COLUMNS] if has_gts else []
    cols = [
        f"CAST({e} AS {f.dataType.simpleString()}) AS `{f.name}`"
        for e, f in zip(out, schema.fields)
    ]
    cols[: len(locus)] = locus  # chrom, start, end lead the schema
    return stage1_df.selectExpr(*cols)


def _bgzf_records(path: str, partition: ContigPartition):
    """Tabix-seek read: inflate only the partition's BGZF chunk ranges and
    keep the records overlapping its [beg, end) locus window — the
    htslib region-query loop, per Spark partition."""
    from vcf2db_spark.sources.bgzf import BGZFReader

    beg, end = partition.beg, partition.end
    with BGZFReader(path) as rd:
        for vbeg, vend in partition.chunks or ():
            rd.seek_virtual(vbeg)
            while rd.tell_virtual() < vend:
                line = rd.readline()
                if not line:
                    break
                text = line.rstrip(b"\r\n").decode()
                if not text or text.startswith("#"):
                    continue
                chrom, pos, _vid, ref = text.split("\t", 4)[:4]
                rec_beg = int(pos) - 1
                rec_end = rec_beg + len(ref)
                if rec_beg < end and rec_end > beg:
                    yield chrom, rec_beg, rec_end, text


def _bcf_records(path: str, partition: ContigPartition):
    """The BCF twin: a CSI-seek chunk read when the partition carries
    chunk ranges, else a filtered framed scan; each binary record is
    decoded to its text fields (``sources.bcf``)."""
    from vcf2db_spark.sources import bcf

    if partition.chunks is not None:  # [] = provably-empty partition
        src = bcf.iter_bcf_chunk_parts(path, partition.chunks, partition.beg, partition.end)
    else:
        src = bcf.iter_bcf_parts(path, partition.contig)
    for parts in src:
        rec_beg = int(parts[1]) - 1
        yield parts[0], rec_beg, rec_beg + len(parts[3]), "\t".join(parts)


class VCFReader(DataSourceReader):
    #: rows per Arrow RecordBatch — large enough to amortize the
    #: columnarization, small enough to keep per-batch memory flat
    BATCH_ROWS = 4096

    def __init__(self, options: dict):
        # Spark passes reader options through a case-insensitive map that
        # LOWERCASES keys — read camelCase options via their lowercase form
        # (with the original spelling as a fallback for direct construction
        # in unit tests).
        def opt(key: str, default: str) -> str:
            return options.get(key.lower(), options.get(key, default))

        self.path = options["path"]
        from vcf2db_spark.sources.bcf import is_bcf

        self.is_bcf = is_bcf(self.path)
        self.header = parse_header(read_header_text(self.path))
        split = opt("partitionByContig", "true").lower() == "true"
        self.contigs = self.header.contigs if split else []
        #: target COMPRESSED bytes per partition for intra-contig splitting
        #: (VERDICT r5 item 5): a whole-genome single-contig VCF must not
        #: collapse to one task. 0 disables (one partition per contig).
        self.split_bytes = int(opt("targetPartitionBytes", str(64 << 20)))
        # pushed-down locus constraints (pushFilters fills these)
        self.chrom_in: set[str] | None = None
        self.beg, self.end = 0, _MAX_POS
        self.index = self._load_index(options.get("index", "auto").lower())
        if self.index is None and not self.is_bcf:
            raise ValueError(
                f"{self.path}: a text VCF without a .tbi/.csi index is read "
                "by read_vcf with spark.read.text, not this source"
            )

    def _load_index(self, mode: str):
        """Index handling: ``auto`` uses ``{path}.tbi`` (text VCF) or
        ``{path}.csi`` (either container — bcftools indexes BCF with CSI
        natively and tabix -C writes CSI over .vcf.gz) when present,
        ``build`` creates the container's native index driver-side if
        missing (one sequential pass — the same cost tabix/bcftools
        index pays), ``none`` disables seeks. TabixIndex and CSIIndex
        expose the same planner surface (names/chunks/partition_chunks),
        so everything downstream is index-format-agnostic."""
        if mode == "none":
            return None
        if self.is_bcf:
            from vcf2db_spark.sources.bcf import (
                header_dicts,
                index_bcf,
                read_bcf_header_text,
            )
            from vcf2db_spark.sources.csi import read_csi

            csi = self.path + ".csi"
            if not os.path.exists(csi):
                if mode != "build":
                    return None
                index_bcf(self.path, csi)
            # rid numbering MUST match the decode path: explicit IDX=
            # overrides (bcftools reheader can pin out-of-order slots)
            # reorder the contig dictionary away from header file order,
            # and a planner keyed on file order would prune the wrong
            # partitions silently — use the IDX-aware dictionary
            contigs, _ = header_dicts(read_bcf_header_text(self.path))
            return read_csi(csi, names=contigs)
        if not self.path.endswith(".gz"):
            return None
        from vcf2db_spark.sources.bgzf import is_bgzf
        from vcf2db_spark.sources.tabix import index_vcf, read_tbi

        if not is_bgzf(self.path):
            return None
        tbi = self.path + ".tbi"
        if not os.path.exists(tbi):
            csi = self.path + ".csi"
            if os.path.exists(csi):
                from vcf2db_spark.sources.csi import read_csi

                return read_csi(csi, names=self.header.contigs)
            if mode != "build":
                return None
            index_vcf(self.path, tbi)
        return read_tbi(tbi)

    def pushFilters(self, filters: list[Filter]):
        """Capture chrom/start/end constraints for partition pruning and
        chunk narrowing. Every filter is returned (Spark re-applies them),
        so pruning only ever has to be a safe over-approximation."""
        for f in filters:
            attr = f.attribute[0] if len(f.attribute) == 1 else None
            if isinstance(f, EqualTo) and attr == "chrom":
                vals = {f.value}
                self.chrom_in = vals if self.chrom_in is None else self.chrom_in & vals
            elif isinstance(f, In) and attr == "chrom":
                vals = set(f.value)
                self.chrom_in = vals if self.chrom_in is None else self.chrom_in & vals
            elif attr == "start" and isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                v = f.value + 1 if isinstance(f, GreaterThan) else f.value
                self.beg = max(self.beg, int(v))
            elif attr == "start" and isinstance(f, (LessThan, LessThanOrEqual)):
                # records with start < v overlap [beg, v+1) by rec_beg < end
                v = f.value + 1 if isinstance(f, LessThanOrEqual) else f.value
                self.end = min(self.end, int(v))
            elif attr == "end" and isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                # records with end > v overlap [v, ...): rec_end > beg
                v = f.value if isinstance(f, GreaterThan) else f.value - 1
                self.beg = max(self.beg, int(v))
        return filters

    def partitions(self):
        contigs = self.contigs or (self.index.names if self.index else [])
        if self.chrom_in is not None:
            contigs = [c for c in contigs if c in self.chrom_in]
        if self.index is not None:
            parts = []
            for c in contigs:
                if self.split_bytes > 0:
                    # N partitions per contig over disjoint chunk ranges,
                    # cut at linear-index record starts (~split_bytes
                    # compressed each) — intra-contig parallelism for the
                    # single-contig / skewed-contig file.
                    for sub in self.index.partition_chunks(
                        c, self.beg, self.end, self.split_bytes
                    ):
                        parts.append(ContigPartition(c, sub, self.beg, self.end))
                else:
                    chunks = self.index.chunks(c, self.beg, self.end)
                    if chunks:
                        parts.append(
                            ContigPartition(c, chunks, self.beg, self.end)
                        )
            # all partitions pruned → one empty partition (Spark needs ≥1)
            return parts or [ContigPartition(None, [], self.beg, self.end)]
        if contigs:
            return [ContigPartition(c) for c in contigs]
        if self.chrom_in is not None and self.contigs:
            return [ContigPartition(None, [])]  # pruned to nothing
        return [ContigPartition(None)]

    def read(self, partition: ContigPartition):
        """Columnar RecordBatches of ``LINE_SCHEMA`` rather than per-row
        tuples: no per-row pickle on the executor↔Python boundary."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(LINE_SCHEMA)
        records = (_bcf_records if self.is_bcf else _bgzf_records)(self.path, partition)
        buf: list[tuple] = []
        for rec in records:
            buf.append(rec)
            if len(buf) >= self.BATCH_ROWS:
                yield _to_record_batch(buf, arrow_schema, pa)
                buf = []
        if buf:
            yield _to_record_batch(buf, arrow_schema, pa)


def _to_record_batch(rows: list[tuple], arrow_schema, pa):
    cols = list(zip(*rows))
    arrays = [
        pa.array(col, type=field.type)
        for col, field in zip(cols, arrow_schema)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


class VCFDataSource(DataSource):
    """``spark.read.format("vcf").load(path)`` after
    ``spark.dataSource.register(VCFDataSource)``: the record lines of a
    BCF or an indexed BGZF file, with their locus (``LINE_SCHEMA``).
    ``read_vcf`` types them with ``vcf_columns``.

    Options: ``partitionByContig`` (default true); ``index`` (``auto`` =
    use ``{path}.tbi``/``.csi`` when present, ``build`` = create it if
    missing, ``none`` = filtered scans only, BCF only);
    ``targetPartitionBytes`` (compressed bytes per seek partition, 0 =
    one partition per contig)."""

    @classmethod
    def name(cls) -> str:
        return "vcf"

    def schema(self) -> T.StructType:
        return LINE_SCHEMA

    def reader(self, schema: T.StructType) -> VCFReader:
        return VCFReader(dict(self.options))


def _uses_source(path: str, index: str) -> bool:
    """True for the inputs the Python DataSource reads: BCF, and BGZF
    with (or, under ``index='build'``, to be given) a ``.tbi``/``.csi``."""
    from vcf2db_spark.sources.bcf import is_bcf
    from vcf2db_spark.sources.bgzf import is_bgzf

    if is_bcf(path):
        return True
    if index == "none" or not path.endswith(".gz") or not is_bgzf(path):
        return False
    return index == "build" or any(os.path.exists(path + ext) for ext in (".tbi", ".csi"))


def _text_lines(
    spark: SparkSession, path: str, header: VCFHeader, partition_by_contig: bool
) -> DataFrame:
    """The file's lines; with ``partition_by_contig``, hash-partitioned
    by their first field into one partition per header contig, capped at
    ``spark.sql.shuffle.partitions`` (a GRCh38 header with alt, decoy and
    HLA contigs declares thousands). Each contig stays in one partition.
    The shuffle lets a gzip file, which Spark reads in one task, be
    parsed on every core."""
    lines = spark.read.text(path)
    if not partition_by_contig or not header.contigs:
        return lines
    n = min(len(header.contigs), int(spark.conf.get("spark.sql.shuffle.partitions")))
    return lines.repartition(n, F.substring_index("value", "\t", 1))


def _source_lines(
    spark: SparkSession,
    path: str,
    partition_by_contig: bool,
    index: str,
    target_partition_bytes: int | None,
) -> DataFrame:
    """The record lines of a BCF or indexed BGZF file, read by
    ``VCFDataSource`` in seek partitions."""
    if target_partition_bytes is None:
        # Adaptive split target: the Python inflate/decode (not IO) is the
        # scan bottleneck, so a small-but-expensive file should fan out
        # across every core instead of stopping at one task per contig —
        # aim for ~2 waves over defaultParallelism, clamped to
        # [256 KB, 64 MB]. At warehouse scale (file >> cores × 64 MB) the
        # cap leaves the usual 64 MB split; on one cohort-sized file per
        # node it keeps all executor threads busy (measured: 16-sample×100k
        # BCF full scan 1.9 → 1.1 s on local[32], par with the text
        # container).
        try:
            fsize = os.path.getsize(path)
            cores = spark.sparkContext.defaultParallelism
            target_partition_bytes = min(64 << 20, max(256 << 10, fsize // (2 * cores)))
        except OSError:
            target_partition_bytes = 64 << 20
    # the source unpickles on Python workers, which import vcf2db_spark
    # from the shipped zip when PYTHONPATH does not carry it; register()
    # captures the context's py-files, so the session is readied first
    # (that also turns on filterPushdown, which pushFilters requires)
    pin_session_conf(spark)
    spark.dataSource.register(VCFDataSource)
    return (
        spark.read.format("vcf")
        .option("partitionByContig", str(partition_by_contig).lower())
        .option("index", index)
        .option("targetPartitionBytes", str(target_partition_bytes))
        .load(path)
    )


def read_vcf(
    spark: SparkSession,
    path: str,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
    partition_by_contig: bool = True,
    index: str = "auto",
    decompose: str = "reject",
    target_partition_bytes: int | None = None,
) -> DataFrame:
    """Library entry point (reference entry point 2, [U §VCFDB.__init__ ~L580]).

    Every container is typed by the same ``vcf_columns``; only where the
    lines come from differs. Plain text, plain gzip and BGZF with no
    index (or ``index='none'``) are read with ``spark.read.text``: a cold
    read then starts no Python worker. BCF, and BGZF with a
    ``.tbi``/``.csi`` index (or ``index='build'``, which writes one), are
    read by ``VCFDataSource``: its seek partitions inflate only their own
    blocks, in parallel, and prune on pushed-down ``chrom``/``start``/
    ``end`` predicates, which a whole-file gzip text scan cannot.
    ``target_partition_bytes`` sizes the seek partitions (default:
    adaptive, ``fsize // (2 · cores)`` clamped to [256 KB, 64 MB]);
    ``partition_by_contig`` gives either path one partition (or, with an
    index, more) per header contig.

    ``decompose='split'`` decomposes multi-allelic records in-engine
    (vt decompose -s semantics: per-alt INFO A/R slicing, GT allele
    remap with other-alt→'.', AD subsetting, Number=G dropped) — the
    preprocessing step the reference requires users to run externally.
    The default ``'reject'`` preserves the reference's precondition."""
    header = parse_header(read_header_text(path))
    if _uses_source(path, index):
        lines = _source_lines(spark, path, partition_by_contig, index, target_partition_bytes)
    else:
        lines = _text_lines(spark, path, header, partition_by_contig)
    return vcf_columns(
        lines,
        header,
        black_list=black_list,
        include_genotypes=include_genotypes,
        decompose=decompose,
    )
