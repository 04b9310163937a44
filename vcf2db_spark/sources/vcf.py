"""VCF reader for Spark (SURVEY.md §2A A1).

Spark-first replacement for the reference's cyvcf2/htslib streaming loop
[U vcf2db.py §VCFDB.load ~L640]. The schema comes from the VCF header
(A2, ``header.build_schema``); the records take one of two paths.

**Plain text, plain gzip, and BGZF with no index: one JVM column
builder** (``vcf_columns``). ``spark.read.text`` lines are split on tab
and typed by Spark expressions: INFO fields by their header type,
per-sample GT/GQ/DP/AD through ``transform``, and ``decompose='split'``
as a ``posexplode`` over ALT. No Python worker runs, so a cold load pays
no Python DataSource start-up (several seconds for the first one in a
process). With ``partition_by_contig`` the lines are hash-partitioned
by contig into one partition per header contig before the parse.

**BCF, and BGZF with a ``.tbi``/``.csi`` index: the Python DataSource**
(``VCFDataSource``). Each partition is one (contig, index chunk range):
it seeks to its virtual-offset range and inflates only those blocks
(``sources.bgzf`` / ``sources.tabix`` / ``sources.csi``), so a
multi-gigabyte file decompresses in parallel, and pushed-down
``chrom``/``start``/``end`` predicates (``pushFilters``) prune partitions
and narrow the chunk ranges — the distributed twin of a tabix region
query. Records feed the Python row builder (``_row_builder``).

Both builders give the same rows (``tests/test_vcf_builders.py``).
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

from vcf2db_spark.sources.header import (
    GT_COLUMNS,
    VCFHeader,
    build_schema,
    clean,
    info_fields,
    parse_header,
    read_header_text,
)

MISSING_INT = -1  # cyvcf2's missing-depth/qual sentinel
_MAX_POS = 1 << 29  # tabix coordinate ceiling

#: how both builders tell the user to decompose: a multi-allelic record
#: under decompose='reject', a multi-value Number=1/A INFO value
_SPLIT_HINT = (
    "input must be decomposed — run `vt decompose` first, or read with decompose='split'."
)
_DECOMPOSED_HINT = (
    "input must be decomposed (one ALT per record) — "
    "run `vt decompose` / `bcftools norm -m-` first."
)


@dataclass
class ContigPartition(InputPartition):
    contig: str | None  # None → whole file (unpartitioned fallback)
    #: tabix chunk ranges [(vbeg, vend), ...] — when set, the reader seeks
    #: instead of scanning
    chunks: list[tuple[int, int]] | None = None
    #: residual locus window [beg, end) applied during the seek-read
    beg: int = 0
    end: int = _MAX_POS


def _header_text(path: str) -> str:
    """Header text for either container: BCF embeds the identical VCF
    header text, so schema inference (A2) is container-agnostic."""
    from vcf2db_spark.sources.bcf import is_bcf, read_bcf_header_text

    if is_bcf(path):
        return read_bcf_header_text(path)
    return read_header_text(path)


def _typed_scalar(val: str, vtype: str):
    if val == ".":
        return None
    if vtype == "Integer":
        return int(val)
    if vtype == "Float":
        return float(val)
    return val


def _parse_info(raw: str, header: VCFHeader) -> dict[str, object]:
    out: dict[str, object] = {}
    if raw == ".":
        return out
    for item in raw.split(";"):
        if not item:
            continue
        if "=" in item:
            key, val = item.split("=", 1)
        else:
            key, val = item, None
        fd = header.infos.get(key)
        if fd is None:
            continue
        if fd.type == "Flag":
            out[key] = True
        elif fd.is_list:
            out[key] = [_typed_scalar(v, fd.type) for v in val.split(",")] if val else None
        else:
            if val is not None and "," in val:
                raise ValueError(
                    f"INFO field {key} (Number={fd.number}) has multiple values "
                    f"({val!r}); {_DECOMPOSED_HINT}"
                )
            out[key] = _typed_scalar(val, fd.type) if val is not None else None
    return out


def _gt_type(alleles: list[int | None]) -> int:
    """cyvcf2 coding: 0=hom_ref, 1=het, 2=unknown, 3=hom_alt.
    Any missing allele (``./1``, ``./.``) → unknown, as cyvcf2 codes it."""
    if any(a is None for a in alleles):
        return 2
    if all(a == 0 for a in alleles):
        return 0
    if all(a > 0 for a in alleles):
        return 3
    return 1


def _parse_sample(
    fmt_keys: list[str], raw: str, ref: str, alt: str
) -> tuple[str, int, bool, int, int, int, int]:
    """One sample's FORMAT blob → (gt_bases, gt_type, phased, depth,
    ref_depth, alt_depth, qual)."""
    vals = raw.split(":")
    d = dict(zip(fmt_keys, vals))
    gt_raw = d.get("GT", "./.")
    phased = "|" in gt_raw
    sep = "|" if phased else "/"
    alleles: list[int | None] = []
    for tok in gt_raw.replace("|", "/").split("/"):
        alleles.append(None if tok in (".", "") else int(tok))
    allele_bases = {0: ref, 1: alt}
    bases = sep.join("." if a is None else allele_bases.get(a, alt) for a in alleles)
    gq = d.get("GQ", ".")
    dp = d.get("DP", ".")
    ad = d.get("AD", ".")
    ref_d = alt_d = MISSING_INT
    if ad not in (".", "") and "," in ad:
        parts = ad.split(",")
        if parts[0] not in (".", ""):
            ref_d = int(parts[0])
        if parts[1] not in (".", ""):
            alt_d = int(parts[1])
    return (
        bases,
        _gt_type(alleles),
        phased,
        int(dp) if dp not in (".", "") else MISSING_INT,
        ref_d,
        alt_d,
        int(gq) if gq not in (".", "") else MISSING_INT,
    )


def _decompose_sample(fmt_keys: list[str], raw: str, ai: int, n_alts: int) -> str:
    """Per-sample FORMAT rewrite for alt index ``ai`` (vt decompose -s
    semantics): GT alleles map 0→0, (ai+1)→1, any other alt→'.';
    Number=R fields (AD) subset to [ref, alt_ai]."""
    vals = raw.split(":")
    for idx, key in enumerate(fmt_keys):
        if idx >= len(vals):
            break
        if key == "GT":
            gt = vals[idx]
            sep = "|" if "|" in gt else "/"
            toks = []
            for t in gt.replace("|", "/").split("/"):
                if t in (".", ""):
                    toks.append(".")
                else:
                    a = int(t)
                    toks.append("0" if a == 0 else ("1" if a == ai + 1 else "."))
            vals[idx] = sep.join(toks)
        elif key == "AD":
            ad = vals[idx]
            if ad not in (".", "") and "," in ad:
                advals = ad.split(",")
                if len(advals) == n_alts + 1:
                    vals[idx] = f"{advals[0]},{advals[ai + 1]}"
    return ":".join(vals)


def _decompose_parts(
    parts: list[str], header: VCFHeader, ai: int, alt_i: str, n_alts: int
) -> list[str]:
    """One multi-allelic record → the single-alt record for alt index
    ``ai``: INFO Number=A picks slot ai, Number=R keeps [ref, alt_ai],
    Number=G (genotype-likelihood shaped) is dropped — the reference punts
    on G entirely (SURVEY §7 hard-part 4); everything else passes through."""
    new = list(parts)
    new[4] = alt_i
    if parts[7] != ".":
        out_items = []
        for item in parts[7].split(";"):
            if "=" not in item:
                out_items.append(item)
                continue
            key, val = item.split("=", 1)
            fd = header.infos.get(key)
            if fd is None:
                out_items.append(item)
                continue
            vals = val.split(",")
            if fd.number == "A" and len(vals) == n_alts:
                out_items.append(f"{key}={vals[ai]}")
            elif fd.number == "R" and len(vals) == n_alts + 1:
                out_items.append(f"{key}={vals[0]},{vals[ai + 1]}")
            elif fd.number == "G":
                continue
            else:
                out_items.append(item)
        new[7] = ";".join(out_items) if out_items else "."
    if len(parts) > 8:
        fmt_keys = parts[8].split(":")
        for si in range(9, len(parts)):
            new[si] = _decompose_sample(fmt_keys, parts[si], ai, n_alts)
    return new


def _row_builder(header: VCFHeader, schema: T.StructType, decompose: str = "reject"):
    """Compile the per-line transform once per partition: tab-split parts →
    LIST of schema-ordered tuples (one per alt under ``decompose='split'``;
    multi-allelic input raises under the default ``'reject'``, preserving
    the reference's `vt decompose` precondition)."""
    info_fields = [
        (f.name, fid)
        for fid, f in (
            (fid, T.StructField(clean(fid), fd.spark_type())) for fid, fd in header.infos.items()
        )
        if f.name in schema.fieldNames()
    ]
    has_gts = "gts" in schema.fieldNames()

    def build_one(parts: list[str]) -> tuple:
        chrom, pos, _vid, ref, alt, qual, filt, info_raw = parts[:8]
        info = _parse_info(info_raw, header)
        row: list[object] = [
            chrom,
            int(pos) - 1,  # 0-based start, as in the reference's schema
            int(pos) - 1 + len(ref),
            ref,
            alt,
            float(qual) if qual not in (".", "") else None,
            None if filt in (".", "PASS") else filt,
        ]
        for _col_name, fid in info_fields:
            row.append(info.get(fid))
        if has_gts:
            fmt_keys = parts[8].split(":") if len(parts) > 8 else []
            samples = [_parse_sample(fmt_keys, raw, ref, alt) for raw in parts[9:]]
            for i in range(7):
                row.append([s[i] for s in samples])
        return tuple(row)

    def build(parts: list[str]) -> list[tuple]:
        alt = parts[4]
        if "," not in alt:
            return [build_one(parts)]
        if decompose != "split":
            raise ValueError(
                f"multi-allelic record at {parts[0]}:{parts[1]} (ALT={alt!r}); {_SPLIT_HINT}"
            )
        alts = alt.split(",")
        return [
            build_one(_decompose_parts(parts, header, ai, alt_i, len(alts)))
            for ai, alt_i in enumerate(alts)
        ]

    return build


# ---------------------------------------------------------------------------
# JVM builder: the same rows as ``_row_builder``, as Spark expressions
# ---------------------------------------------------------------------------


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
    """Parse a frame of VCF text lines (one ``value`` column, as
    ``spark.read.text`` / ``readStream.text`` give it) into the variants
    schema, ``build_schema(header, black_list, include_genotypes)``
    exactly, nullability included.

    The expressions follow ``_row_builder`` rule for rule: a duplicate
    INFO or FORMAT key keeps its last value, a sample shorter than FORMAT
    is cut short, an INFO value is everything after the first '=', an
    absent Flag is NULL. Header and empty lines are skipped. A
    multi-allelic record under ``decompose='reject'``, a multi-value
    Number=1/A INFO field and a malformed line raise (``raise_error``)
    with the Python builder's texts, whichever columns a query keeps.
    ``decompose='split'`` is a ``posexplode`` over ALT that slices
    Number=A/R values and drops Number=G ones, as ``_decompose_parts``
    does. The expressions are SQL text: one call into the JVM per column
    rather than one per function."""
    split = decompose.lower() == "split"
    schema = build_schema(header, black_list=black_list, include_genotypes=include_genotypes)
    infos = info_fields(header, black_list)
    has_gts = "gts" in schema.fieldNames()

    # Header and empty lines become NULL rather than being filtered out
    # first: Spark merges a query's pushed-down predicates into the same
    # filter and may evaluate their casts before this one, and a cast of
    # "POS" would raise.
    parts = lines.selectExpr(
        r"split(CASE WHEN value <> '' AND NOT startswith(value, '#') THEN value END, '\t') AS _p"
    )
    parsed = parts.selectExpr(
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
        # mode) is a record the builder rejects
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
    stage1 = ["_chrom", "_pos", "_ref", "_alt", "_qual", "_filter", "_multi", "_nalts", "_ai"]
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
    return stage1_df.selectExpr(
        *[
            f"CAST({e} AS {f.dataType.simpleString()}) AS `{f.name}`"
            for e, f in zip(out, schema.fields)
        ]
    )


def _iter_chunks(
    path: str,
    header: VCFHeader,
    schema: T.StructType,
    partition: "ContigPartition",
    decompose: str = "reject",
):
    """Tabix-seek read: inflate only the partition's BGZF chunk ranges and
    keep records overlapping its [beg, end) locus window. This is the
    htslib region-query loop re-expressed per Spark partition."""
    from vcf2db_spark.sources.bgzf import BGZFReader

    build = _row_builder(header, schema, decompose)
    beg, end = partition.beg, partition.end
    with BGZFReader(path) as rd:
        for vbeg, vend in partition.chunks or ():
            rd.seek_virtual(vbeg)
            while rd.tell_virtual() < vend:
                line = rd.readline()
                if not line:
                    break
                if line.startswith(b"#"):
                    continue
                parts = line.rstrip(b"\n").decode().split("\t")
                rec_beg = int(parts[1]) - 1
                rec_end = rec_beg + len(parts[3])
                if rec_beg < end and rec_end > beg:
                    yield from build(parts)


def _iter_bcf(
    path: str,
    header: VCFHeader,
    schema: T.StructType,
    partition: "ContigPartition",
    decompose: str = "reject",
):
    """BCF twin of the two text loops: CSI-seek chunk read when the
    partition carries chunk ranges, else a filtered framed scan. Binary
    records decode to text parts feeding the SAME row builder — one
    parsing semantics, two containers (sources/bcf.py)."""
    from vcf2db_spark.sources import bcf

    build = _row_builder(header, schema, decompose)
    if partition.chunks is not None:  # [] = provably-empty partition
        src = bcf.iter_bcf_chunk_parts(
            path, partition.chunks, partition.beg, partition.end
        )
    else:
        src = bcf.iter_bcf_parts(path, partition.contig)
    for parts in src:
        yield from build(parts)


class VCFReader(DataSourceReader):
    #: rows per Arrow RecordBatch — large enough to amortize the
    #: columnarization, small enough to keep per-batch memory flat
    BATCH_ROWS = 4096

    def __init__(self, schema: T.StructType, options: dict):
        # Spark passes reader options through a case-insensitive map that
        # LOWERCASES keys — read camelCase options via their lowercase form
        # (with the original spelling as a fallback for direct construction
        # in unit tests).
        def opt(key: str, default: str) -> str:
            return options.get(key.lower(), options.get(key, default))

        self.schema_ = schema
        self.path = options["path"]
        from vcf2db_spark.sources.bcf import is_bcf

        self.is_bcf = is_bcf(self.path)
        self.header = parse_header(_header_text(self.path))
        split = opt("partitionByContig", "true").lower() == "true"
        self.decompose = opt("decompose", "reject").lower()
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
                f"{self.path}: a text VCF without a .tbi/.csi index is parsed "
                "by read_vcf's JVM builder, not this source"
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
        """Columnar RecordBatches rather than per-row tuples: no per-row
        pickle on the executor↔Python boundary."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if self.is_bcf:
            rows = _iter_bcf(
                self.path, self.header, self.schema_, partition, self.decompose
            )
        else:
            rows = _iter_chunks(
                self.path, self.header, self.schema_, partition, self.decompose
            )
        arrow_schema = to_arrow_schema(self.schema_)
        buf: list[tuple] = []
        for row in rows:
            buf.append(row)
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
    ``spark.dataSource.register(VCFDataSource)``.

    Options: ``black_list`` (comma-separated INFO IDs to drop — the
    reference's ``--black-list`` [U vcf2db.py §main ~L1150]);
    ``partitionByContig`` (default true); ``include_genotypes``
    (default true); ``index`` (``auto`` = use ``{path}.tbi``/``.csi``
    when present, ``build`` = create it if missing, ``none`` = filtered
    scans only, BCF only). ``read_vcf`` picks this source for BCF and for
    indexed BGZF only."""

    @classmethod
    def name(cls) -> str:
        return "vcf"

    def schema(self) -> T.StructType:
        header = parse_header(_header_text(self.options["path"]))
        bl = tuple(x for x in self.options.get("black_list", "").split(",") if x)
        inc = self.options.get("include_genotypes", "true").lower() == "true"
        return build_schema(header, black_list=bl, include_genotypes=inc)

    def reader(self, schema: T.StructType) -> VCFReader:
        return VCFReader(schema, dict(self.options))


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
    by their first field into one partition per header contig, the
    partition count the source gives. The shuffle lets a gzip file,
    which Spark reads in one task, be parsed on every core."""
    lines = spark.read.text(path)
    if not partition_by_contig or not header.contigs:
        return lines
    return lines.repartition(len(header.contigs), F.substring_index("value", "\t", 1))


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

    Plain text, plain gzip and BGZF with no index (or ``index='none'``)
    are parsed by the JVM builder (``vcf_columns``): a cold read then
    starts no Python worker. BCF, and BGZF with a ``.tbi``/``.csi`` index
    (or ``index='build'``, which writes one), go through
    ``VCFDataSource``: its seek partitions inflate only their own blocks,
    in parallel, and prune on pushed-down locus predicates, which a
    whole-file gzip text scan cannot. ``target_partition_bytes`` sizes
    the seek partitions; ``partition_by_contig`` gives either path one
    partition (or, with an index, more) per header contig.

    ``decompose='split'`` decomposes multi-allelic records in-engine
    (vt decompose -s semantics: per-alt INFO A/R slicing, GT allele
    remap with other-alt→'.', AD subsetting, Number=G dropped) — the
    preprocessing step the reference requires users to run externally.
    The default ``'reject'`` preserves the reference's precondition."""
    if not _uses_source(path, index):
        header = parse_header(read_header_text(path))
        return vcf_columns(
            _text_lines(spark, path, header, partition_by_contig),
            header,
            black_list=black_list,
            include_genotypes=include_genotypes,
            decompose=decompose,
        )
    if target_partition_bytes is None:
        # Adaptive split target: the Python decode (not IO) is the scan
        # bottleneck, so a small-but-expensive file should fan out across
        # every core instead of stopping at one task per contig — aim for
        # ~2 waves over defaultParallelism, clamped to [256 KB, 64 MB].
        # At warehouse scale (file >> cores × 64 MB) the cap leaves the
        # usual 64 MB split; on one cohort-sized file per node it keeps
        # all executor threads busy (measured: 16-sample×100k BCF full
        # scan 1.9 → 1.1 s on local[32], par with the text container).
        try:
            fsize = os.path.getsize(path)
            cores = spark.sparkContext.defaultParallelism
            target_partition_bytes = min(
                64 << 20, max(256 << 10, fsize // (2 * cores))
            )
        except OSError:
            target_partition_bytes = 64 << 20
    spark.dataSource.register(VCFDataSource)
    try:
        # pushFilters requires this conf; Spark rejects the read without it
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    reader = (
        spark.read.format("vcf")
        .option("black_list", ",".join(black_list))
        .option("include_genotypes", str(include_genotypes).lower())
        .option("partitionByContig", str(partition_by_contig).lower())
        .option("index", index)
        .option("decompose", decompose)
        .option("targetPartitionBytes", str(target_partition_bytes))
    )
    return reader.load(path)
