"""VCF header → Spark schema inference (SURVEY.md §2A A2, §1.3).

Reimplements, Spark-first, what vcf2db derives from ``##INFO``/``##FORMAT``
header lines [U vcf2db.py §VCFDB.create_columns ~L720] and its column-name
sanitizer [U vcf2db.py §clean ~L100]:

- Type map: Integer→LongType, Float→DoubleType, Flag→BooleanType,
  String/Character→StringType [U vcf2db.py §type_lookups ~L40].
- Number semantics: ``0``→flag scalar; ``1``/``A``→scalar (input must be
  decomposed — one ALT per record, the reference's precondition);
  ``R``/``G``/``.``/ints>1 → ArrayType. The reference comma-joins these into
  strings because SQLite has no arrays; Spark keeps them typed arrays.
- No two-phase VARCHAR width inference: Spark strings are unbounded
  (the reference's first-batch sizing pass [U §check_column_lengths ~L760]
  survives only as the optional JDBC DDL helper in ``sinks``).
"""

from __future__ import annotations

import gzip
import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

# SQL-ish reserved words vcf2db guards against when INFO IDs collide with
# column names; extended with Spark SQL keywords.
RESERVED = {
    "select", "from", "where", "group", "order", "by", "table", "index",
    "start", "end", "filter", "type", "if", "else", "case", "when", "then",
    "all", "and", "or", "not", "in", "is", "null", "default", "user",
}

#: fixed variants-table columns (SURVEY §1.4); INFO fields colliding with
#: these get an ``_info`` suffix.
FIXED_VARIANT_COLUMNS = (
    "variant_id", "chrom", "start", "end", "ref", "alt", "qual", "filter",
    "type", "sub_type", "call_rate", "num_hom_ref", "num_het", "num_hom_alt",
    "num_unknown", "aaf", "gts", "gt_types", "gt_phases", "gt_depths",
    "gt_ref_depths", "gt_alt_depths", "gt_quals",
)

ANNOTATION_KEYS = ("CSQ", "ANN", "EFF", "BCSQ")

_SCALAR_TYPES: dict[str, T.DataType] = {
    "Integer": T.LongType(),
    "Float": T.DoubleType(),
    "Flag": T.BooleanType(),
    "String": T.StringType(),
    "Character": T.StringType(),
}

_HEADER_KV = re.compile(r'(\w+)=("(?:[^"\\]|\\.)*"|[^,>]*)')


def clean(name: str) -> str:
    """Sanitize a column name: lowercase; ``.``/``-``/space → ``_``;
    digit-leading names get a leading ``_``; reserved words and fixed-column
    collisions get an ``_info`` suffix. Idempotent."""
    out = name.strip().lower()
    out = re.sub(r"[.\-\s/]+", "_", out)
    out = re.sub(r"[^0-9a-z_]", "", out)
    if not out:
        return "_"
    if out[0].isdigit():
        out = "_" + out
    if out in RESERVED or out in FIXED_VARIANT_COLUMNS:
        if not out.endswith("_info"):
            out = out + "_info"
    return out


@dataclass
class FieldDef:
    id: str
    number: str  # raw Number= token: '0','1','A','R','G','.', or an int str
    type: str  # Integer/Float/Flag/String/Character
    description: str = ""

    @property
    def is_list(self) -> bool:
        if self.type == "Flag":
            return False
        if self.number in ("0", "1", "A"):
            # 'A' is scalar under the decomposed-input precondition
            return False
        return True  # R, G, '.', or a fixed count > 1

    def spark_type(self) -> T.DataType:
        base = _SCALAR_TYPES[self.type]
        return T.ArrayType(base) if self.is_list else base


@dataclass
class VCFHeader:
    infos: dict[str, FieldDef] = field(default_factory=dict)
    formats: dict[str, FieldDef] = field(default_factory=dict)
    samples: list[str] = field(default_factory=list)
    contigs: list[str] = field(default_factory=list)
    raw: str = ""

    @property
    def annotation_key(self) -> str | None:
        for k in ANNOTATION_KEYS:
            if k in self.infos:
                return k
        return None

    @property
    def annotation_subfields(self) -> list[str]:
        """Impact keys split out of the annotation field's Description
        (VEP writes ``... Format: Allele|Consequence|...``)."""
        key = self.annotation_key
        if not key:
            return []
        desc = self.infos[key].description
        m = re.search(r"Format:\s*'?([\w|\-./]+)'?", desc)
        if not m:
            return []
        return [s for s in m.group(1).split("|") if s]


def _parse_structured(line: str) -> dict[str, str]:
    inner = line[line.index("<") + 1 : line.rindex(">")]
    out = {}
    for k, v in _HEADER_KV.findall(inner):
        if v.startswith('"') and v.endswith('"'):
            v = v[1:-1]
        out[k] = v
    return out


def parse_header(text: str) -> VCFHeader:
    """Parse ``##``-header lines + the ``#CHROM`` column line."""
    h = VCFHeader(raw=text)
    for line in text.splitlines():
        if line.startswith("##INFO=<"):
            d = _parse_structured(line)
            h.infos[d["ID"]] = FieldDef(d["ID"], d.get("Number", "."), d.get("Type", "String"), d.get("Description", ""))
        elif line.startswith("##FORMAT=<"):
            d = _parse_structured(line)
            h.formats[d["ID"]] = FieldDef(d["ID"], d.get("Number", "."), d.get("Type", "String"), d.get("Description", ""))
        elif line.startswith("##contig=<"):
            d = _parse_structured(line)
            if "ID" in d:
                h.contigs.append(d["ID"])
        elif line.startswith("#CHROM"):
            cols = line.lstrip("#").split("\t")
            if len(cols) > 9:
                h.samples = cols[9:]
    return h


def read_header_text(path: str) -> str:
    """Read just the header block of a VCF file: plain text, gzip/BGZF,
    or BCF, which embeds the same header text."""
    from vcf2db_spark.sources.bcf import is_bcf, read_bcf_header_text

    if is_bcf(path):
        return read_bcf_header_text(path)
    opener = gzip.open if path.endswith(".gz") else open
    lines: list[str] = []
    with opener(path, "rt") as fh:  # type: ignore[operator]
        for line in fh:
            if not line.startswith("#"):
                break
            lines.append(line.rstrip("\n"))
    return "\n".join(lines)


#: genotype-matrix columns derived from per-sample FORMAT data
#: [U vcf2db.py §pack_blob callers ~L60]; typed arrays instead of blobs.
GT_COLUMNS: tuple[tuple[str, T.DataType], ...] = (
    ("gts", T.ArrayType(T.StringType())),
    ("gt_types", T.ArrayType(T.IntegerType())),
    ("gt_phases", T.ArrayType(T.BooleanType())),
    ("gt_depths", T.ArrayType(T.IntegerType())),
    ("gt_ref_depths", T.ArrayType(T.IntegerType())),
    ("gt_alt_depths", T.ArrayType(T.IntegerType())),
    ("gt_quals", T.ArrayType(T.IntegerType())),
)


def info_fields(
    header: VCFHeader, black_list: tuple[str, ...] = ()
) -> list[tuple[str, FieldDef]]:
    """The header's INFO definitions that become columns, in header order
    (IDs in ``black_list`` dropped, case-insensitively)."""
    blacklisted = {b.lower() for b in black_list}
    return [(fid, fd) for fid, fd in header.infos.items() if fid.lower() not in blacklisted]


def build_schema(
    header: VCFHeader,
    black_list: tuple[str, ...] = (),
    include_genotypes: bool = True,
) -> T.StructType:
    """Variants-table StructType: fixed locus columns + dynamic INFO tail +
    genotype arrays. The annotation field (CSQ/ANN/…) stays a raw string
    column here; ``operators.impacts`` explodes it."""
    fields = [
        T.StructField("chrom", T.StringType(), False),
        T.StructField("start", T.LongType(), False),  # 0-based
        T.StructField("end", T.LongType(), False),
        T.StructField("ref", T.StringType(), False),
        T.StructField("alt", T.StringType(), False),
        T.StructField("qual", T.DoubleType(), True),
        T.StructField("filter", T.StringType(), True),
    ]
    for fid, fd in info_fields(header, black_list):
        fields.append(T.StructField(clean(fid), fd.spark_type(), True))
    if include_genotypes and header.samples:
        for name, dtype in GT_COLUMNS:
            fields.append(T.StructField(name, dtype, True))
    return T.StructType(fields)
