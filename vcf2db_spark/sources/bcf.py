"""BCF2 binary container: decode (and encode, for fixtures/round-trips)
— pure Python over the existing BGZF layer (VERDICT r8 item 8).

The reference's parser (cyvcf2/htslib) reads BCF natively; large cohort
files ship as BCF, so a migrating user hits this on day one. This module
speaks the on-disk BCF2.2 format (hts-specs VCFv4.x §6 "BCF encoding"):

- **Container**: BGZF members; decompressed stream = magic ``BCF\\2\\2``
  + header length + the ordinary VCF header TEXT, then length-framed
  binary records (``l_shared``/``l_indiv`` framing — seekable without
  newlines, which is what makes the CSI chunk reads below possible).
- **Dictionaries**: contigs (rid → ``##contig`` order) and strings
  (FILTER/INFO/FORMAT IDs with the implicit ``PASS`` at 0), both honoring
  explicit ``IDX=`` overrides — derived from the header text exactly as
  htslib derives them, so indices agree with bcftools-written files.
- **Typed values**: the BCF atom — descriptor byte (low nibble = type:
  1/2/3 int8/16/32, 5 float32, 7 char; high nibble = count, 15 =
  overflow count follows as a typed int), with per-type MISSING and
  END-OF-VECTOR sentinels.

Decode strategy: each binary record is converted to the TEXT fields of
the equivalent VCF line (``BCFCodec.decode_record``). ``VCFDataSource``
joins them back into the line, and the same parser that types text VCF
(``sources.vcf.vcf_columns``) types it — one parsing semantics for every
container. ``iter_bcf_parts`` is the full framed scan and
``iter_bcf_chunk_parts`` the CSI-seek read of a partition's chunk
ranges. Floats format through numpy's shortest float32 round-trip
repr, so a value written as ``0.333`` reads back as ``0.333`` (htslib's
``bcftools view`` prints the same shortest form); sub-ULP float32
precision is a property of the container, not this reader.

The encoder exists for fixtures and round-trip tests (no htslib in this
environment to generate goldens) and writes spec-conformant framing —
byte-level structure is asserted in tests/test_bcf.py alongside the
semantic round trip text-VCF == BCF through the full Spark source.
"""

from __future__ import annotations

import math
import struct

import numpy as np

BCF_MAGIC = b"BCF\x02\x02"

#: typed-value type codes (hts-specs)
_T_MISSING, _T_INT8, _T_INT16, _T_INT32, _T_FLOAT, _T_CHAR = 0, 1, 2, 3, 5, 7

_INT_MISSING = {1: -0x80, 2: -0x8000, 3: -0x80000000}
_INT_END = {1: -0x7F, 2: -0x7FFF, 3: -0x7FFFFFFF}
_FLOAT_MISSING_BITS = 0x7F800001
_FLOAT_END_BITS = 0x7F800002
_INT_FMT = {1: "b", 2: "h", 3: "i"}
#: text spellings of a missing numeric value the encoder accepts
_MISSING_TEXT = (".", "")
_INT_WIDTH = {1: 1, 2: 2, 3: 4}


def is_bcf(path: str) -> bool:
    """BGZF member whose decompressed payload starts with the BCF magic."""
    from vcf2db_spark.sources.bgzf import BGZFReader, is_bgzf

    if not is_bgzf(path):
        return False
    with BGZFReader(path) as rd:
        magic = rd.read(5)
    # full 5-byte check: BCF1 (samtools-era) and future-major files share
    # the 3-byte prefix but use different record framing — parsing them
    # as BCF2.2 would yield garbage rows, so they are "not BCF" here and
    # read_bcf_header_text raises the version-naming error on direct use
    return magic[:4] == b"BCF\x02" and magic[4:5] <= b"\x02"


def read_bcf_header_text(path: str) -> str:
    """The embedded VCF header text (NUL-stripped, no trailing newline)."""
    from vcf2db_spark.sources.bgzf import BGZFReader

    with BGZFReader(path) as rd:
        magic = rd.read(5)
        if magic[:3] != b"BCF":
            raise ValueError(f"{path}: not a BCF file (magic {magic!r})")
        if magic[3:4] != b"\x02" or magic[4:5] > b"\x02":
            # BCF1 or a future major/minor: record framing differs —
            # fail by name instead of decoding garbage with 2.2 rules
            major = magic[3] if len(magic) > 3 else 0
            minor = magic[4] if len(magic) > 4 else 0
            raise ValueError(
                f"{path}: unsupported BCF version {major}.{minor} "
                f"(only BCF 2.0-2.2 is supported)"
            )
        (l_text,) = struct.unpack("<I", rd.read(4))
        text = rd.read(l_text)
    return text.rstrip(b"\x00").decode().rstrip("\n")


def header_dicts(header_text: str) -> tuple[list[str], list[str]]:
    """(contig dictionary, string dictionary) from the header text —
    the rid/key numbering both sides of the codec share. Strings:
    implicit ``PASS`` at 0, then FILTER/INFO/FORMAT IDs in order of
    first appearance; explicit ``IDX=`` pins a slot (htslib rule)."""

    def field_of(line: str, key: str) -> str | None:
        body = line.split("<", 1)[1].rsplit(">", 1)[0]
        depth = 0
        parts, cur = [], []
        for ch in body:  # top-level comma split (quotes may hold commas)
            if ch == '"':
                depth ^= 1
            if ch == "," and not depth:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        for p in parts:
            if p.startswith(key + "="):
                return p[len(key) + 1 :].strip('"')
        return None

    contigs: dict[int, str] = {}
    strings: dict[int, str] = {0: "PASS"}
    seen = {"PASS"}
    next_str = 1
    next_ctg = 0
    for line in header_text.splitlines():
        if line.startswith("##contig="):
            name = field_of(line, "ID")
            idx = field_of(line, "IDX")
            slot = int(idx) if idx is not None else next_ctg
            contigs[slot] = name
            next_ctg = max(next_ctg, slot) + 1
        elif line.startswith(("##FILTER=", "##INFO=", "##FORMAT=")):
            name = field_of(line, "ID")
            if name in seen:
                continue
            seen.add(name)
            idx = field_of(line, "IDX")
            slot = int(idx) if idx is not None else next_str
            strings[slot] = name
            next_str = max(next_str, slot) + 1
    ctg = [contigs[i] for i in sorted(contigs)]
    top = max(strings) if strings else 0
    strs = [strings.get(i, f"__{i}") for i in range(top + 1)]
    return ctg, strs


# -- typed-value decode --------------------------------------------------------


def _read_typed_desc(buf: bytes, off: int) -> tuple[int, int, int]:
    """(type, count, new_off) — resolving the count-overflow form."""
    d = buf[off]
    off += 1
    t, n = d & 0x0F, d >> 4
    if n == 15:
        n, off = _read_typed_int_vec(buf, off, scalar=True), off
        # _read_typed_int_vec(scalar) returns (value, off)
        n, off = n  # type: ignore[misc]
    return t, n, off


def _read_typed_int_vec(buf: bytes, off: int, scalar: bool = False):
    t, n, off = (buf[off] & 0x0F, buf[off] >> 4, off + 1)
    if n == 15:
        (n, off) = _read_typed_int_vec(buf, off, scalar=True)
    width = {1: 1, 2: 2, 3: 4}[t]
    vals = list(struct.unpack_from(f"<{n}{_INT_FMT[t]}", buf, off))
    off += n * width
    if scalar:
        return vals[0], off
    out = [
        None if v == _INT_MISSING[t] else v
        for v in vals
        if v != _INT_END[t]
    ]
    return out, off


def _read_typed_value(buf: bytes, off: int):
    """Decode one typed value → (python value or list or None, new_off).
    char vectors decode to str; int/float vectors to lists (singletons
    unwrapped); type 0 (MISSING, the Flag encoding) → True."""
    d = buf[off]
    t, n = d & 0x0F, d >> 4
    off += 1
    if n == 15:
        (n, off) = _read_typed_int_vec(buf, off, scalar=True)
    if t == _T_MISSING:
        return True, off  # Flag presence
    if t == _T_CHAR:
        s = buf[off : off + n].decode()
        return s, off + n
    if t == _T_FLOAT:
        bits = struct.unpack_from(f"<{n}I", buf, off)
        off += 4 * n
        out = []
        for b in bits:
            if b == _FLOAT_END_BITS:
                continue
            out.append(
                None
                if b == _FLOAT_MISSING_BITS
                else float(np.uint32(b).view(np.float32))
            )
        return (out[0] if len(out) == 1 else out), off
    width = {1: 1, 2: 2, 3: 4}[t]
    vals = struct.unpack_from(f"<{n}{_INT_FMT[t]}", buf, off)
    off += n * width
    out = [
        None if v == _INT_MISSING[t] else int(v)
        for v in vals
        if v != _INT_END[t]
    ]
    return (out[0] if len(out) == 1 else out), off


_f32_repr_cache: dict[float, str] = {}


def _f32_repr(v: float) -> str:
    """Shortest text that round-trips the float32 — what bcftools view
    prints, and what keeps text-vs-BCF reads value-identical when the
    original text was itself the shortest form. Memoized (bounded):
    dragon4 dominates the QUAL/float-INFO decode cost at cohort scale
    and real files draw from a small set of distinct float32 values."""
    if v == 0.0:  # ±0.0 hash/compare equal — keep the sign out of the cache
        return "-0" if math.copysign(1.0, v) < 0 else "0"
    s = _f32_repr_cache.get(v)
    if s is None:
        s = np.format_float_positional(np.float32(v), unique=True, trim="-")
        if len(_f32_repr_cache) < (1 << 16):
            _f32_repr_cache[v] = s
    return s


def _fmt_atom(v, is_float: bool) -> str:
    if v is None:
        return "."
    if is_float:
        return _f32_repr(v)
    return str(v)


# -- record decode → text parts ------------------------------------------------


class BCFCodec:
    """Shared record codec bound to one header's dictionaries."""

    def __init__(self, header_text: str, n_samples: int):
        self.contigs, self.strings = header_dicts(header_text)
        self.n_samples = n_samples
        # per-ID Type (Integer/Float/Flag/String/Character) for encode +
        # float-formatting on decode
        self.types: dict[str, str] = {}
        for line in header_text.splitlines():
            if line.startswith(("##INFO=", "##FORMAT=")):
                body = line.split("<", 1)[1]
                name = typ = None
                for part in body.replace(">", "").split(","):
                    if part.startswith("ID="):
                        name = part[3:]
                    elif part.startswith("Type="):
                        typ = part[5:]
                if name:
                    self.types[name] = typ or "String"
        self.str_id = {s: i for i, s in enumerate(self.strings)}
        self.ctg_id = {c: i for i, c in enumerate(self.contigs)}
        # decode memo caches: genotype tuples and float32 bit patterns
        # repeat heavily across a cohort (a 16-sample×100k-variant file
        # has ~10 distinct diploid GTs); bounding the float cache keeps
        # adversarial high-cardinality QUAL/FORMAT floats from growing
        # the dict without bound on long-lived executors
        self._gt_cache: dict[tuple, str] = {}
        self._f32_cache: dict[int, str] = {}

    # ---- decode ----

    def decode_record(self, shared: bytes, indiv: bytes) -> list[str]:
        """One binary record → the text fields of its VCF line
        (CHROM..FORMAT + one field per sample)."""
        rid, pos, _rlen = struct.unpack_from("<iii", shared, 0)
        (qual_bits,) = struct.unpack_from("<I", shared, 12)
        (n_allele_info,) = struct.unpack_from("<I", shared, 16)
        n_info, n_allele = n_allele_info & 0xFFFF, n_allele_info >> 16
        (n_fmt_sample,) = struct.unpack_from("<I", shared, 20)
        n_sample, n_fmt = n_fmt_sample & 0xFFFFFF, n_fmt_sample >> 24
        off = 24
        vid, off = _read_typed_value(shared, off)
        alleles = []
        for _ in range(n_allele):
            a, off = _read_typed_value(shared, off)
            alleles.append(a)
        filt, off = _read_typed_int_vec(shared, off)
        info_parts = []
        for _ in range(n_info):
            (key_id, off) = _read_typed_int_vec(shared, off, scalar=True)
            key = self.strings[key_id]
            val, off = _read_typed_value(shared, off)
            if val is True:  # a valueless item (a Flag) reads back bare
                info_parts.append(key)
                continue
            is_f = self.types.get(key) == "Float"
            vs = val if isinstance(val, list) else [val]
            info_parts.append(
                key + "=" + ",".join(_fmt_atom(v, is_f) for v in vs)
            )
        qual = (
            "."
            if qual_bits == _FLOAT_MISSING_BITS
            else _f32_repr(float(np.uint32(qual_bits).view(np.float32)))
        )
        # Per-FORMAT-key column decode: ONE struct.unpack over the whole
        # n_sample×n block (not one call per sample — the format-string
        # parse and call overhead dominated the cohort-scale profile),
        # memoized GT/float32 cell text, and a scalar-int fast path that
        # skips the join entirely. ~2× on a 16-sample×100k fixture.
        fmt_keys: list[str] = []
        fmt_cols: list[list[str]] = []
        off = 0
        for _ in range(n_fmt):
            (key_id, off) = _read_typed_int_vec(indiv, off, scalar=True)
            key = self.strings[key_id]
            fmt_keys.append(key)
            t, n, off = _read_typed_desc(indiv, off)
            is_f = self.types.get(key) == "Float"
            total = n * n_sample
            if n == 0:
                col = ["."] * n_sample
            elif key == "GT":
                flat = struct.unpack_from(f"<{total}{_INT_FMT[t]}", indiv, off)
                off += total * _INT_WIDTH[t]
                cache, gt_text = self._gt_cache, self._gt_text
                col = []
                for s in range(0, total, n):
                    raw = flat[s : s + n]
                    ck = (t, raw)
                    cell = cache.get(ck)
                    if cell is None:
                        cell = gt_text(raw, t)
                        cache[ck] = cell
                    col.append(cell)
            elif t == _T_CHAR:
                col = []
                for _s in range(n_sample):
                    cell = indiv[off : off + n].decode().rstrip("\x00")
                    off += n
                    col.append(cell or ".")
            elif t == _T_FLOAT:
                bits = struct.unpack_from(f"<{total}I", indiv, off)
                off += 4 * total
                fcache = self._f32_cache
                col = []
                for s in range(0, total, n):
                    cells = []
                    for b in bits[s : s + n]:
                        if b == _FLOAT_END_BITS:
                            continue
                        a = fcache.get(b)
                        if a is None:
                            a = (
                                "."
                                if b == _FLOAT_MISSING_BITS
                                else _f32_repr(
                                    float(np.uint32(b).view(np.float32))
                                )
                            )
                            if len(fcache) < (1 << 16):
                                fcache[b] = a
                        cells.append(a)
                    col.append(",".join(cells) or ".")
            else:
                flat = struct.unpack_from(f"<{total}{_INT_FMT[t]}", indiv, off)
                off += total * _INT_WIDTH[t]
                miss, endv = _INT_MISSING[t], _INT_END[t]
                if n == 1 and not is_f:
                    col = [
                        "." if v == miss or v == endv else str(v)
                        for v in flat
                    ]
                else:
                    col = []
                    for s in range(0, total, n):
                        vs = [
                            None if v == miss else v
                            for v in flat[s : s + n]
                            if v != endv
                        ]
                        col.append(
                            ",".join(_fmt_atom(v, is_f) for v in vs) or "."
                        )
            fmt_cols.append(col)
        parts = [
            self.contigs[rid],
            str(pos + 1),
            vid if isinstance(vid, str) and vid else ".",
            alleles[0] if alleles else ".",
            ",".join(alleles[1:]) if len(alleles) > 1 else ".",
            qual,
            (
                ";".join(self.strings[f] for f in filt) if filt else "."
            ),
            ";".join(info_parts) if info_parts else ".",
        ]
        if fmt_keys:
            parts.append(":".join(fmt_keys))
            if len(fmt_cols) == 1:
                parts.extend(fmt_cols[0])
            else:
                parts.extend(":".join(cells) for cells in zip(*fmt_cols))
        return parts

    @staticmethod
    def _gt_text(raw: tuple, t: int) -> str:
        out = []
        for i, v in enumerate(raw):
            if v == _INT_END[t]:
                break
            allele = (v >> 1) - 1
            sep = "|" if (v & 1) and i > 0 else ("/" if i > 0 else "")
            out.append(sep + ("." if allele < 0 else str(allele)))
        return "".join(out) or "."

    # ---- encode (fixtures / round-trip tests) ----

    @staticmethod
    def _typed_desc(t: int, n: int) -> bytes:
        if n < 15:
            return bytes([(n << 4) | t])
        return bytes([(15 << 4) | t]) + BCFCodec._typed_ints([n])

    @staticmethod
    def _int_type(vals: list[int]) -> int:
        lo = min(vals, default=0)
        hi = max(vals, default=0)
        if -120 <= lo and hi <= 127:
            return 1
        if -32000 <= lo and hi <= 32767:
            return 2
        return 3

    @staticmethod
    def _typed_ints(vals: list[int], missing: set[int] | None = None) -> bytes:
        concrete = [v for i, v in enumerate(vals) if not (missing and i in missing)]
        t = BCFCodec._int_type(concrete or [0])
        body = b"".join(
            struct.pack(
                f"<{_INT_FMT[t]}",
                _INT_MISSING[t] if (missing and i in missing) else v,
            )
            for i, v in enumerate(vals)
        )
        return BCFCodec._typed_desc(t, len(vals)) + body

    @staticmethod
    def _typed_str(s: str) -> bytes:
        b = s.encode()
        return BCFCodec._typed_desc(_T_CHAR, len(b)) + b

    @staticmethod
    def _typed_floats(vals: list[float | None]) -> bytes:
        out = [BCFCodec._typed_desc(_T_FLOAT, len(vals))]
        for v in vals:
            if v is None:
                out.append(struct.pack("<I", _FLOAT_MISSING_BITS))
            else:
                out.append(struct.pack("<f", np.float32(v)))
        return b"".join(out)

    def encode_line(self, parts: list[str]) -> bytes:
        """One text VCF body line (already tab-split) → l_shared+l_indiv
        framed binary record bytes."""
        chrom, pos, vid, ref, alt, qual, filt, info = parts[:8]
        alleles = [ref] + ([] if alt == "." else alt.split(","))
        shared = bytearray()
        shared += struct.pack("<iii", self.ctg_id[chrom], int(pos) - 1, len(ref))
        shared += (
            struct.pack("<I", _FLOAT_MISSING_BITS)
            if qual in _MISSING_TEXT
            else struct.pack("<f", np.float32(float(qual)))
        )
        # htslib skips empty INFO items (``;;``)
        info_items = [] if info == "." else [x for x in info.split(";") if x]
        shared += struct.pack("<I", (len(alleles) << 16) | len(info_items))
        fmt_keys = parts[8].split(":") if len(parts) > 8 else []
        samples = parts[9:] if len(parts) > 9 else []
        shared += struct.pack(
            "<I", (len(fmt_keys) << 24) | len(samples)
        )
        shared += self._typed_str("" if vid == "." else vid) if vid != "." else BCFCodec._typed_desc(_T_CHAR, 0)
        for a in alleles:
            shared += self._typed_str(a)
        if filt == ".":
            shared += BCFCodec._typed_desc(_T_INT8, 0)
        else:
            shared += self._typed_ints([self.str_id[f] for f in filt.split(";")])
        for item in info_items:
            if "=" in item:
                key, val = item.split("=", 1)
            else:
                key, val = item, None
            shared += self._typed_ints([self.str_id[key]])
            typ = self.types.get(key, "String")
            if val is None:  # Flag: typed MISSING atom
                shared += bytes([_T_MISSING])
            elif typ == "Integer":
                vs = val.split(",")
                shared += self._typed_ints(
                    [0 if v in _MISSING_TEXT else int(v) for v in vs],
                    missing={i for i, v in enumerate(vs) if v in _MISSING_TEXT},
                )
            elif typ == "Float":
                shared += self._typed_floats(
                    [None if v in _MISSING_TEXT else float(v) for v in val.split(",")]
                )
            else:
                shared += self._typed_str(val)
        indiv = bytearray()
        for fi, key in enumerate(fmt_keys):
            indiv += self._typed_ints([self.str_id[key]])
            cells = [s.split(":")[fi] if fi < len(s.split(":")) else "." for s in samples]
            typ = self.types.get(key, "String")
            if key == "GT":
                coded = []
                for c in cells:
                    al = []
                    sep_phased = "|" in c
                    for tok in c.replace("|", "/").split("/"):
                        a = -1 if tok == "." else int(tok)
                        al.append((a + 1) << 1 | (1 if sep_phased else 0))
                    if al:
                        al[0] &= ~1  # first allele carries no phase bit
                    coded.append(al)
                width = max((len(a) for a in coded), default=1)
                t = 1
                indiv += BCFCodec._typed_desc(t, width)
                for al in coded:
                    al = al + [_INT_END[t]] * (width - len(al))
                    indiv += struct.pack(f"<{width}{_INT_FMT[t]}", *al)
            elif typ == "Integer":
                vecs = [
                    [] if c in _MISSING_TEXT else [
                        None if v in _MISSING_TEXT else int(v) for v in c.split(",")
                    ]
                    for c in cells
                ]
                width = max((len(v) for v in vecs), default=1) or 1
                flat = [v for vec in vecs for v in vec if v is not None]
                t = self._int_type(flat or [0])
                indiv += BCFCodec._typed_desc(t, width)
                for vec in vecs:
                    row = [
                        _INT_MISSING[t] if v is None else v for v in vec
                    ]
                    if not row:
                        row = [_INT_MISSING[t]]
                    row += [_INT_END[t]] * (width - len(row))
                    indiv += struct.pack(f"<{width}{_INT_FMT[t]}", *row)
            elif typ == "Float":
                vecs = [
                    [] if c in _MISSING_TEXT else [
                        None if v in _MISSING_TEXT else float(v) for v in c.split(",")
                    ]
                    for c in cells
                ]
                width = max((len(v) for v in vecs), default=1) or 1
                indiv += BCFCodec._typed_desc(_T_FLOAT, width)
                for vec in vecs:
                    row = list(vec) or [None]
                    for v in row:
                        indiv += (
                            struct.pack("<I", _FLOAT_MISSING_BITS)
                            if v is None
                            else struct.pack("<f", np.float32(v))
                        )
                    indiv += struct.pack("<I", _FLOAT_END_BITS) * (
                        width - len(row)
                    )
            else:  # String/Character FORMAT: fixed-width char matrix
                width = max((len(c) for c in cells), default=1) or 1
                indiv += BCFCodec._typed_desc(_T_CHAR, width)
                for c in cells:
                    b = c.encode()[:width]
                    indiv += b + b"\x00" * (width - len(b))
        return (
            struct.pack("<II", len(shared), len(indiv))
            + bytes(shared)
            + bytes(indiv)
        )


# -- whole-file encode/decode ---------------------------------------------------


def write_bcf(vcf_path: str, out_path: str, index_path: str | None = None) -> str:
    """Encode a text VCF as BCF (+ optional CSI index built in the same
    pass — record-start virtual offsets from the BGZF writer). Fixture /
    round-trip device: htslib is absent from this environment, so tests
    prove decode(encode(vcf)) == read(vcf) through the full Spark source
    and assert the spec framing byte-level."""
    from vcf2db_spark.sources.bgzf import BGZFWriter
    from vcf2db_spark.sources.csi import CSIBuilder, write_csi

    with open(vcf_path) as fh:
        text = fh.read()
    header_lines = [ln for ln in text.splitlines() if ln.startswith("#")]
    body_lines = [ln for ln in text.splitlines() if ln and not ln.startswith("#")]
    # htslib rule: FILTER, INFO and FORMAT IDs used in the body but
    # undeclared in the header get header lines added on write (the
    # string dictionary can only index declared IDs); an added INFO or
    # FORMAT key is typed as one String, as htslib types it
    used: dict[str, set] = {"FILTER": set(), "INFO": set(), "FORMAT": set()}
    for ln in body_lines:
        parts = ln.split("\t")
        used["FILTER"].update(parts[6].split(";"))
        if parts[7] != ".":
            used["INFO"].update(x.split("=", 1)[0] for x in parts[7].split(";"))
        if len(parts) > 8:
            used["FORMAT"].update(parts[8].split(":"))
    extra = []
    for kind, attrs in (
        ("FILTER", ""), ("INFO", "Number=1,Type=String,"),
        ("FORMAT", "Number=1,Type=String,"),
    ):
        declared = {
            ln.split("ID=", 1)[1].split(",", 1)[0].split(">", 1)[0]
            for ln in header_lines
            if ln.startswith(f"##{kind}=")
        } | {"PASS", ".", ""}
        extra += [
            f'##{kind}=<ID={f},{attrs}Description="added on BCF write">'
            for f in sorted(used[kind] - declared)
        ]
    if extra:
        header_lines = header_lines[:-1] + extra + header_lines[-1:]
    header_text = "\n".join(header_lines) + "\n"
    n_samples = max(0, len(header_lines[-1].split("\t")) - 9)
    codec = BCFCodec(header_text, n_samples)
    builder = CSIBuilder() if index_path else None
    with BGZFWriter(out_path) as out:
        payload = header_text.encode() + b"\x00"
        out.write(BCF_MAGIC + struct.pack("<I", len(payload)) + payload)
        for ln in body_lines:
            parts = ln.split("\t")
            vbeg = out.tell_virtual()
            out.write(codec.encode_line(parts))
            if builder is not None:
                beg = int(parts[1]) - 1
                builder.add(
                    codec.ctg_id[parts[0]], beg, beg + len(parts[3]),
                    vbeg, out.tell_virtual(),
                )
    if builder is not None and index_path:
        write_csi(builder.build(names=codec.contigs), index_path)
    return out_path


def index_bcf(path: str, out_path: str | None = None) -> str:
    """Build a .csi for an existing BCF (``bcftools index`` parity):
    one sequential framed pass recording (rid, pos, rlen) per record —
    only the 12-byte shared prefix is decoded, never the full record —
    with record-start virtual offsets from the BGZF reader."""
    from vcf2db_spark.sources.bgzf import BGZFReader
    from vcf2db_spark.sources.csi import CSIBuilder, write_csi

    out_path = out_path or path + ".csi"
    header_text = read_bcf_header_text(path)
    contigs, _ = header_dicts(header_text + "\n")
    builder = CSIBuilder()
    with BGZFReader(path) as rd:
        rd.read(5)
        (l_text,) = struct.unpack("<I", rd.read(4))
        rd.read(l_text)
        while True:
            vbeg = rd.tell_virtual()
            frame = rd.read(8)
            if len(frame) < 8:
                break
            l_shared, l_indiv = struct.unpack("<II", frame)
            shared = rd.read(l_shared)
            rd.read(l_indiv)
            rid, pos, rlen = struct.unpack_from("<iii", shared, 0)
            builder.add(rid, pos, pos + max(rlen, 1), vbeg, rd.tell_virtual())
    write_csi(builder.build(names=contigs), out_path)
    return out_path


def iter_bcf_parts(path: str, contig: str | None = None):
    """Full-scan decode: yield text ``parts`` per record (optionally
    filtered to one contig) — the BCF twin of the text scan loop."""
    from vcf2db_spark.sources.bgzf import BGZFReader

    header_text = read_bcf_header_text(path)
    n_samples = max(
        0, len(header_text.splitlines()[-1].split("\t")) - 9
    )
    codec = BCFCodec(header_text + "\n", n_samples)
    with BGZFReader(path) as rd:
        rd.read(5)
        (l_text,) = struct.unpack("<I", rd.read(4))
        rd.read(l_text)
        while True:
            frame = rd.read(8)
            if len(frame) < 8:
                break
            l_shared, l_indiv = struct.unpack("<II", frame)
            shared = rd.read(l_shared)
            indiv = rd.read(l_indiv)
            parts = codec.decode_record(shared, indiv)
            if contig is None or parts[0] == contig:
                yield parts


def iter_bcf_chunk_parts(path: str, chunks, beg: int, end: int):
    """CSI-seek decode: inflate only the partition's chunk ranges and
    yield records overlapping [beg, end) — the htslib region-query loop
    over binary framing (the BCF twin of vcf.py ``_bgzf_records``)."""
    from vcf2db_spark.sources.bgzf import BGZFReader

    header_text = read_bcf_header_text(path)
    n_samples = max(0, len(header_text.splitlines()[-1].split("\t")) - 9)
    codec = BCFCodec(header_text + "\n", n_samples)
    with BGZFReader(path) as rd:
        for vbeg, vend in chunks or ():
            rd.seek_virtual(vbeg)
            while rd.tell_virtual() < vend:
                frame = rd.read(8)
                if len(frame) < 8:
                    break
                l_shared, l_indiv = struct.unpack("<II", frame)
                shared = rd.read(l_shared)
                indiv = rd.read(l_indiv)
                parts = codec.decode_record(shared, indiv)
                rec_beg = int(parts[1]) - 1
                rec_end = rec_beg + len(parts[3])
                if rec_beg < end and rec_end > beg:
                    yield parts
