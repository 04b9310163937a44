"""The Python reference for how one VCF record becomes ``variants`` rows.

``sources.vcf.vcf_columns`` is the only record parser in the package; it
is Spark SQL. This module keeps the plain-Python statement of the same
rules, record by record, so ``tests/test_vcf_builders.py`` can check
every container ``read_vcf`` reads against it: ``_row_builder(header,
schema, decompose)`` returns a function from the tab-split fields of one
record to its rows, in ``build_schema`` column order.
"""

from __future__ import annotations

from pyspark.sql import types as T

from vcf2db_spark.sources.header import VCFHeader, clean
from vcf2db_spark.sources.vcf import _DECOMPOSED_HINT, _SPLIT_HINT, MISSING_INT


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
