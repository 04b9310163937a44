"""Annotation explode + severity ranking (SURVEY.md §2A A6/A7).

Reimplements the geneimpacts pipeline the reference delegates to
[U vcf2db.py §gene_info ~L680; geneimpacts Effect.top_severity]: the VEP
``CSQ`` (or SnpEff ``ANN``) INFO string is a comma-separated list of
transcript annotations, each a ``|``-separated record whose keys come from
the header Description. ``explode_impacts`` splits and explodes them into
``variant_impacts``; ``with_top_impact`` picks the top-severity impact
row-locally (``array_min`` over the same per-annotation columns — no
shuffle, no join) to denormalize into ``variants``.

Severity order is the published Ensembl VEP consequence ranking collapsed
to gemini's HIGH/MED/LOW, ties broken by transcript id (lowest first) —
deterministic, unit-tested against a golden table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vcf2db_spark.sources.header import VCFHeader, clean

# Ensembl VEP consequence severity order (most → least severe), public table.
SEVERITY_ORDER: tuple[str, ...] = (
    "transcript_ablation",
    "splice_acceptor_variant",
    "splice_donor_variant",
    "stop_gained",
    "frameshift_variant",
    "stop_lost",
    "start_lost",
    "transcript_amplification",
    "feature_elongation",
    "feature_truncation",
    "inframe_insertion",
    "inframe_deletion",
    "missense_variant",
    "protein_altering_variant",
    "splice_donor_5th_base_variant",
    "splice_region_variant",
    "splice_donor_region_variant",
    "splice_polypyrimidine_tract_variant",
    "incomplete_terminal_codon_variant",
    "start_retained_variant",
    "stop_retained_variant",
    "synonymous_variant",
    "coding_sequence_variant",
    "mature_mirna_variant",
    "5_prime_utr_variant",
    "3_prime_utr_variant",
    "non_coding_transcript_exon_variant",
    "intron_variant",
    "nmd_transcript_variant",
    "non_coding_transcript_variant",
    "coding_transcript_variant",
    "upstream_gene_variant",
    "downstream_gene_variant",
    "tfbs_ablation",
    "tfbs_amplification",
    "tf_binding_site_variant",
    "regulatory_region_ablation",
    "regulatory_region_amplification",
    "regulatory_region_variant",
    "intergenic_variant",
    "sequence_variant",
)

RANK: dict[str, int] = {so: i for i, so in enumerate(SEVERITY_ORDER)}
_UNKNOWN_RANK = len(SEVERITY_ORDER)

# gemini-style 3-level severity: VEP HIGH → HIGH, MODERATE → MED, else LOW.
_HIGH_MAX = SEVERITY_ORDER.index("feature_truncation")
_MED_MAX = SEVERITY_ORDER.index("protein_altering_variant")

LOF_SO = {
    "transcript_ablation",
    "splice_acceptor_variant",
    "splice_donor_variant",
    "stop_gained",
    "frameshift_variant",
    "stop_lost",
    "start_lost",
}
EXONIC_SO = {
    "stop_gained", "frameshift_variant", "stop_lost", "start_lost",
    "inframe_insertion", "inframe_deletion", "missense_variant",
    "protein_altering_variant", "incomplete_terminal_codon_variant",
    "start_retained_variant", "stop_retained_variant", "synonymous_variant",
    "coding_sequence_variant", "5_prime_utr_variant", "3_prime_utr_variant",
    "non_coding_transcript_exon_variant",
}
CODING_SO = EXONIC_SO - {
    "5_prime_utr_variant", "3_prime_utr_variant", "non_coding_transcript_exon_variant",
}


def severity_category(rank_idx: int) -> str:
    if rank_idx <= _HIGH_MAX:
        return "HIGH"
    if rank_idx <= _MED_MAX:
        return "MED"
    return "LOW"


def _rank_map_expr():
    pairs = []
    for so, i in RANK.items():
        pairs.extend([F.lit(so), F.lit(i)])
    return F.create_map(*pairs)


# canonical column ← VEP subfield candidates (first present wins)
_CANON = {
    "gene": ("symbol", "gene"),
    "transcript": ("feature", "transcript"),
    "biotype": ("biotype",),
    "exon": ("exon",),
    "codon_change": ("codons",),
    "aa_change": ("amino_acids",),
    "aa_length": ("protein_position",),
}


def _impact_columns(toks: Column, subfields: list[str]) -> dict[str, Column]:
    """The ``variant_impacts`` columns of ONE annotation, in table order,
    from its ``|``-split tokens. Both the exploded table and the row-local
    top impact are built from this, so the two cannot drift."""
    cols = {name: F.nullif(toks.getItem(i), F.lit("")) for i, name in enumerate(subfields)}

    # a VEP Consequence may be '&'-joined; severity = the most severe member
    so_terms = F.split(F.lower(cols["consequence"]), "&")
    rank_map = _rank_map_expr()
    rank = F.array_min(
        F.transform(so_terms, lambda s: F.coalesce(rank_map[s], F.lit(_UNKNOWN_RANK)))
    )
    cols["impact_so"] = F.element_at(so_terms, 1)
    cols["severity_rank"] = rank

    names = set(cols)
    for target, candidates in _CANON.items():
        present = [c for c in candidates if c in names]
        if present and target not in names:
            cols[target] = F.coalesce(*[cols[c] for c in present])
    cols["impact_severity"] = (
        F.when(rank <= _HIGH_MAX, "HIGH").when(rank <= _MED_MAX, "MED").otherwise("LOW")
    )
    for name, terms in (("is_lof", LOF_SO), ("is_exonic", EXONIC_SO), ("is_coding", CODING_SO)):
        cols[name] = F.arrays_overlap(so_terms, F.array(*[F.lit(s) for s in sorted(terms)]))

    # polyphen/sift arrive as 'probably_damaging(0.957)' → pred + score
    for tool in ("polyphen", "sift"):
        if tool in names:
            raw = cols[tool]
            cols[f"{tool}_pred"] = F.nullif(F.regexp_extract(raw, r"^([^(]+)", 1), F.lit(""))
            cols[f"{tool}_score"] = F.regexp_extract(raw, r"\(([\d.]+)\)", 1).cast("double")
    return cols


def _annotations(df: DataFrame, header: VCFHeader) -> tuple[Column, list[str]]:
    """The annotation items of each row (array of ``|``-joined strings)
    and the cleaned subfield names."""
    key = header.annotation_key
    if key is None:
        raise ValueError("no annotation INFO field (CSQ/ANN/EFF/BCSQ) in header")
    ann_col = clean(key)
    items = F.col(ann_col)
    if not dict(df.dtypes).get(ann_col, "string").startswith("array"):
        items = F.split(items, ",")
    return items, [clean(s) for s in header.annotation_subfields]


def explode_impacts(
    df: DataFrame,
    header: VCFHeader,
    id_col: str = "variant_id",
) -> DataFrame:
    """One row per (variant, transcript annotation) — the
    ``variant_impacts`` table. split + explode + projection; a narrow op
    (no shuffle)."""
    items, subfields = _annotations(df, header)
    cols = _impact_columns(F.split(F.col("_ann"), r"\|"), subfields)
    return df.select(id_col, F.explode(items).alias("_ann")).select(
        id_col, *[c.alias(name) for name, c in cols.items()]
    )


def with_top_impact(
    df: DataFrame,
    header: VCFHeader,
    columns: tuple[str, ...] = (
        "gene", "transcript", "is_exonic", "is_coding", "is_lof", "exon",
        "codon_change", "aa_change", "aa_length", "biotype", "impact_so",
        "impact_severity", "polyphen_pred", "polyphen_score", "sift_pred",
        "sift_score",
    ),
) -> DataFrame:
    """Denormalize the top impact onto variants, replacing the raw
    annotation column. The argmax is row-local — ``array_min`` over one
    struct per annotation, no shuffle and no join: most severe first, ties
    → lowest transcript, then the remaining columns in table order
    (geneimpacts Effect.top_severity semantics). Un-annotated variants
    keep null impact columns, as the reference does."""
    items, subfields = _annotations(df, header)

    def ranked(toks: Column) -> Column:
        cols = _impact_columns(toks, subfields)
        return F.struct(
            cols["severity_rank"].alias("_r"),
            F.coalesce(cols["transcript"], F.lit("~")).alias("_t"),
            *[c.alias(name) for name, c in cols.items()],
        )

    split = F.transform(items, lambda a: F.split(a, r"\|"))
    out = df.withColumn("_top", F.array_min(F.transform(split, ranked)))
    have = set(out.schema["_top"].dataType.names)
    ann_col = clean(header.annotation_key)
    return out.select(
        *[c for c in df.columns if c != ann_col],
        *[F.col("_top")[c].alias(c) for c in columns if c in have],
    )
