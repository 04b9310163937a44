"""VCF ingest throughput bench — the reference's own headline metric
(anecdotally O(10^3) variants/sec single-core; BASELINE.md). Generates a
deterministic synthetic annotated VCF, runs the full load_vcf pipeline
(parse → derive → variant_id → impacts explode → top-severity), and
reports variants/sec end-to-end.

Usage: python tools/bench_vcf.py [--n 50000] [--contigs 8]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """\
##fileformat=VCFv4.2
{contig_lines}
##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">
##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">
##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL|Feature|BIOTYPE|EXON|Codons|Amino_acids|Protein_position|PolyPhen|SIFT">
##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{sample_cols}
"""

CONSEQ = [
    ("missense_variant", "protein_coding"),
    ("synonymous_variant", "protein_coding"),
    ("stop_gained", "protein_coding"),
    ("intron_variant", "protein_coding"),
    ("upstream_gene_variant", "lincRNA"),
]
GTS = ["0/0", "0/1", "1/1", "./."]
BASES = "ACGT"


def make_vcf(
    path: str, n: int, contigs: int, seed: int = 42, samples: int = 3
) -> None:
    rng = random.Random(seed)
    names = [f"chr{i + 1}" for i in range(contigs)]
    contig_lines = "\n".join(
        f"##contig=<ID={c},length=248956422>" for c in names
    )
    with open(path, "w") as fh:
        fh.write(
            HEADER.format(
                contig_lines=contig_lines,
                sample_cols="\t".join(f"S{i + 1}" for i in range(samples)),
            )
        )
        per = n // contigs
        for ci, chrom in enumerate(names):
            pos = 0
            for k in range(per):
                pos += rng.randrange(10, 500)
                ref = rng.choice(BASES)
                alt = rng.choice([b for b in BASES if b != ref])
                ac = rng.randrange(0, 7)
                info = f"AC={ac};AF={ac / 6:.3f};DP={rng.randrange(10, 90)}"
                if rng.random() < 0.6:
                    cons, bio = rng.choice(CONSEQ)
                    gene = f"GENE{rng.randrange(500)}"
                    info += (
                        f";CSQ={alt}|{cons}|{gene}|ENST{rng.randrange(10_000):05d}|{bio}"
                        f"|||||probably_damaging(0.9{k % 10})|deleterious(0.0{k % 10})"
                    )
                fmt = "\t".join(
                    f"{rng.choice(GTS)}:{rng.randrange(20, 99)}:{rng.randrange(5, 40)}"
                    for _ in range(samples)
                )
                fh.write(
                    f"{chrom}\t{pos}\t.\t{ref}\t{alt}\t{50 + k % 50}.0\tPASS\t{info}"
                    f"\tGT:GQ:DP\t{fmt}\n"
                )


def run_split_ab(args) -> None:
    """Single-contig bgzf parse: intra-contig splitting vs 1 task/contig.

    Before r6 a single-contig file collapsed the whole parse onto ONE
    core regardless of cluster size; tabix-linear-index splitting gives
    it data-proportional parallelism. Reports tasks + wall time + rows
    for both plans (rows must match exactly)."""
    from vcf2db_spark.session import get_spark
    from vcf2db_spark.sources.bgzf import compress_file
    from vcf2db_spark.sources.tabix import index_vcf
    from vcf2db_spark.sources.vcf import read_vcf

    path = f"/tmp/bench_vcf_split_{args.n}.vcf"
    if not os.path.exists(path):
        make_vcf(path, args.n, contigs=1)
    gz = path + ".gz"
    if not os.path.exists(gz + ".tbi"):
        compress_file(path, gz)
        index_vcf(gz)

    spark = get_spark("vcf-split-ab")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"metric": "vcf_single_contig_split_ab", "n": args.n}
    for label, target in (
        ("one_task_per_contig", 0),
        ("chunk_split", args.target_kb << 10),
    ):
        df = read_vcf(spark, gz, target_partition_bytes=target)
        tasks = df.rdd.getNumPartitions()
        t0 = time.perf_counter()
        rows = df.count()
        secs = time.perf_counter() - t0
        out[label] = {
            "tasks": tasks,
            "seconds": round(secs, 2),
            "rows": rows,
            "variants_per_sec": round(rows / secs),
        }
    a, b = out["one_task_per_contig"], out["chunk_split"]
    assert a["rows"] == b["rows"], "split changed row count!"
    out["speedup"] = round(a["seconds"] / b["seconds"], 2)
    print(json.dumps(out))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=50_000)
    ap.add_argument("--contigs", type=int, default=8)
    ap.add_argument(
        "--sqlite",
        action="store_true",
        help="also produce the gemini-compatible .db artifact and report "
        "its end-to-end load rate (the reference's own headline metric)",
    )
    ap.add_argument(
        "--split-ab",
        action="store_true",
        help="bgzip+index a SINGLE-contig copy of the input and A/B the "
        "parse with intra-contig chunk splitting on vs off (one task per "
        "contig) — the VERDICT r5 item-5 scaling point",
    )
    ap.add_argument(
        "--target-kb",
        type=int,
        default=256,
        help="split target in COMPRESSED KB for --split-ab (small enough "
        "to exercise splitting on a bench-sized file)",
    )
    args = ap.parse_args()

    if args.split_ab:
        run_split_ab(args)
        return

    from vcf2db_spark.pipeline import load_vcf
    from vcf2db_spark.session import get_spark

    path = f"/tmp/bench_vcf_{args.n}_{args.contigs}.vcf"
    if not os.path.exists(path):
        make_vcf(path, args.n, args.contigs)

    from vcf2db_spark.sinks.writers import write_parquet

    spark = get_spark("vcf-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # the real ETL shape: parse → transform → columnar sink; cache_parse
    # lets variant_id's range sampling and the two table sinks share one
    # Python-parse pass, like the reference's single cursor feeding two
    # INSERT streams
    out = f"/tmp/bench_vcf_out_{args.n}"
    t0 = time.perf_counter()
    tables = load_vcf(spark, path, cache_parse=True)
    write_parquet(tables.variants, f"{out}/variants")
    if tables.variant_impacts is not None:
        write_parquet(tables.variant_impacts, f"{out}/variant_impacts", partition_by=())
    secs = time.perf_counter() - t0
    n_variants = spark.read.parquet(f"{out}/variants").count()
    n_impacts = (
        spark.read.parquet(f"{out}/variant_impacts").count()
        if tables.variant_impacts is not None
        else 0
    )
    result = {
        "metric": "vcf_load_throughput",
        "variants": n_variants,
        "impacts": n_impacts,
        "seconds": round(secs, 2),
        "variants_per_sec": round(n_variants / secs),
        "contig_partitions": args.contigs,
    }

    if args.sqlite:
        # apples-to-apples with the reference: same input → same artifact
        # (SQLite db with packed genotype blobs), Spark doing the parse/
        # derive/pack distributed and the driver streaming executemany
        from vcf2db_spark.sinks.sqlite import write_gemini_db

        tables.cached.unpersist()  # hold one cached parse at a time
        t0 = time.perf_counter()
        tables2 = load_vcf(spark, path, cache_parse=True)
        counts = write_gemini_db(
            f"{out}/bench.db",
            {"variants": tables2.variants, "variant_impacts": tables2.variant_impacts},
        )
        sq_secs = time.perf_counter() - t0
        result["sqlite_seconds"] = round(sq_secs, 2)
        result["sqlite_variants_per_sec"] = round(counts["variants"] / sq_secs)

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
