"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files. The program under test only ever sees the files;
the expected values that the correctness checks use are computed here,
independently of the program.
"""

from __future__ import annotations

import hashlib
import io
import os
import random
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# ingest: an annotated multi-sample VCF
# ---------------------------------------------------------------------------

VCF_VARIANTS = 2000
VCF_SAMPLES = 8
VCF_CONTIGS = 8

_VCF_HEADER = """\
##fileformat=VCFv4.2
{contigs}
##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">
##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">
##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence annotations from Ensembl VEP. Format: Allele|Consequence|SYMBOL|Feature|BIOTYPE|EXON|Codons|Amino_acids|Protein_position|PolyPhen|SIFT">
##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">
##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">
##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t{samples}
"""

_CONSEQUENCES = (
    ("missense_variant", "protein_coding"),
    ("synonymous_variant", "protein_coding"),
    ("stop_gained", "protein_coding"),
    ("intron_variant", "protein_coding"),
    ("upstream_gene_variant", "lincRNA"),
)
_GENOTYPES = ("0/0", "0/1", "1/1", "./.")


@dataclass(frozen=True)
class VcfTruth:
    """What the generator wrote, counted while writing."""

    variants: int
    impacts: int
    het_calls: int
    s2_het_variants: int
    vcf_bytes: int


def write_vcf(path: str, seed: int, n: int = VCF_VARIANTS) -> VcfTruth:
    rng = random.Random(seed)
    contigs = [f"chr{i + 1}" for i in range(VCF_CONTIGS)]
    impacts = het_calls = s2_het = 0
    with open(path, "w") as fh:
        fh.write(
            _VCF_HEADER.format(
                contigs="\n".join(
                    f"##contig=<ID={c},length=248956422>" for c in contigs
                ),
                samples="\t".join(f"S{i + 1}" for i in range(VCF_SAMPLES)),
            )
        )
        per = n // VCF_CONTIGS
        for chrom in contigs:
            pos = 0
            for k in range(per):
                pos += rng.randrange(10, 500)
                ref = rng.choice("ACGT")
                alt = rng.choice([b for b in "ACGT" if b != ref])
                ac = rng.randrange(0, 7)
                info = f"AC={ac};AF={ac / 6:.3f};DP={rng.randrange(10, 90)}"
                if rng.random() < 0.6:
                    entries = []
                    for _ in range(rng.randrange(1, 4)):
                        cons, bio = rng.choice(_CONSEQUENCES)
                        entries.append(
                            f"{alt}|{cons}|GENE{rng.randrange(500)}"
                            f"|ENST{rng.randrange(10_000):05d}|{bio}"
                            f"|||||probably_damaging(0.9{k % 10})"
                            f"|deleterious(0.0{k % 10})"
                        )
                    impacts += len(entries)
                    info += ";CSQ=" + ",".join(entries)
                gts = [rng.choice(_GENOTYPES) for _ in range(VCF_SAMPLES)]
                het_calls += gts.count("0/1")
                s2_het += gts[1] == "0/1"
                fmt = "\t".join(
                    f"{gt}:{rng.randrange(20, 99)}:{rng.randrange(5, 40)}"
                    for gt in gts
                )
                fh.write(
                    f"{chrom}\t{pos}\t.\t{ref}\t{alt}\t{50 + k % 50}.0\tPASS"
                    f"\t{info}\tGT:GQ:DP\t{fmt}\n"
                )
    return VcfTruth(
        variants=per * VCF_CONTIGS,
        impacts=impacts,
        het_calls=het_calls,
        s2_het_variants=s2_het,
        vcf_bytes=os.path.getsize(path),
    )


# ---------------------------------------------------------------------------
# query_mix: the ten fixture tables the declared queries read
# ---------------------------------------------------------------------------

# Row counts sit between the sf0.001 and sf0.01 fixtures; documents and
# embeddings do not scale with sf in the fixtures either.
N_CUSTOMER = 600
N_SUPPLIER = 40
N_PART = 800
N_ORDERS = 6000
N_EVENTS = 4000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_WORDS = ("small", "red", "blue", "hot", "big", "green")
_PART_NOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "nut")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column order join small customer query "
    "stream filter group big vector"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = int(datetime(1995, 1, 1).timestamp()) * 1_000_000
_EPOCH_2024 = int(datetime(2024, 1, 1).timestamp()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


def write_fixtures(out_dir: str, seed: int) -> None:
    """Write region … embeddings parquet files with the fixture schemas."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS),
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, N_CUSTOMER).tolist()),
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2), f64),
    })
    words = rng.choice(_PART_WORDS, N_PART)
    nouns = rng.choice(_PART_NOUNS, N_PART)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": pa.array([f"{w} {n}" for w, n in zip(words, nouns)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, N_PART).tolist()),
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": pa.array(np.round(900 + np.arange(N_PART) % 1000 * 0.1, 2), f64),
    })

    order_days = rng.integers(0, 6 * 365 + 200, N_ORDERS)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], N_ORDERS).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, N_ORDERS), 2), f64),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, N_ORDERS).tolist()),
    })

    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(N_ORDERS), lines)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    price = np.round(qty * rng.uniform(900, 2100, n_li), 2)
    ship = order_days[l_order] + rng.integers(1, 122, n_li)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), i64),
        "l_linenumber": pa.array(l_number, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(price, f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist()),
        "l_shipdate": _ts(_EPOCH_1995 + ship * _DAY_US),
    })

    _write(f"{out_dir}/events.parquet", _events(rng, 0, N_EVENTS))

    docs = []
    for _ in range(N_DOCUMENTS):
        docs.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 80)))))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(N_DOCUMENTS), i64),
        "text": pa.array(docs),
        "lang": pa.array(rng.choice(_LANGS, N_DOCUMENTS).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
        "n_chars": pa.array([len(d) for d in docs], i64),
    })

    emb = rng.normal(0.0, 0.1, (N_EMBEDDINGS, 64)).astype("float32")
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(N_EMBEDDINGS), i64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
    })


def _events(rng: np.random.Generator, first_id: int, n: int) -> dict[str, pa.Array]:
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(_EPOCH_2024 + offs),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 490, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


# ---------------------------------------------------------------------------
# lake round: a seeded operation list on an orders-shaped table
# ---------------------------------------------------------------------------

LAKE_CREATE_ROWS = 3000
LAKE_APPEND_ROWS = 300
LAKE_MERGE_UPDATES = 150
LAKE_MERGE_INSERTS = 30
LAKE_DELETE_MODULUS = 61
STREAM_FILES = 3
STREAM_ROWS_PER_FILE = 1500

LAKE_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_totalprice", pa.float64()),
    ("o_orderstatus", pa.string()),
])


@dataclass
class LakeRound:
    append: pa.Table
    merge: pa.Table
    dv_merge: pa.Table
    delete_residue: int


@dataclass
class LakePlan:
    """The table's initial rows and a generator of seeded rounds. The
    expected table state is replayed here, in plain Python, alongside."""

    seed: int
    initial: pa.Table
    state: dict[int, tuple] = field(default_factory=dict)
    user_bytes: int = 0
    _rng: random.Random = field(init=False, repr=False)
    _next_key: int = field(init=False, repr=False)

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed * 7919 + 1)
        self._next_key = self.initial.num_rows
        self._apply_upsert(self.initial)
        self.user_bytes += parquet_bytes(self.initial)

    def _rows(self, keys: list[int]) -> pa.Table:
        rng = self._rng
        return pa.table(
            {
                "o_orderkey": keys,
                "o_custkey": [rng.randrange(600) for _ in keys],
                "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in keys],
                "o_orderstatus": [rng.choice("FOP") for _ in keys],
            },
            schema=LAKE_SCHEMA,
        )

    def _fresh(self, n: int) -> list[int]:
        keys = list(range(self._next_key, self._next_key + n))
        self._next_key += n
        return keys

    def _upsert_batch(self) -> pa.Table:
        keys = self._rng.sample(range(self._next_key), LAKE_MERGE_UPDATES)
        return self._rows(keys + self._fresh(LAKE_MERGE_INSERTS))

    def _apply_upsert(self, t: pa.Table) -> None:
        for row in zip(*(t.column(c).to_pylist() for c in LAKE_SCHEMA.names)):
            self.state[row[0]] = row

    def next_round(self) -> LakeRound:
        """Draw the next round and fold it into the expected state."""
        r = LakeRound(
            append=self._rows(self._fresh(LAKE_APPEND_ROWS)),
            merge=self._upsert_batch(),
            dv_merge=self._upsert_batch(),
            delete_residue=self._rng.randrange(LAKE_DELETE_MODULUS),
        )
        for t in (r.append, r.merge, r.dv_merge):
            self._apply_upsert(t)
            self.user_bytes += parquet_bytes(t)
        for k in [k for k in self.state if k % LAKE_DELETE_MODULUS == r.delete_residue]:
            del self.state[k]
        return r


def lake_plan(seed: int) -> LakePlan:
    rng = random.Random(seed * 104729 + 3)
    n = LAKE_CREATE_ROWS
    initial = pa.table(
        {
            "o_orderkey": list(range(n)),
            "o_custkey": [rng.randrange(600) for _ in range(n)],
            "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(n)],
        },
        schema=LAKE_SCHEMA,
    )
    return LakePlan(seed=seed, initial=initial)


def write_stream_source(out_dir: str, seed: int) -> dict[int, tuple]:
    """Events parquet files for the upsert drain. Returns the expected
    drain result: the (ts, event_id)-latest row per user_id."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 17)
    latest: dict[int, tuple] = {}
    for f in range(STREAM_FILES):
        cols = _events(rng, f * STREAM_ROWS_PER_FILE, STREAM_ROWS_PER_FILE)
        t = pa.table(cols)
        pq.write_table(t, f"{out_dir}/part-{f:03d}.parquet", compression="snappy")
        for row in zip(*(t.column(c).cast(pa.int64()).to_pylist() if c == "ts"
                         else t.column(c).to_pylist() for c in t.column_names)):
            cur = latest.get(row[2])
            if cur is None or (row[1], row[0]) > (cur[1], cur[0]):
                latest[row[2]] = row
    return latest


def parquet_bytes(t: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(t, buf, compression="snappy")
    return buf.tell()


def rows_digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a row collection."""
    keyed = sorted(repr(tuple(r)) for r in rows)
    return len(keyed), hashlib.sha256("\n".join(keyed).encode()).hexdigest()
