"""Bounded-collect guard (r6): every `.collect()` / `.toPandas()` in the
package must be a DOCUMENTED driver-bounded site.

The 100 TB posture audit (VERDICT r4/r5) hand-verified that every
driver materialization is bounded by something other than data volume —
centroid counts, shard manifests, 1-row aggregates, limit(k) probes.
This test freezes that audit: the allowlist below names each file's
sites and WHY each is bounded; a new `.collect()` anywhere fails until
it is added here with its bound stated. That makes "no unbounded
driver materialization" a property the suite enforces, not a claim a
reviewer must re-derive each round.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "vcf2db_spark"

# file (relative to vcf2db_spark/) → (expected site count, bound reason)
ALLOWED = {
    "streaming/pipelines.py": (1, "distinct bucket ids of ONE micro-batch (≤ n_buckets)"),
    "sinks/writers.py": (1, "1-row min/max aggregate for parquet footer stats"),
    "sinks/export.py": (3, "per-shard manifest stats — one row per shard (pmod-bounded)"),
    "sinks/lakehouse.py": (3, "MERGE/DV-MERGE planner (_keyed_batch): 1-row key-bounds aggregate + per-file hit list; DELETE find-touched basenames (all file-count-bounded)"),
    "operators/dedup.py": (2, "limit(small_threshold+1) union-find probe; 1-row convergence sum per jump"),
    "operators/bpe.py": (1, "limit(1) argmax merge-pair per BPE iteration"),
    "operators/quantization.py": (1, "hash-ordered k-means/OPQ shared training sample via collect_train_sample (sample-size bounded)"),
    "operators/variants.py": (1, "per-partition count offsets — one row per partition"),
    "operators/bloom.py": (3, "per-file bloom bitmaps + any-key probe matches (both file-count-bounded) + 1-row NaN-presence aggregate"),
    "queries/lakehouse_dq.py": (1, "top-3 lookup keys for the bloom point-read demo (3 rows)"),
    "operators/similarity.py": (3, "IVF centroids (n_lists-bounded) ×2; centroid parquet read-back"),
    "gemini.py": (1, "sample NAMES for a wildcard selector (cohort-sample-bounded)"),
    "sources/bed.py": (1, "BED interval dim for broadcast (annotation-track-bounded)"),
    "inheritance.py": (1, "PED sample rows (cohort-sample-bounded)"),
    "pipeline.py": (1, "1-row VCF header text"),
    "queries/pipeline_ext.py": (2, "single query vector (vec_id = 0) for ANN demos"),
    "queries/vectors.py": (1, "(i,j) moment cells of a 16×16 covariance — 256-bounded"),
    "queries/gemini_dq.py": (1, "cohort VCF generator keys — |supplier| = 10k·sf (DQ device)"),
    "sinks/sqlite.py": (1, "stream=False opt-in drain: caller asserts cohort-sized table; default path streams partition-bounded"),
}

_SITE = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.collectAsList\(")


def test_every_driver_collect_is_allowlisted():
    found: dict[str, int] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        n = 0
        for line in path.read_text().splitlines():
            stripped = line.strip()
            if stripped.startswith("#"):
                continue
            n += len(_SITE.findall(line))
        if n:
            found[rel] = n
    extra = {f: n for f, n in found.items() if f not in ALLOWED}
    assert not extra, (
        f"NEW driver collect/toPandas sites {extra} — prove each is "
        "bounded independent of data volume and add it to ALLOWED with "
        "its bound, or redesign it off the driver"
    )
    drift = {
        f: (n, ALLOWED[f][0]) for f, n in found.items() if n != ALLOWED[f][0]
    }
    assert not drift, (
        f"collect-site count changed (found, expected): {drift} — "
        "re-audit the file and update ALLOWED"
    )
    gone = {f for f in ALLOWED if f not in found}
    assert not gone, f"stale allowlist entries (sites removed): {gone}"


def test_blas_thread_pin_defaults():
    """Importing the package defaults the BLAS pool size to one thread
    per process (optimization guide §2.6 oversubscription: N local
    workers × cpu_count() BLAS threads), while an explicit caller
    export wins. The default must be applied at package import — the
    OpenBLAS pool size is read once at numpy load."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, %r); import vcf2db_spark, os; "
        "print(os.environ['OPENBLAS_NUM_THREADS'], "
        "os.environ['OMP_NUM_THREADS'])" % repo
    )
    env = {k: v for k, v in os.environ.items()
           if k not in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                        "MKL_NUM_THREADS", "SPARK_GRAFT_BLAS_THREADS")}
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["1", "1"]
    env["OPENBLAS_NUM_THREADS"] = "8"  # caller export wins over default
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["8", "1"]
