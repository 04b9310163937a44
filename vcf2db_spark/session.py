"""The one owner of the Spark confs this package sets: ``runtime_conf``
is the one table of runtime SQL confs, which ``get_spark`` builds with
and ``pin_session_conf`` applies to a session we did not build;
``conf_scope`` is the one scoped override (tests/test_session_conf.py
keeps every other conf write out of the package).

Scale notes (100 TB design): the same builder settings apply on a real
cluster — AQE handles runtime coalescing/skew-splitting; shuffle partition
count is a starting hint that AQE re-plans. Only ``master`` changes.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession


def runtime_conf(cores: int) -> dict[str, str]:
    """The runtime SQL confs the package relies on, for ``cores`` slots."""
    return {
        # AQE: runtime partition coalescing, skew-join splitting, join re-plan.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Let AQE downgrade sort-merge joins to shuffled-hash at runtime
        # when the build side's per-partition map output is small (≤128 MB
        # here). Size-gated: a 100 TB build side exceeds the threshold and
        # keeps the spill-safe SMJ, so unlike preferSortMergeJoin=false
        # (measured 2× regression on the interval join) this cannot pin a
        # hash build that doesn't fit. Measured at sf1: tpch_q5 1.9→1.3 s,
        # join_star/agg_distinct ~6-10% — no query regressed.
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "134217728",
        # One slot per core; AQE coalesces small shuffles down at runtime.
        # (A/B with 8 vs 32 at sf0.1 is within run-to-run noise once warm —
        # the first session in a process pays ~2s of JIT regardless.)
        "spark.sql.shuffle.partitions": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cores, 8))
        ),
        # The r9 sf16 finding: with a FIXED reduce-side partition count
        # (= cores), the heavy TPC-H joins stopped falling toward 1× at
        # 16× the data — ~3M lineitem rows per partition pushed the
        # per-partition map output past the SHJ threshold and the SMJ
        # sorts into spill (tpch_q21 15.7 s → 6.7 s, tpch_q5 10.3 → 6.9 s
        # at sf16 when re-run at 256). AQE's pre-coalesce count is the
        # scale-adaptive fix: BATCH shuffles start at 8× cores and AQE
        # coalesces small stages back to ~advisory size (sf0.1 measured
        # neutral), while streaming state shuffles — where AQE never
        # coalesces — keep the shuffle.partitions count above. On a real
        # cluster the same knob is how a fixed-conf job survives growing
        # inputs between runs.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": os.environ.get(
            "SPARK_GRAFT_INITIAL_PARTITIONS", str(max(cores * 8, 64))
        ),
        # autoBroadcastJoinThreshold stays at the 10 MB default: measured
        # A/B at sf1 (tpch_q5 1.8 s @10 MB vs 5.2 s @64 MB) — raising it
        # flips million-row relations into single-threaded driver-side
        # broadcast builds that cost more than the shuffle they avoid.
        # Determinism: pin session TZ (fixtures carry naive timestamps).
        "spark.sql.session.timeZone": "UTC",
        # Parquet TIMESTAMP(NANOS) events.ts, which Spark's vectorized reader
        # rejects, reads as long; the events readers (io.table,
        # read_events_stream) truncate it to microseconds, as DuckDB does.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Arrow for pandas_udf / toPandas round-trips.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Python DataSource pushFilters (VCF source locus pruning); Spark
        # rejects a pushFilters read without it.
        "spark.sql.python.filterPushdown.enabled": "true",
    }


def get_spark(app_name: str = "vcf2db-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # One BLAS thread per process (see vcf2db_spark/__init__.py, where
    # the driver-side default is applied before numpy loads). Local-mode
    # workers inherit the launcher env; for CLUSTER deployments the same
    # pin must ride executorEnv, so re-state it here (harmless no-op
    # locally). Parameterized: an executor running fewer Python workers
    # than cores sets SPARK_GRAFT_BLAS_THREADS to its core/worker ratio.
    blas = os.environ.get("SPARK_GRAFT_BLAS_THREADS", "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=runtime_conf(int(cpus)))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", blas)
        .config("spark.executorEnv.OMP_NUM_THREADS", blas)
        .config("spark.executorEnv.MKL_NUM_THREADS", blas)
        # Harness knob: the differential comparator collects full results;
        # per-row queries at sf4 exceed the 1g default. Static conf —
        # tools/check.py sets the env var before building the session.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Static conf: the compiled-class cache for whole-stage codegen.
        # The default (100 entries) thrashes when a session cycles through
        # the full declared surface — every re-run of a query recompiles +
        # re-JITs its generated classes, which measured ~2× on steady-state
        # wall time at sf1 (agg_distinct 2.3 s recorded vs 1.0 s with a
        # warm class cache; fixed at 2000 entries in round 3). The cache
        # must track surface growth: at 184 queries × ~15 codegen stages
        # the working set (~2 800 classes) overflowed 2000 and the thrash
        # returned (round-5 sweep: agg_distinct 1.0→2.0 s, tpch_q16
        # 0.78→1.55 s sweep-only, while an isolated session stayed at the
        # old numbers). Sized with ~3× headroom; entries are soft
        # references, so an undersized heap still collects them under
        # pressure rather than OOMing. Irrelevant to single-pipeline
        # production jobs; essential for a many-query session like the
        # bench/driver sweep.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "8000"),
        )
        # The generated classes also occupy the JIT's code cache; the JVM
        # default (240 MB) silently stops compilation when full ("CodeCache
        # is full" appears only on stderr of the JVM, not the app log) and
        # everything after runs interpreted. 512 MB covers the full-sweep
        # class volume.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m",
        )
    )
    # Single-node shuffle path: no network hop, so lz4 on shuffle blocks is
    # pure CPU tax, and tmpfs beats disk for the intermediate files.
    # Measured at sf1 (median-of-3): tpch_q3 1.15→0.87 s, tpch_q5
    # 1.79→1.34 s, join_star 1.86→1.55 s. These are LOCAL-mode settings
    # only — a cluster deployment keeps compression for the wire and real
    # local dirs for spill durability; both are per-deployment conf, not
    # plan shape, so nothing here changes what runs at 100 TB.
    # Gate on actual free space: /dev/shm exists on every Linux host, but
    # containers commonly cap it at 64 MB — redirecting shuffle there would
    # ENOSPC on the first real spill. Require a healthy margin (8 GiB free)
    # before opting in; SPARK_GRAFT_TMPFS=0 disables it outright.
    if os.environ.get("SPARK_GRAFT_TMPFS", "1") != "0" and _tmpfs_free_bytes(
        "/dev/shm"
    ) >= 8 << 30:
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.local.dir", "/dev/shm/spark-tmp")
        )
    return builder.getOrCreate()


def _tmpfs_free_bytes(path: str) -> int:
    try:
        st = os.statvfs(path)
        return st.f_bavail * st.f_frsize
    except OSError:
        return 0


def pin_session_conf(spark: SparkSession) -> None:
    """Ready ``spark`` for the package, once per session object: apply
    ``runtime_conf`` and ship the package to Python workers. Readers and
    sinks call this, so a session the caller built (the driver harness,
    a notebook) runs the package like one from ``get_spark``."""
    if getattr(spark, "_vcf2db_pinned", False):
        return
    sc = spark.sparkContext
    confs = runtime_conf(sc.defaultParallelism)
    # an unconfigured session defaults to 200 shuffle partitions — far too
    # many tasks for a local driver harness (AQE coalesces reads, but the
    # map side still buckets 200 ways); leave any other choice alone
    if spark.conf.get("spark.sql.shuffle.partitions") != "200":
        del confs["spark.sql.shuffle.partitions"]
        del confs["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]
    for key, value in confs.items():
        # filterPushdown is a static conf on some builds; pushdown then
        # stays off
        if spark.conf.isModifiable(key):
            spark.conf.set(key, value)
    _ship_package(sc)
    spark._vcf2db_pinned = True


_SCOPE_LOCK = threading.RLock()


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body, then put each key back as
    it was (one that was unset is unset again). Every scope holds one
    process-wide re-entrant lock, so two threads cannot interleave their
    saves and restores. Keep the body short: a streaming query copies its
    session's conf when ``start()`` clones the session, so a drain scopes
    its ``start()``, never its ``awaitTermination()``."""
    with _SCOPE_LOCK:
        prev = {key: spark.conf.get(key, None) for key in confs}
        try:
            for key, value in confs.items():
                spark.conf.set(key, value)
            yield
        finally:
            for key, value in prev.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)


def _ship_package(sc: SparkContext) -> None:
    """Make ``vcf2db_spark`` importable on Python WORKERS regardless of the
    driver environment. Closures that reference this package by module
    (pandas UDFs, mapInArrow/mapInPandas stages, applyInPandasWithState,
    Python data sources) unpickle on the worker with a plain ``import
    vcf2db_spark`` — which fails if the driver only had the repo on
    ``sys.path`` (not ``$PYTHONPATH``, which is what worker processes
    inherit). ``addPyFile`` of a package zip is the environment-independent
    fix: workers prepend shipped files to their ``sys.path``. The
    streaming-source runner ignores those and reads only the PYTHONPATH a
    Python function copies from ``sc.environment`` when it is wrapped (a
    data source: at ``register``), so the zip goes there too. Cheap (one
    ~360 KB zip per process, under the scratch root), once per context."""
    import zipfile

    from vcf2db_spark.lifecycle import scratch_root

    if getattr(sc, "_vcf2db_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(scratch_root(), "vcf2db_spark_pkg.zip")
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    sc.addPyFile(zpath)
    sc.environment["PYTHONPATH"] = os.pathsep.join(
        p for p in (zpath, sc.environment.get("PYTHONPATH")) if p
    )
    sc._vcf2db_shipped = True
