"""The two workloads. Each is a single client in a closed loop: the next
operation starts when the previous one has finished.

A workload object has three phases, all driven by ``worker.py``:
``warm_up`` (counted in set-up), ``op`` (one timed operation, returning
its wall time and the time to its answer) and ``finish`` (checks on the
final state and the controls, outside timing, and the figures of the
detail line).
"""

from __future__ import annotations

import os
import shutil
import sqlite3
import statistics
import time

from perfbench import inputs

# One or two declared queries per family on the read path: relational,
# text (LLM-operator), Python UDF, Arrow UDF, graph. Cheap rows were
# preferred so that whole passes fit the run; see README.md.
QUERY_LIST = (
    "agg_group",
    "tpch_q5",
    "win_rank",
    "text_tfidf",
    "udf_scalar",
    "arrow_normalize",
    "pagerank",
)

GT_QUERY = "SELECT chrom, COUNT(*) AS n FROM variants GROUP BY chrom"
GT_FILTER = "gt_types.S2 == HET"


def noop(df) -> None:
    """Evaluate every output column without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Ingest:
    """One full vcf2db load of a seeded annotated VCF, then the first
    gemini answer from the written artifact."""

    name = "ingest"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        in_dir = os.path.join(ctx.run_dir, "in")
        os.makedirs(in_dir)
        self.vcf = os.path.join(in_dir, "input.vcf")
        self.truth = inputs.write_vcf(self.vcf, ctx.seed)
        self.out_root = os.path.join(ctx.run_dir, "ingest")
        self.n = 0
        self.db_bytes: list[float] = []

    def import_program(self) -> None:
        from vcf2db_spark import pipeline
        from vcf2db_spark.gemini import GeminiEngine
        from vcf2db_spark.sinks import sqlite, writers

        self.pipeline, self.sqlite, self.writers = pipeline, sqlite, writers
        self.GeminiEngine = GeminiEngine

    def warm_up(self) -> None:
        """None: vcf2db is run once per file, so the timed load is the
        first in the process, JIT and Python-worker start-up included."""

    def op(self) -> tuple[float, float]:
        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        out = os.path.join(self.out_root, f"op{self.n}")
        self.n += 1
        os.makedirs(out)
        db = os.path.join(out, "variants.db")
        first_exec = tr.last_execution_id() if tr.enabled else 0
        with tr.span("op") as op_span:
            t0 = time.perf_counter()
            with tr.span("sources.load_vcf"):
                tables = self.pipeline.load_vcf(spark, self.vcf, cache_parse=True)
            with tr.span("sinks.sqlite.write"):
                counts = self.sqlite.write_gemini_db(db, {
                    "variants": tables.variants,
                    "variant_impacts": tables.variant_impacts,
                    "vcf_header": tables.vcf_header,
                })
            with tr.span("sinks.writers.parquet"):
                self.writers.write_parquet(tables.variants, os.path.join(out, "parquet"))
            t1 = time.perf_counter()
            with tr.span("gemini.reopen"):
                engine = self.GeminiEngine(spark, self.pipeline.open_artifact(spark, db))
            with tr.span("gemini.query"):
                rows = engine.query(GT_QUERY, gt_filter=GT_FILTER).collect()
            t2 = time.perf_counter()
        tables.cached.unpersist()
        if tr.enabled:
            ctx.record_exec(op_span, op_span.seconds, first_exec)
            tr.add("sinks.writers.bytes", sum(dir_files(os.path.join(out, "parquet")).values()))
            tr.add("sinks.sqlite.rows", sum(counts.values()))
        self.db_bytes.append(os.path.getsize(db))
        self.check(counts, rows, db)
        shutil.rmtree(out, ignore_errors=True)
        return t2 - t0, t2 - t1

    def check(self, counts, rows, db) -> None:
        t = self.truth
        con = sqlite3.connect(db)
        try:
            het = con.execute("SELECT SUM(num_het) FROM variants").fetchone()[0]
        finally:
            con.close()
        got = (counts["variants"], counts["variant_impacts"], het,
               sum(r["n"] for r in rows))
        want = (t.variants, t.impacts, t.het_calls, t.s2_het_variants)
        self.ctx.verdict("ingest", got == want, f"got {got}, want {want}")

    def finish(self, ops: list[float], answers: list[float]) -> dict[str, float]:
        return {
            "ingest_variants_per_s": self.truth.variants / statistics.median(ops),
            "ingest_query_s": statistics.median(answers),
            "ingest_db_bytes_per_vcf_byte": statistics.median(self.db_bytes)
            / self.truth.vcf_bytes,
        }


class QueryMix:
    """One pass: every query of ``QUERY_LIST`` in a fixed order, each
    built and written to the noop sink, then one lakehouse maintenance
    round and one availableNow upsert drain."""

    name = "query_mix"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.run_dir, "data", "sf")
        inputs.write_fixtures(self.sf_dir, ctx.seed)
        self.stream_src = os.path.join(ctx.run_dir, "data", "events_stream")
        self.stream_expect = inputs.write_stream_source(self.stream_src, ctx.seed)
        self.lake_root = os.path.join(ctx.run_dir, "lake", "orders")
        self.drain_dir = os.path.join(ctx.run_dir, "lake", "drain")
        self.plan = inputs.lake_plan(ctx.seed)
        self.query_s: list[float] = []
        self.lake_round_s: list[float] = []
        self.lake_read_s: list[float] = []
        self.drain_s: list[float] = []
        self.timed_user_bytes = 0
        self.timed_lake_bytes = 0
        self.last_drain = None

    def import_program(self) -> None:
        # io.table is wrapped before the query modules bind it by name
        from vcf2db_spark import io

        self.ctx.tracer.wrap(io, "table", "io.table")
        from tools.check import compare
        from vcf2db_spark.queries import ORACLES, QUERIES
        from vcf2db_spark.sinks import lakehouse
        from vcf2db_spark.streaming import pipelines

        self.compare, self.queries, self.oracles = compare, QUERIES, ORACLES
        self.lh, self.pipelines = lakehouse, pipelines

    # -- warm-up doubles as the per-query correctness check -------------------

    def warm_up(self) -> None:
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in os.listdir(self.sf_dir):
            con.execute(
                f"CREATE VIEW {t.split('.')[0]} AS "
                f"SELECT * FROM read_parquet('{self.sf_dir}/{t}')")
        self.duck = con
        spark = self.ctx.spark
        for name in QUERY_LIST:
            try:
                got = self.queries[name](spark, self.sf_dir).toPandas()
                want = con.execute(self.oracles[name]).fetchdf()
                ok, msg = self.compare(got, want)
            except Exception as exc:  # noqa: BLE001 - a failed query is a failed op
                ok, msg = False, repr(exc)
            self.ctx.verdict(name, ok, msg)
        os.makedirs(os.path.dirname(self.lake_root), exist_ok=True)
        self.lh.create(spark, self.lake_root, self._df(self.plan.initial))

    def _df(self, table):
        return self.ctx.spark.createDataFrame(table.to_pandas())

    # -- one pass ----------------------------------------------------------------

    def op(self) -> tuple[float, float]:
        ctx, tr = self.ctx, self.ctx.tracer
        spark = ctx.spark
        t0 = time.perf_counter()
        for name in QUERY_LIST:
            first_exec = tr.last_execution_id() if tr.enabled else 0
            q0 = time.perf_counter()
            with tr.span("queries.construct"):
                df = self.queries[name](spark, self.sf_dir)
            if tr.enabled:
                with tr.span("catalyst"):
                    for phase, ms in tr.catalyst_phases(df).items():
                        tr.add(f"catalyst.{phase}_ms", ms)
            with tr.span("exec") as ex:
                noop(df)
            self.query_s.append(time.perf_counter() - q0)
            if tr.enabled:
                ctx.record_exec(ex, ex.seconds, first_exec)
        queries_s = time.perf_counter() - t0
        before = sum(dir_files(self.lake_root).values())
        user_before = self.plan.user_bytes
        self._round()
        self.timed_lake_bytes += sum(dir_files(self.lake_root).values()) - before
        self.timed_user_bytes += self.plan.user_bytes - user_before
        return queries_s + self.lake_round_s[-1], queries_s

    def _verb(self, verb: str, fn, *args, **kwargs):
        tr = self.ctx.tracer
        if not tr.enabled:
            return fn(*args, **kwargs)
        files = dir_files(self.lake_root)
        with tr.span(f"lake.{verb}"):
            out = fn(*args, **kwargs)
        after = dir_files(self.lake_root)
        added = [p for p in after if p not in files]
        tr.add(f"lake.{verb}_bytes_written", sum(after[p] for p in added))
        tr.add(f"lake.{verb}_files_added", len(added))
        if verb in ("append", "merge", "dv_merge", "dv_delete", "compact"):
            head = self.lh.history(self.lake_root, limit=1)[0]
            tr.add(f"lake.{verb}_files_removed", head["n_removed"])
        return out

    def _round(self) -> None:
        """One lakehouse round; its time excludes turning the seeded
        batches into DataFrames, which is the benchmark's own work."""
        spark, lh, root = self.ctx.spark, self.lh, self.lake_root
        r = self.plan.next_round()
        append, merge, dv_merge = (self._df(t) for t in (r.append, r.merge, r.dv_merge))
        t0 = time.perf_counter()
        self._verb("append", lh.append, spark, root, append)
        self._verb("merge", lh.merge, spark, root, merge, key="o_orderkey")
        self._verb("dv_merge", lh.dv_merge, spark, root, dv_merge, key="o_orderkey")
        self._verb("dv_delete", lh.dv_delete, spark, root,
                   f"o_orderkey % {inputs.LAKE_DELETE_MODULUS} = {r.delete_residue}")
        self._verb("compact", lh.compact, spark, root)
        r0 = time.perf_counter()
        self._verb("read", lambda: noop(lh.read(spark, root)))
        head = lh.latest_version(root)
        self._verb("read_version", lambda: noop(lh.read(spark, root, max(0, head - 3))))
        self.lake_read_s.append(time.perf_counter() - r0)
        self._verb("history", lh.history, root)
        d0 = time.perf_counter()
        with self.ctx.tracer.span("streaming.drain"):
            self.last_drain = self.pipelines.upsert_latest_drain(
                spark, self.stream_src, self.drain_dir)
            noop(self.last_drain)
        self.drain_s.append(time.perf_counter() - d0)
        self.lake_round_s.append(time.perf_counter() - t0)

    # -- after the timed loop ---------------------------------------------------------

    def finish(self, ops: list[float], answers: list[float]) -> dict[str, float]:
        spark = self.ctx.spark
        rows = self.lh.read(spark, self.lake_root).collect()
        got = inputs.rows_digest(
            (r.o_orderkey, r.o_custkey, r.o_totalprice, r.o_orderstatus) for r in rows)
        want = inputs.rows_digest(self.plan.state.values())
        self.ctx.verdict("lake_state", got == want, f"got {got}, want {want}")
        drained = {r.user_id: r.event_id for r in self.last_drain.collect()}
        expect = {u: row[0] for u, row in self.stream_expect.items()}
        self.ctx.verdict("drain_state", drained == expect,
                         f"{len(drained)} users drained, {len(expect)} expected")

        floor = []
        for _ in range(10):
            t = time.perf_counter()
            spark.range(1).count()
            floor.append(time.perf_counter() - t)
        duck = []
        for _ in range(3):
            t = time.perf_counter()
            for name in QUERY_LIST:
                self.duck.execute(self.oracles[name]).arrow()
            duck.append(time.perf_counter() - t)
        self.duck.close()
        return {
            "query_pass_s": statistics.median(answers),
            "query_p50_s": statistics.median(self.query_s),
            "lake_round_s": statistics.median(self.lake_round_s),
            "lake_read_s": statistics.median(self.lake_read_s),
            "lake_drain_s": statistics.median(self.drain_s),
            "lake_write_amp": self.timed_lake_bytes / max(1, self.timed_user_bytes),
            "ctl.job_floor_s": statistics.median(floor),
            "ctl.duckdb_mix_s": statistics.median(duck),
        }


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
