"""One benchmark run inside its own process: set up a Spark session, warm
up, run the workload's closed loop for ``--seconds``, check the outputs
and write the result record. ``run.py`` starts it; see README.md."""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

from perfbench import stats
from perfbench.trace import STREAM_PHASES, Tracer
from perfbench.workloads import WORKLOADS

SESSION_BUILDS = 3
LAKE_VERBS = ("append", "merge", "dv_merge", "dv_delete", "compact", "read",
              "read_version", "history")


class Context:
    """State one run shares with its workload."""

    def __init__(self, args) -> None:
        self.seed = args.seed
        self.run_dir = args.run_dir
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self.tracer = Tracer(None, mode=bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def verdict(self, what: str, ok: bool, detail: str) -> None:
        """Count one checked operation; a failed check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}"[:300])

    def record_exec(self, span, seconds: float, first_exec: int) -> None:
        tr = self.tracer
        tr.add("exec.s", seconds)
        tr.add("exec.jobs", len(span.jobs))
        for k, v in tr.job_stats(span.jobs).items():
            tr.add(f"exec.{k}", v)
        for k, v in tr.python_metrics(first_exec).items():
            tr.add(f"python.{k}", v)


def build_session(ctx: Context) -> list[float]:
    """Build the session ``SESSION_BUILDS`` times, each followed by one
    one-row job; the first build also launches the JVM."""
    from vcf2db_spark.session import get_spark

    times = []
    for i in range(SESSION_BUILDS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t = time.perf_counter()
        ctx.spark = get_spark("perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.spark.range(1).count()
        times.append(time.perf_counter() - t)
    ctx.tracer.spark = ctx.spark
    return times


def driver_rss_peak_mb(spark) -> float:
    peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak_kb += int(line.split()[1])
    except (AttributeError, OSError):
        pass
    return peak_kb / 1024.0


def end_to_end(setup_s: float, ops: list[float]) -> dict:
    """The gated metrics of one run."""
    return {"setup_s": setup_s, "op_p50_s": statistics.median(ops) if ops else 0.0}


def per_layer(ctx: Context, timings: dict, builds, traced, untraced,
              details: dict) -> dict:
    """Every per-layer metric but ``lifecycle.leaked_dirs``, which
    ``run.py`` counts after the worker has exited. ``traced`` and
    ``untraced`` hold operation seconds in run order; sums over traced
    operations are reported per traced operation. The first untraced
    operation is the run's first and the coldest, so the overhead leaves
    it out."""
    tr = ctx.tracer
    n = max(1, len(traced))
    c = tr.counts

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out: dict[str, float] = {
        "bench.inputs_s": timings["inputs_s"],
        "session.import_s": timings["import_s"],
        "session.jvm_launch_s": builds[0],
        "session.build_s": statistics.median(builds),
        "session.warmup_s": timings["warmup_s"],
        "session.driver_rss_peak_mb": driver_rss_peak_mb(ctx.spark),
        "trace.ops_traced": len(traced),
        "trace.ops_untraced": len(untraced),
        "trace.op_traced_s": med(traced),
        "trace.op_untraced_s": med(untraced[1:]),
        "trace.overhead_s": med(traced) - med(untraced[1:]),
    }
    for layer, detail in (("ctl.job_floor_s", "ctl.job_floor_s"),
                          ("ctl.duckdb_mix_s", "ctl.duckdb_mix_s"),
                          ("sinks.sqlite.db_bytes_per_vcf_byte",
                           "ingest_db_bytes_per_vcf_byte"),
                          ("lake.write_amp", "lake_write_amp")):
        out[layer] = details.get(detail, 0.0)
    calls, secs, jobs = tr.total("io.table")
    out["io.table.calls"], out["io.table.s"], out["io.table.jobs"] = (
        calls / n, secs / n, jobs / n)
    out["queries.construct_s"] = tr.total("queries.construct")[1] / n
    out["queries.construct_jobs"] = tr.total("queries.construct")[2] / n
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = c.get(f"catalyst.{phase}_ms", 0.0) / n
    for k in ("s", "jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "executor_run_ms"):
        out[f"exec.{k}"] = c.get(f"exec.{k}", 0.0) / n
    out["exec.busy_ratio"] = (
        c.get("exec.executor_run_ms", 0.0) / (1000.0 * c["exec.s"] * ctx.cores)
        if c.get("exec.s") else 0.0)
    for k in ("eval_nodes", "rows_to_worker", "rows_from_worker",
              "bytes_to_worker", "bytes_from_worker"):
        out[f"python.{k}"] = c.get(f"python.{k}", 0.0) / n
    _, s, jobs = tr.total("sources.load_vcf")
    out["sources.load_vcf_s"], out["sources.load_vcf_jobs"] = s / n, jobs / n
    _, s, _ = tr.total("sinks.sqlite.write")
    out["sinks.sqlite.write_s"] = s / n
    out["sinks.sqlite.rows_per_s"] = c.get("sinks.sqlite.rows", 0.0) / s if s else 0.0
    out["sinks.writers.parquet_s"] = tr.total("sinks.writers.parquet")[1] / n
    out["sinks.writers.bytes"] = c.get("sinks.writers.bytes", 0.0) / n
    out["gemini.reopen_s"] = tr.total("gemini.reopen")[1] / n
    out["gemini.query_s"] = tr.total("gemini.query")[1] / n
    for verb in LAKE_VERBS:
        _, s, jobs = tr.total(f"lake.{verb}")
        out[f"lake.{verb}_s"], out[f"lake.{verb}_jobs"] = s / n, jobs / n
        for k in ("bytes_written", "files_added", "files_removed"):
            out[f"lake.{verb}_{k}"] = c.get(f"lake.{verb}_{k}", 0.0) / n
    out["streaming.drain_s"] = tr.total("streaming.drain")[1] / n
    out["streaming.batches"] = c.get("streaming.batches", 0.0) / n
    for phase in STREAM_PHASES:
        out[f"streaming.{phase}_ms"] = c.get(f"streaming.{phase}_ms", 0.0) / n
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    ctx = Context(args)
    t = time.perf_counter()
    w = WORKLOADS[args.workload](ctx)
    inputs_s = time.perf_counter() - t

    t = time.perf_counter()
    import vcf2db_spark  # noqa: F401 - import cost is part of set-up

    w.import_program()
    import_s = time.perf_counter() - t
    builds = build_session(ctx)
    ctx.tracer.listen_streams()

    t = time.perf_counter()
    w.warm_up()
    warmup_s = time.perf_counter() - t
    setup_s = import_s + statistics.median(builds) + warmup_s

    ops: list[float] = []
    answers: list[float] = []
    traced: list[float] = []
    untraced: list[float] = []
    deadline = time.perf_counter() + args.seconds
    # A traced run times its first operation untraced, as an untraced run
    # does, then alternates traced and untraced ones, at least one of each
    # after the first, so the tracing overhead is measured within the run
    # between operations that are equally warm.
    tried = 0
    while time.perf_counter() < deadline or (ctx.tracer.mode and tried < 3):
        ctx.tracer.enabled = ctx.tracer.mode and tried % 2 == 1
        tried += 1
        checked = ctx.attempted
        try:
            op_s, answer_s = w.op()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            ctx.verdict(f"{w.name} op", False, repr(exc))
            continue
        if ctx.attempted == checked:  # the op carried no check of its own
            ctx.attempted += 1
        ops.append(op_s)
        answers.append(answer_s)
        (traced if ctx.tracer.enabled else untraced).append(op_s)
    ctx.tracer.enabled = False
    details = w.finish(ops, answers) if ops else {}
    ctx.tracer.stop_listening()

    record = {
        "workload": w.name,
        "seed": args.seed,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failures": ctx.failures,
        "end_to_end": end_to_end(setup_s, ops),
        "samples": {"ops": stats.summarize(ops) if ops else None,
                    "answers": stats.summarize(answers) if answers else None},
        "details": details,
        "per_layer": {},
    }
    if ctx.tracer.mode:
        timings = {"inputs_s": inputs_s, "import_s": import_s, "warmup_s": warmup_s}
        record["per_layer"] = per_layer(ctx, timings, builds, traced, untraced, details)
    ctx.spark.stop()
    with open(args.result, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
