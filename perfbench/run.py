"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It starts ``perfbench/worker.py`` in
a process group of its own, with the checkout root as working directory
and on ``PYTHONPATH``, and with Spark's scratch directories inside a
fresh run directory under the checkout. When the worker has exited it
counts the scratch directories the program left in ``/tmp`` and
``/dev/shm``, deletes the run directory, and prints the result as the
last line of standard output. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from importlib import metadata

TIME_LIMIT_S = 170
RUN_DIR = ".perfbench_run"
SCRATCH_ROOTS = ("/tmp", "/dev/shm")
CORES = 4
DRIVER_MEMORY = "2g"
LEAKED_DIRS = "lifecycle.leaked_dirs"


def listing(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except OSError:
        return set()


def remove_stale_runs(base: str) -> None:
    """Delete run directories left by runs whose process is gone."""
    for name in listing(base):
        try:
            os.kill(int(name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's group and wait for them."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def worker_env(root: str, run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        # Spark's Python workers import the package from PYTHONPATH; the
        # streaming-source runner does not see the session's addPyFile zip
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        # keep shuffle and spill inside the checkout instead of /dev/shm
        "SPARK_GRAFT_TMPFS": "0",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    return env


def host_context(env: dict[str, str]) -> dict:
    def package(name: str) -> str:
        try:
            return metadata.version(name)
        except metadata.PackageNotFoundError:
            return "unknown"

    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30)
        java = (out.stdout + out.stderr).strip().splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "nproc": os.cpu_count(),
        "spark": package("pyspark"),
        "java": java,
        "duckdb": package("duckdb"),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "driver_memory": env["SPARK_DRIVER_MEM"],
        "shuffle_on_dev_shm": env["SPARK_GRAFT_TMPFS"] != "0",
    }


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "vcf2db_spark")):
        print("perfbench: run from the root of a vcf2db_spark checkout",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    base = os.path.join(root, RUN_DIR)
    remove_stale_runs(base)
    run_dir = os.path.join(base, str(os.getpid()))
    os.makedirs(run_dir)
    env = worker_env(root, run_dir)
    result_path = os.path.join(run_dir, "result.json")
    before = {d: listing(d) for d in SCRATCH_ROOTS}
    cmd = [sys.executable, os.path.join(root, "perfbench", "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--result", result_path]
    proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, TIME_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        print("perfbench: worker overran the time limit", file=sys.stderr)
        code = -1
    finally:
        stop_group(proc.pid)
        proc.wait()

    try:
        if code != 0:
            print(f"perfbench: worker exited with {code}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            record = json.load(fh)
        leaked = sum(len(listing(d) - before[d]) for d in SCRATCH_ROOTS)
        leaked += sum(len(listing(os.path.join(run_dir, d))) for d in ("tmp", "local"))
        record["per_layer"][LEAKED_DIRS] = leaked
        record["host"] = host_context(env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there

    values = record["per_layer"] if args.trace else record["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({k: record[k] for k in ("workload", "seed", "samples", "details",
                                              "failures", "host")}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
