"""Scratch-space ownership: every scratch directory the package makes
comes from ``vcf2db_spark.lifecycle``, under one per-process root that
is removed at interpreter exit.

Two gates. The leak gate runs the file-writing queries twice in a child
process with ``TMPDIR`` pointed at an empty directory, checks that each
operator's ``Lifecycle`` holds exactly its latest directory under the
root, and after the child exits checks that nothing is left in
``TMPDIR`` and that no ``vcf2db*`` entry appeared in ``/tmp`` or
``/dev/shm``. The static guard keeps hand-built ``/tmp`` and
``/dev/shm`` paths, and private ``atexit``/``tempfile`` scratch
handling, out of the package.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "vcf2db_spark"

#: operator → (module, Lifecycle attribute) that owns its scratch dir
OPERATORS = {
    "orc_roundtrip": ("queries.warehouse", "_ORC_RT_LC"),
    "compact_files": ("queries.warehouse", "_COMPACT_LC"),
    "lakehouse_timetravel": ("queries.lakehouse_dq", "_TT_LC"),
    "stream_sink_parquet": ("queries.streaming_dq", "_SINK_LC"),
    "stream_upsert": ("streaming.pipelines", "_UPSERT_LC"),
}

_CHILD = textwrap.dedent(
    """
    import importlib, json, os, sys

    from vcf2db_spark import io, lifecycle
    from vcf2db_spark.queries import QUERIES
    from vcf2db_spark.session import get_spark

    sf, operators = sys.argv[1], json.loads(sys.argv[2])
    spark = get_spark("scratch-lifecycle")
    io.table(spark, sf, "orders")  # pins the session conf, ships the zip
    held = {}
    for name, (mod, attr) in operators.items():
        for _ in range(2):
            QUERIES[name](spark, sf).collect()
        lc = getattr(importlib.import_module("vcf2db_spark." + mod), attr)
        held[name] = [(d, os.path.isdir(d)) for d in lc.dirs]
    print("RESULT " + json.dumps({"root": lifecycle.scratch_root(), "held": held}))
    """
)


def _vcf2db_entries() -> set[str]:
    out = set()
    for d in ("/tmp", "/dev/shm"):
        try:
            out |= {os.path.join(d, n) for n in os.listdir(d) if n.startswith("vcf2db")}
        except OSError:
            pass
    return out


def test_scratch_lives_under_one_root_removed_at_exit(tmp_path, sf_dir):
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": str(tmpdir),
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(REPO), env.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": "2",
        }
    )
    before = _vcf2db_entries()
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir, json.dumps(OPERATORS)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")][-1]
    result = json.loads(line[len("RESULT "):])
    root = result["root"]
    assert os.path.dirname(root) == str(tmpdir), root
    for name, held in result["held"].items():
        assert len(held) == 1, (name, held)
        path, live = held[0]
        assert live, (name, path)
        assert os.path.dirname(path) == root, (name, path)
    assert os.listdir(tmpdir) == []
    assert _vcf2db_entries() - before == set()


#: file (relative to vcf2db_spark/) → (expected line count, why allowed)
ALLOWED_SCRATCH_LITERALS = {
    "session.py": (2, "spark.local.dir tmpfs gate: free-space probe + the conf value"),
}
_SCRATCH_LITERAL = re.compile(r"""["']/tmp\b|/dev/shm""")
_PRIVATE_SCRATCH = re.compile(r"\batexit\.|\btempfile\.")


def _code_lines(path: Path):
    for line in path.read_text().splitlines():
        if not line.strip().startswith("#"):
            yield line


def test_no_hand_built_scratch_paths():
    found: dict[str, int] = {}
    private: list[str] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        lines = list(_code_lines(path))
        n = sum(bool(_SCRATCH_LITERAL.search(ln)) for ln in lines)
        if n:
            found[rel] = n
        if rel != "lifecycle.py" and any(_PRIVATE_SCRATCH.search(ln) for ln in lines):
            private.append(rel)
    assert found == {f: n for f, (n, _why) in ALLOWED_SCRATCH_LITERALS.items()}, (
        f"/tmp or /dev/shm literals {found}: take scratch directories from "
        "vcf2db_spark.lifecycle (Lifecycle.fresh_dir / scratch_dir)"
    )
    assert private == [], (
        f"{private} manage scratch lifetime themselves (atexit/tempfile); "
        "use vcf2db_spark.lifecycle"
    )
