"""One owner for session conf (``vcf2db_spark/session.py``).

``conf_scope`` is the package's one scoped override: it restores every
key, unsets one that was unset, survives an exception and nests. A
drain scopes its confs only around ``start()``, which clones the
session, so while it runs the session keeps its own values, the drain
still runs with its own (the checkpoint's offset log records them), and
two drains on one session in two threads each get their serial answer.
A static gate keeps every other conf write out of the package.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
from pathlib import Path
from urllib.parse import urlparse

import pytest
from pyspark.sql.streaming.query import StreamingQuery

from vcf2db_spark.session import conf_scope
from vcf2db_spark.streaming.pipelines import (
    dedup_within_watermark,
    read_events_stream,
    run_to_memory,
    stage_events_dir,
    stage_events_dir_multi,
    tumbling_counts,
    upsert_latest_drain,
)

PKG = Path(__file__).resolve().parent.parent / "vcf2db_spark"
PARTS = "spark.sql.shuffle.partitions"
RETAIN = "spark.sql.streaming.minBatchesToRetain"
NODATA = "spark.sql.streaming.noDataMicroBatches.enabled"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"


# ---- conf_scope -------------------------------------------------------------


def test_conf_scope_restores_after_exception(spark):
    before = spark.conf.get(PARTS)
    with pytest.raises(RuntimeError):
        with conf_scope(spark, {PARTS: "3"}):
            assert spark.conf.get(PARTS) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(PARTS) == before


def test_conf_scope_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(PROVIDER, None) is None
    with conf_scope(spark, {PROVIDER: "x.Provider"}):
        assert spark.conf.get(PROVIDER) == "x.Provider"
    assert spark.conf.get(PROVIDER, None) is None


def test_conf_scopes_nest_in_one_thread(spark):
    before = spark.conf.get(PARTS)
    with conf_scope(spark, {PARTS: "3", RETAIN: "2"}):
        with conf_scope(spark, {PARTS: "5"}):
            assert (spark.conf.get(PARTS), spark.conf.get(RETAIN)) == ("5", "2")
        assert spark.conf.get(PARTS) == "3"
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(RETAIN, None) is None


# ---- drains scope only start() -----------------------------------------------


@pytest.fixture()
def seen_by_await(spark, monkeypatch):
    """Wrap ``StreamingQuery.awaitTermination``: record the session conf
    of the drain's overridden keys while the drain runs, and the conf
    its checkpoint's first offset-log entry recorded."""
    seen = []
    wrapped = StreamingQuery.awaitTermination

    def await_and_record(self, *args, **kwargs):
        during = {k: spark.conf.get(k, None) for k in (PARTS, RETAIN, NODATA)}
        out = wrapped(self, *args, **kwargs)
        root = urlparse(self._jsq.streamingQuery().resolvedCheckpointRoot()).path
        with open(os.path.join(root, "offsets", "0")) as fh:
            logged = json.loads(fh.read().splitlines()[1])["conf"]
        seen.append((during, logged))
        return out

    monkeypatch.setattr(StreamingQuery, "awaitTermination", await_and_record)
    return seen


def _own(spark):
    return {k: spark.conf.get(k, None) for k in (PARTS, RETAIN, NODATA)}


def test_memory_drain_leaves_session_conf_alone(spark, sf_dir, seen_by_await):
    own = _own(spark)
    src = stage_events_dir(sf_dir)
    out = run_to_memory(
        dedup_within_watermark(read_events_stream(spark, src)),
        "t_conf_dedup", final_no_data_batch=False,
    )
    assert out.count() > 0
    [(during, logged)] = seen_by_await
    assert during == own
    assert _own(spark) == own
    # the drain ran with its own width, not the session's
    assert logged[PARTS] != own[PARTS]
    assert logged[PARTS] == "4"


def test_upsert_drain_leaves_session_conf_alone(spark, sf_dir, tmp_path, seen_by_await):
    own = _own(spark)
    src = stage_events_dir_multi(sf_dir, 2)
    out = upsert_latest_drain(spark, src, str(tmp_path / "upsert"))
    assert out.count() > 0
    [(during, logged)] = seen_by_await
    assert during == own
    assert _own(spark) == own
    assert logged[PARTS] != own[PARTS]
    assert logged[PARTS] == "4"


def test_concurrent_drains_match_serial(spark, sf_dir):
    """Append-mode tumbling windows emit only in the final no-data batch;
    a dedup drain that skips that batch must not leak its setting into
    the tumbling drain running beside it."""
    src = stage_events_dir(sf_dir)

    def tumble(tag):
        df = run_to_memory(tumbling_counts(read_events_stream(spark, src)), tag)
        return sorted(map(tuple, df.collect()))

    def dedup(tag):
        df = run_to_memory(
            dedup_within_watermark(read_events_stream(spark, src)), tag,
            final_no_data_batch=False,
        )
        return sorted(map(tuple, df.collect()))

    want = {"tumble": tumble("t_conc_tumble"), "dedup": dedup("t_conc_dedup")}
    assert want["tumble"]
    got, errors = [], []
    start = threading.Barrier(2, timeout=60)

    def run(kind, fn, i):
        try:
            start.wait()
            got.append((kind, fn(f"t_conc_{kind}_{i}")))
        except BaseException as exc:  # noqa: BLE001 - reported by the main thread
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for i in range(3):
            threads = [
                threading.Thread(target=run, args=("tumble", tumble, i)),
                threading.Thread(target=run, args=("dedup", dedup, i)),
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
            assert not any(t.is_alive() for t in threads), "a drain hung"
    finally:
        sys.setswitchinterval(switch)
    assert errors == []
    assert len(got) == 6
    for kind, rows in got:
        assert rows == want[kind], kind


# ---- static gate ---------------------------------------------------------------

# file (relative to vcf2db_spark/) → (expected site count, why it stays)
ALLOWED = {
    "streaming/pipelines.py": (1, (
        "running_totals_tws sets the RocksDB providerClass on the caller's "
        "session and leaves it there; its test (test_export_tws) skips "
        "without the protobuf package, so a change to it cannot be verified"
    )),
}

_SITE = re.compile(r"\.conf\.(?:set|unset)\(")


def test_conf_writes_only_in_session_module():
    """Every session-conf write outside ``session.py`` goes through
    ``conf_scope`` or ``pin_session_conf``; a new ``.conf.set(`` /
    ``.conf.unset(`` fails until it is moved there or allowlisted."""
    found: dict[str, int] = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "session.py":
            continue
        n = sum(
            len(_SITE.findall(line))
            for line in path.read_text().splitlines()
            if not line.strip().startswith("#")
        )
        if n:
            found[rel] = n
    extra = {f: n for f, n in found.items() if f not in ALLOWED}
    assert not extra, (
        f"session-conf writes outside session.py: {extra} — use "
        "session.conf_scope (or add the key to session.runtime_conf)"
    )
    drift = {f: (n, ALLOWED[f][0]) for f, n in found.items() if n != ALLOWED[f][0]}
    assert not drift, f"conf-write count changed (found, expected): {drift}"
    gone = {f for f in ALLOWED if f not in found}
    assert not gone, f"stale allowlist entries (sites removed): {gone}"
