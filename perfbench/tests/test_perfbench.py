"""Tests of the benchmark itself (no Spark session is started).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import types

import pytest

from perfbench import inputs, run, stats, worker
from perfbench.trace import Tracer, parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


# -- the same seed gives byte-identical inputs ---------------------------------


def test_vcf_is_a_function_of_the_seed(tmp_path):
    a, b, c = tmp_path / "a.vcf", tmp_path / "b.vcf", tmp_path / "c.vcf"
    ta = inputs.write_vcf(str(a), seed=5, n=400)
    tb = inputs.write_vcf(str(b), seed=5, n=400)
    inputs.write_vcf(str(c), seed=6, n=400)
    assert a.read_bytes() == b.read_bytes()
    assert a.read_bytes() != c.read_bytes()
    assert ta == tb
    assert ta.variants == 400 and ta.impacts > 0 and ta.het_calls > 0


def test_fixture_tables_are_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        inputs.write_fixtures(str(tmp_path / d), seed)
    a, b, c = (_files(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c
    assert len(a) == 10


def test_lake_batches_and_stream_source_are_a_function_of_the_seed(tmp_path):
    def draw(seed):
        plan = inputs.lake_plan(seed)
        batches = [inputs.parquet_bytes(plan.initial)]
        for _ in range(4):
            r = plan.next_round()
            batches += [inputs.parquet_bytes(t) for t in (r.append, r.merge, r.dv_merge)]
            batches.append(r.delete_residue)
        return batches, inputs.rows_digest(plan.state.values())

    assert draw(9) == draw(9)
    assert draw(9) != draw(10)
    ea = inputs.write_stream_source(str(tmp_path / "s1"), 2)
    eb = inputs.write_stream_source(str(tmp_path / "s2"), 2)
    assert _files(str(tmp_path / "s1")) == _files(str(tmp_path / "s2"))
    assert ea == eb


def test_lake_replay_applies_upserts_and_deletes():
    plan = inputs.lake_plan(1)
    r = plan.next_round()
    for t in (r.append, r.merge, r.dv_merge):
        for k in t.column("o_orderkey").to_pylist():
            if k % inputs.LAKE_DELETE_MODULUS != r.delete_residue:
                assert k in plan.state
    assert all(k % inputs.LAKE_DELETE_MODULUS != r.delete_residue for k in plan.state)


# -- every emitted name is declared and well formed -------------------------------


def _fake_ctx():
    args = types.SimpleNamespace(seed=1, run_dir="unused", trace=1)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    return worker.Context(args)


def test_emitted_names_match_benchmark_json():
    spec = _spec()
    e2e = worker.end_to_end(1.0, [2.0, 3.0])
    layers = worker.per_layer(
        _fake_ctx(), {"inputs_s": 0.1, "import_s": 0.2, "warmup_s": 3.0},
        [5.0, 0.5, 0.4], [2.0], [3.0, 1.9], {})
    layers[run.LEAKED_DIRS] = 0
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}
    assert set(layers) == {m["name"] for m in spec["per_layer"]}
    for name in list(e2e) + list(layers):
        assert NAME.match(name), name


def test_benchmark_json_follows_its_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) == set(worker.WORKLOADS)
    metrics = spec["end_to_end"] + spec["per_layer"]
    assert len({m["name"] for m in metrics}) == len(metrics)
    for m in metrics:
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_tracer_is_inert_when_off():
    tr = Tracer(None, mode=False)
    with tr.span("x") as s:
        tr.add("k", 1)
    assert s is None and not tr.spans and not tr.counts


# -- summaries from a fixed sample list ---------------------------------------------


def test_summary_of_a_fixed_sample_list():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0]
    s = stats.summarize(samples)
    assert s["n"] == 5
    assert s["p50"] == 3.0
    assert s["p25"] == 2.0 and s["p75"] == 4.0
    assert s["tail_pct"] == 50 and s["tail"] == 3.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    assert stats.percentile(list(range(101)), 90) == 90


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert stats.highest_supported_percentile(100) == 90
    assert stats.highest_supported_percentile(40) == 75
    assert stats.highest_supported_percentile(12) == 50
    xs = [float(i) for i in range(40)]
    s = stats.summarize(xs)
    assert sum(x > s["tail"] for x in xs) >= 10


def test_iqr_share_matches_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.iqr_share(values) == pytest.approx((q3 - q1) / 14.5)


def test_parse_metric_reads_spark_formats():
    assert parse_metric("6,000") == 6000
    assert parse_metric("47.0 KiB") == 47.0 * 1024
    assert parse_metric("1.8 s") == 1.8
    assert parse_metric("375 ms") == pytest.approx(0.375)
    text = "total (min, med, max (stageId: taskId))\n2.7 s (248 ms, 827 ms, 855 ms)"
    assert parse_metric(text) == 2.7
