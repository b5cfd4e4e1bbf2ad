"""Self-checks of the benchmark: ``python3 -m pytest perfbench``.

The smoke runs start Spark once per workload and mode (a few minutes in
all); the corruption checks need no Spark.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_emits_every_metric_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values()), result


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_zipf", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


class _Store:
    """Serves whatever rows it was given, like a FeatureStore would."""

    def __init__(self, rows):
        self.rows = rows

    def _resp(self, uid):
        feats = {t: dict(v) for t, v in self.rows.get(uid, {}).items()}
        return SimpleNamespace(user_id=uid, features=feats, cache_hit=True)

    def get_features(self, uid, feature_types=None):
        return self._resp(uid)

    def get_batch_features(self, uids, feature_types=None):
        return [self._resp(u) for u in uids]


def _bench(served):
    bench = run.Bench("serve_zipf", 1, 1.0, False, os.devnull, 2, {"cpus": 1})
    bench.snapshot = {"user": {1: {"user_id": 1, "segment": "BUILDING"}, 2: {"user_id": 2}},
                      "transaction": {1: {"user_id": 1, "total_amount_30d": 10.5}}}
    bench.expected_risk = {1: 42.25}
    bench.store = _Store(served)
    return bench


def _good():
    return {1: {"user": {"user_id": 1, "segment": "BUILDING"},
                "transaction": {"user_id": 1, "total_amount_30d": 10.5},
                "risk": {"user_id": 1, "risk_score": 42.25}},
            2: {"user": {"user_id": 2}}}


def test_correct_served_values_pass():
    bench = _bench(_good())
    bench.request(("point", 1))
    bench.request(("batch", [1, 2]))
    assert (bench.s.attempted, bench.s.failed) == (2, 0)


@pytest.mark.parametrize("corrupt", [
    lambda rows: rows[1]["risk"].update(risk_score=42.26),
    lambda rows: rows[1]["transaction"].update(total_amount_30d=10.0),
    lambda rows: rows[1].pop("transaction"),
    lambda rows: rows[2].update(risk={"user_id": 2, "risk_score": 1.0}),
])
@pytest.mark.parametrize("kind", ["point", "batch"])
def test_corrupted_served_value_counts_as_failure(corrupt, kind):
    rows = _good()
    corrupt(rows)
    bench = _bench(rows)
    bench.request(("point", 1) if kind == "point" else ("batch", [1, 2]))
    bench.request(("point", 2))
    assert bench.s.attempted == 2
    assert bench.s.failed >= 1


def test_request_sequence_is_endless_seeded_and_batches_every_tenth():
    import gen

    classes = {"u": list(range(50)), "ut": list(range(50, 60))}

    def take(seed, stream=1, n=2500):
        return list(itertools.islice(gen.zipf_requests(seed, classes, 10, 20, stream=stream), n))

    reqs = take(5)
    assert reqs == take(5)
    assert reqs != take(6) and reqs != take(5, stream=run.WARM_STREAM)
    assert all((kind == "batch") == (i % 10 == 9) for i, (kind, _) in enumerate(reqs))
    assert all(len(set(keys)) == 20 for kind, keys in reqs if kind == "batch")


def _timed_bench(workload, seconds, monkeypatch):
    """A Bench whose operations only sleep, daily runs the longest; it
    counts lead (unrecorded) runs apart."""
    bench = run.Bench(workload, 1, seconds, False, os.devnull, 2, {"cpus": 1})
    bench.leads = dict.fromkeys(run.LEAD, 0)

    def op(kind, cost):
        def fake(record=True):
            if not record:
                bench.leads[kind] += 1
            time.sleep(cost)
        return fake

    for kind, method, cost in (("daily", "daily_run", 0.02), ("quality", "quality_report", 0.004),
                               ("ingest", "ingest_cycle", 0.006), ("serve", "serve", 0.005)):
        monkeypatch.setattr(bench, method, op(kind, cost))
    return bench


@pytest.mark.parametrize("workload", list(run.PLAN))
def test_measure_runs_the_plan_inside_the_window(workload, monkeypatch):
    plan = run.PLAN[workload]
    filler = plan[-1][0]
    bench = _timed_bench(workload, 0.0, monkeypatch)
    bench.measure()
    assert bench.counters["ops"] == dict(plan)
    assert bench.leads == {k: run.LEAD[k] for k, _ in plan}
    bench = _timed_bench(workload, 0.5, monkeypatch)
    assert 0.45 <= bench.measure() <= 0.52
    ops = bench.counters["ops"]
    assert {k: v for k, v in ops.items() if k != filler} == {
        k: n for k, n in plan if k != filler}
    assert ops[filler] > dict(plan)[filler] + 10
