"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark four times (about five minutes on four cores).
"""

from __future__ import annotations

import inspect
import json
import os
import re
import shutil
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from linked_maps_spark.fold import fold_key  # noqa: E402
from linked_maps_spark.ingest import CdcEngine  # noqa: E402
from linked_maps_spark.lakehouse import LakeTable  # noqa: E402
from perfbench import gen, instrument, metrics, workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
DEFAULT_THRESHOLD = inspect.signature(CdcEngine).parameters["salt_leaf_threshold"].default


def _leaves(events) -> int:
    ev = sorted(events, key=lambda e: e["commit"])
    return fold_key(ev[0]["repo"], ev[0]["path"], ev, []).n_leaves


def test_generators_are_deterministic_per_seed():
    bf1, tail1 = gen.ingest_plan(3)
    bf2, tail2 = gen.ingest_plan(3)
    assert bf1.equals(bf2)
    assert all(a.equals(b) for a, b in zip(tail1, tail2, strict=True))
    assert not bf1.equals(gen.ingest_plan(4)[0])
    a1, a2 = gen.analytics_frames(3), gen.analytics_frames(3)
    assert all(a1[t].equals(a2[t]) for t in a1)
    assert not a1["lineitem"].equals(gen.analytics_frames(4)["lineitem"])


def test_tail_commits_are_zipf_skewed():
    cfg = gen.INGEST
    rng = np.random.default_rng(0)
    hits = np.zeros(cfg["n_keys"])
    for _ in range(500):
        hits[gen.zipf_subset(rng, cfg["n_keys"], cfg["keys_per_commit"], cfg["zipf_s"])] += 1
    rate = hits / 500
    half = cfg["n_keys"] // 2
    assert rate[0] > 0.5
    assert rate[:10].mean() > 20 * rate[half:].mean()
    assert rate[half:].mean() < 0.01
    # the generated tail touches only ordinary keys, a fixed number per commit
    _, tail = gen.ingest_plan(0)
    for commit in tail:
        assert len(commit) == cfg["keys_per_commit"]
        assert commit["commit"].nunique() == 1
        assert not (commit["repo"] == gen.DENSE_REPO).any()


def test_dense_sheets_cross_the_salting_threshold_in_epoch_0_only_they_do():
    cfg = gen.INGEST
    backfill, tail = gen.ingest_plan(0)
    per_epoch = cfg["commits_per_epoch"]
    assert cfg["backfill_commits"] > per_epoch  # a later epoch exists to salt them
    dense = backfill[backfill["repo"] == gen.DENSE_REPO]
    assert dense["path"].nunique() == cfg["n_dense"]
    for _, g in dense.groupby("path"):
        ev = g.sort_values("commit").to_dict("records")
        assert _leaves(ev[:per_epoch]) >= DEFAULT_THRESHOLD
    # no ordinary key reaches it, even after every tail commit
    import pandas as pd

    ordinary = pd.concat([backfill[backfill["repo"] != gen.DENSE_REPO], *tail])
    worst = max(_leaves(g.to_dict("records")) for _, g in ordinary.groupby("path"))
    assert worst < DEFAULT_THRESHOLD


def test_metric_names_are_valid_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == metrics.E2E
    assert {k: m["unit"] for k, m in layer.items()} == metrics.LAYER
    for name in [*e2e, *layer]:
        assert NAME.match(name), name
    assert not set(e2e) & set(layer)
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25
    assert {w["name"] for w in bench["workloads"]} == set(workloads.RUNNERS)


def test_trace_wrappers_restore_the_originals():
    originals = {m: vars(CdcEngine)[m] for m in metrics.INGEST_METHODS}
    originals.update({m: vars(LakeTable)[m] for m in metrics.LAKEHOUSE_METHODS})
    tracer = instrument.Tracer()
    tracer.install_engine_wrappers()
    assert vars(CdcEngine)["ingest"] is not originals["ingest"]
    assert vars(LakeTable)["changes"] is not originals["changes"]
    tracer.restore()
    for m in metrics.INGEST_METHODS:
        assert vars(CdcEngine)[m] is originals[m]
    for m in metrics.LAKEHOUSE_METHODS:
        assert vars(LakeTable)[m] is originals[m]

    class Base:
        def f(self):
            return 1

    class Child(Base):
        pass

    tracer.wrap(Child, "f", "child.f")
    assert Child().f() == 1 and tracer.busy("child.f")[1] == 1
    tracer.restore()
    assert "f" not in vars(Child)

    client = SimpleNamespace(send_command=lambda cmd: cmd)
    fake = SimpleNamespace(sparkContext=SimpleNamespace(
        _gateway=SimpleNamespace(_gateway_client=client)))
    orig = client.send_command
    counter = instrument.Py4jCounter(fake)
    client.send_command("x")
    assert counter.calls == 1
    counter.restore()
    assert "send_command" not in vars(client) or client.send_command is orig


def test_self_time_subtracts_the_union_of_children():
    tracer = instrument.Tracer()
    tracer.spans = [
        {"id": 1, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "a", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "b", "start": 3.0, "end": 5.0, "parent": 1},
        {"id": 4, "name": "c", "start": 8.0, "end": 12.0, "parent": 1},
    ]
    st = tracer.self_times()
    assert st["op"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st["a"] == pytest.approx(3.0)


def test_tail_percentile_keeps_ten_samples_above():
    assert workloads.tail([3.0, 1.0, 2.0]) == (3.0, 100, 3)
    assert workloads.tail([float(i) for i in range(1, 31)]) == (30.0, 100, 30)
    xs = [float(i) for i in range(1, 201)]
    value, pct, n = workloads.tail(xs)
    assert (value, n) == (190.0, 200) and sum(x > value for x in xs) == 10 and pct == 95


def test_closed_loop_runs_min_ops_then_stops_at_the_deadline_or_limit():
    out, _ = workloads.closed_loop(0.0, lambda i: i, limit=10, min_ops=4)
    assert out == [0, 1, 2, 3]
    out, _ = workloads.closed_loop(60.0, lambda i: i, limit=6, min_ops=4)
    assert out == [0, 1, 2, 3, 4, 5]
    out, _ = workloads.closed_loop(0.0, lambda i: i)
    assert out == [0]


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace", [("ingest", "0"), ("ingest", "1"), ("analytics", "0"), ("analytics", "1")]
)
def test_smoke_run_completes_and_is_correct(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "0", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = metrics.LAYER if trace == "1" else metrics.E2E
    assert set(out["metrics"]) == set(want)
    if trace == "0":
        assert all(m["value"] > 0 for m in out["metrics"].values())
    elif workload == "ingest":
        m = {k: v["value"] for k, v in out["metrics"].items()}
        assert m["saltfold.backfill.salted_fold_plans"] >= 1
        assert m["saltfold.tail.salted_fold_plans"] == 0
        assert m["fold.backfill.kernel_share"] > m["fold.tail.kernel_share"]


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
