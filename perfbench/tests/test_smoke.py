"""Smoke tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/tests -q

Each workload runs end to end at ``--size smoke`` in both modes; the traced
run's span file is checked for its schema and for self times that add up.
Everything is written under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.run import END_TO_END, per_layer_names  # noqa: E402
from perfbench.trace import self_times  # noqa: E402

SCRATCH = ROOT / ".perfbench_work" / "tests"


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    return out


def test_names_are_seeded():
    a = inputs.name_lists(5, 50, 40)
    b = inputs.name_lists(5, 50, 40)
    c = inputs.name_lists(6, 50, 40)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[1].equals(c[1])
    to, frm = a
    assert to["key"].is_unique
    assert all(k != to["key"][s] for k, s in zip(frm["key"], frm["source_id"]))


def test_self_times_subtract_direct_children():
    spans = [
        {"span_id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"span_id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"span_id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"span_id": 3, "parent": 0, "start": 5.0, "end": 6.0},
    ]
    assert self_times(spans) == {0: 6.0, 1: 2.0, 2: 1.0, 3: 1.0}


@pytest.mark.parametrize("workload", ["er_code", "names_mix"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    out = result(bench("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--size", "smoke"))
    assert set(out["metrics"]) == set(END_TO_END)
    for name, m in out["metrics"].items():
        assert m["unit"] == END_TO_END[name]
        assert m["value"] > 0, name
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == END_TO_END


@pytest.mark.parametrize("workload", ["er_code", "names_mix"])
def test_traced_run_spans_and_layers(workload):
    out_dir = SCRATCH / f"spans-{workload}"
    shutil.rmtree(out_dir, ignore_errors=True)
    out = result(bench("--workload", workload, "--seed", "4", "--seconds", "1",
                       "--trace", "1", "--size", "smoke", "--out", str(out_dir)))
    metrics = out["metrics"]
    assert list(metrics) == per_layer_names()
    if workload == "er_code":
        assert metrics["mapside.bands.busy_s"]["value"] > 0
        assert metrics["cosine_join.packed.pairs_scored"]["value"] > 0
        assert metrics["pipeline.scores.rows"]["value"] > 0
        assert metrics["incremental.batch_busy_s"]["value"] == 0
        assert metrics["linkage.iterations"]["value"] > 0  # distributed tier
    else:
        # names stay below the auto-blocking size: no map-side blocking
        assert metrics["mapside.bands.busy_s"]["value"] == 0
        assert metrics["api.group.busy_s"]["value"] > 0
        assert metrics["incremental.batch_busy_s"]["value"] > 0
        assert metrics["incremental.index_bytes"]["value"] > 0
        assert metrics["linkage.iterations"]["value"] == 0  # driver tier
    assert metrics["spark.task_failures"]["value"] == 0

    spans = [json.loads(line) for line in
             (out_dir / f"{workload}-seed4.spans.jsonl").read_text().splitlines()]
    assert spans
    by_id = {}
    for s in spans:
        assert set(s) == {"run_id", "span_id", "parent", "name", "start", "end"}
        assert s["run_id"] == f"{workload}-seed4"
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            p = by_id[s["parent"]]  # parents are recorded before children
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
        by_id[s["span_id"]] = s
    own = self_times(spans)
    roots = [s for s in spans if s["parent"] is None]
    assert {r["name"] for r in roots} == {"op"}
    for r in roots:
        subtree, todo = [], [r["span_id"]]
        while todo:
            sid = todo.pop()
            subtree.append(sid)
            todo += [s["span_id"] for s in spans if s["parent"] == sid]
        assert all(own[sid] >= -1e-9 for sid in subtree)
        assert sum(own[sid] for sid in subtree) == pytest.approx(
            r["end"] - r["start"], abs=1e-6
        )


def test_fails_without_the_library():
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    bare = SCRATCH / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "er_code", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=bare)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
    assert not (bare / ".perfbench_work").exists() or not any(
        (bare / ".perfbench_work").iterdir()
    )


def test_unknown_workload_is_refused():
    proc = bench("--workload", "nope", "--seed", "1", "--seconds", "1")
    assert proc.returncode != 0 and not proc.stdout.strip()
    assert os.path.isdir(ROOT / "perfbench")
