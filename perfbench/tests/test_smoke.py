"""Smoke tests for the benchmark itself, at the tiny input size.

    python3 -m pytest perfbench/tests -q

The first group is Spark-free and fast. The second runs every workload
once untraced and once traced (a JVM per run: several minutes in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.checks import Gate, OperationFailed, rank_error  # noqa: E402
from perfbench.inputs import get_inputs, jaccard  # noqa: E402
from perfbench.tracing import Tracer, tree_rss_bytes  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
GATED = [w["name"] for w in BENCHMARK["workloads"]]


def test_benchmark_json_matches_the_runner():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER
    assert set(GATED) <= set(WORKLOADS)


def test_gate_counts_a_wrong_expected_value():
    g = Gate(verbose=False)
    g.self_check()
    assert (g.attempted, g.failed) == (1, 0)
    g.equal("deliberately wrong", 1, 2)
    assert (g.attempted, g.failed, g.correct) == (2, 1, False)


def test_gate_counts_a_failed_operation():
    g = Gate(verbose=False)

    def boom():
        raise ValueError("x")

    with pytest.raises(OperationFailed):
        g.run("op", boom)
    assert (g.attempted, g.failed) == (1, 1)


def test_rank_error_uses_the_tie_interval():
    vals = np.array([1, 2, 2, 2, 3], dtype=float)
    assert rank_error(vals, 2.0, 0.5) == 0.0  # 2 spans ranks [0.2, 0.8]
    assert rank_error(vals, 3.0, 0.5) == pytest.approx(0.3)


def test_span_parents_and_self_time():
    tr = Tracer(enabled=True)
    tr.pass_id = "p0"
    with tr.span("outer"):
        with tr.span("inner.a"):
            pass
        with tr.span("inner.b"):
            pass
    outer, a, b = tr.spans
    assert outer["parent"] is None and a["parent"] == b["parent"] == outer["id"]
    selfs = tr.self_times()
    assert selfs[0] <= outer["end"] - outer["start"]
    assert all(s >= 0 for s in selfs)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"), tr.step("write"):
        pass
    assert tr.spans == [] and tr.steps == []


def test_rss_of_this_process_tree():
    assert tree_rss_bytes(os.getpid()) > 0


def test_inputs_are_seeded_and_match_ref_batch(tmp_path):
    a, made = get_inputs(str(tmp_path), 7, "tiny")
    assert made
    b, made_again = get_inputs(str(tmp_path), 7, "tiny")
    assert not made_again and a.manifest == b.manifest
    c, _ = get_inputs(str(tmp_path), 8, "tiny")
    assert c.manifest["distinct"] != a.manifest["distinct"]
    assert a.check_rows(0) and a.check_rows(a.size.n_files - 1)
    for doc_a, doc_b, j in a.planted:
        assert j == jaccard(a.words[doc_a], a.words[doc_b])
    js = [p[2] for p in a.planted]
    assert min(js) < 0.5 < max(js)  # planted pairs straddle the threshold


def _run(workload: str, trace: int, seed: int = 3) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    r = _run(workload, 0)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in r["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_prints_every_per_layer_metric_and_spans(workload):
    r = _run(workload, 1)
    assert r["correct"] and r["failed"] == 0
    assert {k: v["unit"] for k, v in r["metrics"].items()} == run.PER_LAYER
    assert r["metrics"]["failed_ratio"]["value"] == 0.0
    with open(os.path.join(run.WORK, "spans", f"{workload}-seed3.json")) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] >= s["start"] and s["self"] >= -1e-9
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"]
    names = {s["name"] for s in spans}
    assert {"session.get_spark", "step.write", "step.read"} <= names
