"""Spark-free checks of ``tools/ab.py``: the ABBA run order, the summary
math and the parsing of a ``perfbench/run.py`` run's output."""

import importlib.util
import json
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py")
_spec = importlib.util.spec_from_file_location("ab_tool", _PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_abba_order():
    runs = [ab.order(i) for i in range(4)]
    assert runs == [("base", "change"), ("change", "base")] * 2
    # over any even number of pairs each side runs first equally often
    firsts = [ab.order(i)[0] for i in range(10)]
    assert firsts.count("base") == firsts.count("change") == 5


def test_quartiles_inclusive():
    assert ab.quartiles([3.0]) == (3.0, 3.0, 3.0)
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    q1, med, q3 = ab.quartiles([4.0, 1.0, 3.0, 2.0])
    assert (q1, med, q3) == (1.75, 2.5, 3.25)


def _pairs(base, change, metric):
    return [{"base": {metric: b}, "change": {metric: c}} for b, c in zip(base, change)]


def test_summary_higher_is_better_wins_and_spread():
    base = [10.0, 11.0, 12.0, 13.0, 14.0]
    change = [15.0, 16.0, 12.0, 18.0, 13.0]
    s = ab.summarize(_pairs(base, change, "updates_per_s"), {"updates_per_s": "higher"})
    m = s["updates_per_s"]
    assert m["better"] == "higher" and m["n"] == 5
    assert m["base"]["median"] == 12.0 and (m["base"]["q1"], m["base"]["q3"]) == (11.0, 13.0)
    assert m["change"]["median"] == 15.0
    assert m["wins"] == 3 and m["ties"] == 1
    assert m["gain"] == pytest.approx(0.25)
    assert m["beyond_spread"]  # 15 - 12 = 3 > 13 - 11 = 2


def test_summary_lower_is_better_and_inside_spread():
    base = [2.0, 2.2, 2.4, 2.6]
    change = [1.9, 2.1, 2.5, 2.3]
    s = ab.summarize(_pairs(base, change, "wall_s"), {})  # unknown metric: lower is better
    m = s["wall_s"]
    assert m["better"] == "lower"
    assert m["wins"] == 3 and m["ties"] == 0
    assert m["change"]["median"] == pytest.approx(2.2)
    assert m["gain"] == pytest.approx(2.2 / 2.3 - 1)
    assert not m["beyond_spread"]  # gap 0.1 < spread 0.3
    # a gap in the worse direction is never beyond the spread
    worse = ab.summarize(_pairs(base, [5.0] * 4, "wall_s"), {})["wall_s"]
    assert worse["wins"] == 0 and not worse["beyond_spread"]


def test_summary_keeps_only_metrics_both_sides_report():
    pairs = [{"base": {"a": 1.0, "b": 2.0}, "change": {"a": 1.0}}]
    assert set(ab.summarize(pairs, {})) == {"a"}


def test_parse_run_output():
    stderr = (
        "some warning\n"
        "[perfbench] build_tokens seed=7: inputs 0.01s, imports 1.20s, sessions "
        "3.10@2% 3.00@0%, prep 4.00s, warm-up 1.10+1.20, passes "
        "0.62+1.10@3%/5.1cpu 0.60+1.05@12%/4.9cpu, final checks 0.10s\n"
    )
    p = ab.parse_passes(stderr)
    assert p == {
        "write_s": [0.62, 0.60], "read_s": [1.10, 1.05],
        "steal": [0.03, 0.12], "cpu_s": [5.1, 4.9],
    }
    assert ab.parse_passes("no progress line") == {
        "write_s": [], "read_s": [], "steal": [], "cpu_s": []
    }
    line = {"correct": True, "attempted": 3, "failed": 0,
            "metrics": {"wall_s": {"value": 1.5, "unit": "s"}}}
    assert ab.parse_result("log line\n" + json.dumps(line) + "\n") == line
    assert ab.parse_result("") is None
    assert ab.parse_result("Traceback ...") is None


def test_report_lines():
    s = ab.summarize(_pairs([1.0, 2.0, 3.0], [2.0, 3.0, 4.0], "updates_per_s"),
                     {"updates_per_s": "higher"})
    lines = ab.report_lines("build_tokens", s, {"base": 0.04, "change": 0.1},
                            {"base": 5.0, "change": 4.5}, ["wall_s", "updates_per_s"])
    assert len(lines) == 2  # wall_s absent from the summary
    assert lines[0].startswith("`build_tokens` `updates_per_s` (higher is better): 2.000")
    assert "+50.0%" in lines[0] and "won 3/3" in lines[0]
    assert lines[1] == (
        "`build_tokens` per pass: steal max 4% (base) / 10% (change), "
        "process-tree CPU median 5.00 / 4.50 s"
    )
