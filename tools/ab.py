#!/usr/bin/env python3
"""Paired A/B of the benchmark: a base revision against a change.

    python3 tools/ab.py --base HEAD~1 --workload build_tokens --pairs 10 --seed 71001

Exports ``--base`` with ``git archive`` into a scratch directory and
runs ``perfbench/run.py`` there and in ``--change`` (default: this
checkout) in ABBA order: pair ``i`` runs on seed ``--seed + i``, the
base first when ``i`` is even and the change first when it is odd, so
host drift over the session hits both sides alike.

For each metric it reports both sides' median and q1-q3, the change's
win count (ties count for neither side; "better" comes from
``BENCHMARK.json``, lower by default) and whether the medians differ by
more than the base's q1-q3 spread. From each run's progress line on
standard error it keeps the per-pass steal share and process-tree CPU
seconds. Each run lasts the ``run_seconds`` of ``BENCHMARK.json``. It
writes everything as JSON to ``<workdir>/ab-<workload>-trace<T>.json``
and prints one line per metric ready for a changelog.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# one timed pass in run.py's progress line: write_s+read_s@steal%/cpu_s"cpu"
PASS_RE = re.compile(r"(\d+\.\d+)\+(\d+\.\d+)@(\d+)%/(\d+\.\d+)cpu")


def order(i: int) -> tuple[str, str]:
    """The sides of pair ``i`` in run order: AB, BA, AB, ..."""
    return ("base", "change") if i % 2 == 0 else ("change", "base")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """``(q1, median, q3)``, inclusive method (q1 and q3 lie between
    the samples, never beyond them)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    """Per metric over the pairs where both sides reported it: each
    side's median and quartiles, wins and ties of the change, the
    relative gain of the medians and whether that gap exceeds the
    base's q1-q3 spread (``beyond_spread``) in the better direction."""
    out = {}
    metrics = sorted(set.intersection(*(set(p["base"]) & set(p["change"]) for p in pairs)))
    for m in metrics:
        b = [p["base"][m] for p in pairs]
        c = [p["change"][m] for p in pairs]
        sign = 1.0 if better.get(m, "lower") == "higher" else -1.0
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
        ties = sum(x == y for x, y in zip(b, c))
        qb, qc = quartiles(b), quartiles(c)
        out[m] = {
            "better": "higher" if sign > 0 else "lower",
            "n": len(b),
            "base": {"q1": qb[0], "median": qb[1], "q3": qb[2], "values": b},
            "change": {"q1": qc[0], "median": qc[1], "q3": qc[2], "values": c},
            "wins": wins,
            "ties": ties,
            "gain": (qc[1] - qb[1]) / qb[1] if qb[1] else 0.0,
            "beyond_spread": sign * (qc[1] - qb[1]) > qb[2] - qb[0],
        }
    return out


def parse_passes(stderr: str) -> dict:
    """Per-pass ``write_s``, ``read_s``, ``steal`` and ``cpu_s`` from the
    ``[perfbench]`` progress line (empty lists when it is missing)."""
    out = {"write_s": [], "read_s": [], "steal": [], "cpu_s": []}
    for line in stderr.splitlines():
        if line.startswith("[perfbench]") and ", passes " in line:
            for w, r, steal, cpu in PASS_RE.findall(line.split(", passes ", 1)[1]):
                out["write_s"].append(float(w))
                out["read_s"].append(float(r))
                out["steal"].append(int(steal) / 100)
                out["cpu_s"].append(float(cpu))
    return out


def parse_result(stdout: str) -> dict | None:
    """The JSON object on run.py's last line of standard output."""
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def run_one(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True,
    )
    res = parse_result(proc.stdout)
    return {
        "returncode": proc.returncode,
        "correct": bool(res and res["correct"]),
        "failed": res["failed"] if res else None,
        "metrics": {k: v["value"] for k, v in res["metrics"].items()} if res else {},
        "passes": parse_passes(proc.stderr),
        "progress": [ln for ln in proc.stderr.splitlines() if ln.startswith("[perfbench]")],
        "stderr_tail": proc.stderr[-2000:] if not res else "",
    }


def export(rev: str, dest: str) -> str:
    """Extract the tree of ``rev`` into ``dest`` with ``git archive``."""
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev], capture_output=True, check=True
    ).stdout
    os.makedirs(dest, exist_ok=True)
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")
    return dest


def benchmark_spec(tree: str) -> tuple[float, dict[str, str]]:
    """``run_seconds`` and metric name → ``"lower"``/``"higher"`` from
    ``BENCHMARK.json`` (20 s and no directions when it is missing)."""
    path = os.path.join(tree, "BENCHMARK.json")
    if not os.path.exists(path):
        return 20.0, {}
    with open(path) as f:
        spec = json.load(f)
    metrics = spec.get("end_to_end", []) + spec.get("per_layer", [])
    return float(spec.get("run_seconds", 20)), {m["name"]: m["better"] for m in metrics}


def fmt(x: float) -> str:
    return f"{x:.3g}" if abs(x) >= 1e4 or abs(x) < 1e-2 else f"{x:.3f}"


def report_lines(
    workload: str, summary: dict, steal: dict, cpu: dict, metrics: list[str]
) -> list[str]:
    """One changelog line per metric, then the per-pass steal (max) and
    process-tree CPU seconds (median) of each side."""
    out = []
    for m in metrics:
        s = summary.get(m)
        if s is None:
            continue
        b, c = s["base"], s["change"]
        out.append(
            f"`{workload}` `{m}` ({s['better']} is better): {fmt(b['median'])} "
            f"(q1-q3 {fmt(b['q1'])}-{fmt(b['q3'])}) → {fmt(c['median'])} "
            f"(q1-q3 {fmt(c['q1'])}-{fmt(c['q3'])}), {s['gain']:+.1%}, change won "
            f"{s['wins']}/{s['n']}"
            + (f" ({s['ties']} ties)" if s["ties"] else "")
            + f", gap {'beyond' if s['beyond_spread'] else 'inside'} the base's q1-q3 spread"
        )
    out.append(
        f"`{workload}` per pass: steal max {steal['base']:.0%} (base) / "
        f"{steal['change']:.0%} (change), process-tree CPU median "
        f"{cpu['base']:.2f} / {cpu['change']:.2f} s"
    )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--change", default=ROOT, help="tree of the change side (default: here)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of pair 0; pair i uses seed+i")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="scratch directory (default: a new temporary one)")
    args = ap.parse_args(argv)

    workdir = args.workdir or tempfile.mkdtemp(prefix="ab-")
    trees = {"base": export(args.base, os.path.join(workdir, "base")),
             "change": os.path.abspath(args.change)}
    seconds, better = benchmark_spec(trees["change"])
    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        pair = {"seed": seed, "order": "".join(s[0].upper() for s in order(i))}
        for side in order(i):
            r = run_one(trees[side], args.workload, seed, seconds, args.trace)
            pair[side] = r
            steal = max(r["passes"]["steal"], default=0.0)
            print(f"[ab] pair {i} seed {seed} {side}: correct={r['correct']} "
                  f"steal≤{steal:.0%} " + " ".join(f"{k}={fmt(v)}" for k, v in
                  r["metrics"].items() if k in ("setup_s", "wall_s", "updates_per_s")),
                  file=sys.stderr, flush=True)
        runs.append(pair)

    ok = [p for p in runs if p["base"]["metrics"] and p["change"]["metrics"]]
    summary = summarize(
        [{"base": p["base"]["metrics"], "change": p["change"]["metrics"]} for p in ok], better
    ) if ok else {}
    steal = {
        side: max((s for p in runs for s in p[side]["passes"]["steal"]), default=0.0)
        for side in ("base", "change")
    }
    cpu = {
        side: statistics.median([c for p in runs for c in p[side]["passes"]["cpu_s"]] or [0.0])
        for side in ("base", "change")
    }
    shown = ["setup_s", "wall_s", "updates_per_s"] if args.trace == 0 else sorted(summary)
    lines = report_lines(args.workload, summary, steal, cpu, shown)
    lines.append(
        f"`{args.workload}`: {len(ok)}/{len(runs)} pairs with both runs reporting; "
        f"runs correct: base {sum(p['base']['correct'] for p in runs)}/{len(runs)}, "
        f"change {sum(p['change']['correct'] for p in runs)}/{len(runs)}; seeds "
        f"{args.seed}-{args.seed + args.pairs - 1}"
    )
    out = os.path.join(workdir, f"ab-{args.workload}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"base": args.base, "change": trees["change"], "workload": args.workload,
                   "trace": args.trace, "seconds": seconds, "runs": runs,
                   "summary": summary, "steal_max": steal, "lines": lines}, f, indent=1)
    print("\n".join(lines))
    print(f"[ab] report: {out}", file=sys.stderr)
    return 0 if all(p["base"]["correct"] and p["change"]["correct"] for p in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
