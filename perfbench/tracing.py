"""Span recorder, Spark status-store reader, and ``/proc`` readers for
the process tree's RSS and CPU time and for the hypervisor's steal.

Spans are recorded from the benchmark's own code, around each call it
makes into a sketchlib layer: name (``layer.call``), start, end, parent
span and pass id. They are kept in memory and written out once, at the
end of the run. A span's *self time* is its duration minus the part of
its interval covered by its children.

Each timed step (``write`` / ``read``) is also tagged with
``SparkContext.addJobTag``; after the run the status store (which works
with the UI disabled) is read for the stages of that step's jobs.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# stage-level fields summed per step, with the per-layer metric they feed
STAGE_FIELDS = (
    ("task_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("input_bytes", "inputBytes", 1),
    ("tasks", "numCompleteTasks", 1),
    ("tasks_failed", "numFailedTasks", 1),
)


class Tracer:
    """Collects spans and tagged steps; a disabled tracer records nothing
    and never touches Spark, so untraced runs pay one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.steps: list[dict] = []
        self.pass_id: str | None = None
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span named ``name``."""
        with self.span(name):
            return fn(*args, **kwargs)

    @contextmanager
    def step(self, name: str):
        """A timed step; traced runs tag its Spark jobs and remember the tag."""
        if not self.enabled:
            yield
            return
        tag = f"perfbench-{self.pass_id}-{name}"
        self._sc.addJobTag(tag)
        t0 = time.perf_counter()
        try:
            with self.span(f"step.{name}"):
                yield
        finally:
            self._sc.removeJobTag(tag)
            self.steps.append(
                {"tag": tag, "step": name, "pass": self.pass_id,
                 "wall_s": time.perf_counter() - t0}
            )

    def self_times(self) -> list[float]:
        """Self time of every span (duration minus its children's union)."""
        kids: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def self_time(self, name: str, pass_ids=None) -> list[float]:
        """Per-pass summed self time of spans named ``name``."""
        per_pass: dict = {}
        for s, st in zip(self.spans, self.self_times()):
            if s["name"] == name and (pass_ids is None or s["pass"] in pass_ids):
                per_pass[s["pass"]] = per_pass.get(s["pass"], 0.0) + st
        return list(per_pass.values())

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t_min = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=s["start"] - t_min, end=s["end"] - t_min, self=st)
            for s, st in zip(self.spans, self.self_times())
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "steps": self.steps, **extra}, f, indent=1)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def step_stage_metrics(spark, steps: list[dict]) -> dict:
    """tag -> summed stage metrics of the jobs carrying that tag, read
    from the Spark status store (the live-UI store; needs no UI)."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    wanted = {s["tag"] for s in steps}
    stages_by_tag: dict = {t: set() for t in wanted}
    for job in _seq(store.jobsList(jvm.java.util.ArrayList())):
        for tag in _seq(job.jobTags()):
            if tag in wanted:
                stages_by_tag[tag].update(int(x) for x in _seq(job.stageIds()))
    gateway = spark.sparkContext._gateway
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    per_stage: dict = {}
    for st in _seq(stages):
        sid = int(st.stageId())
        row = per_stage.setdefault(sid, dict.fromkeys([k for k, _, _ in STAGE_FIELDS], 0.0))
        for key, field, scale in STAGE_FIELDS:
            row[key] += float(getattr(st, field)()) * scale
    out = {}
    for tag, sids in stages_by_tag.items():
        tot = dict.fromkeys([k for k, _, _ in STAGE_FIELDS], 0.0)
        ran = 0
        for sid in sids:
            row = per_stage.get(sid)
            if row is None:
                continue
            if row["tasks"] > 0:
                ran += 1
            for k in tot:
                tot[k] += row[k]
        tot["stages"] = float(ran)
        out[tag] = tot
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot (``/proc/stat``).
    Steal is time a runnable virtual CPU waited for the hypervisor."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def tree_stats(root_pid: int) -> list:
    """``/proc/<pid>/stat`` fields (after the command name) of ``root_pid``
    and all its descendants: the JVM and its Python workers included."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        stats[pid] = fields
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set size of the process tree."""
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(int(f[21]) for f in tree_stats(root_pid)) * page


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) the process
    tree has used. Time the hypervisor steals is not in it."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in tree_stats(root_pid))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread sampling the process tree's RSS; keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
