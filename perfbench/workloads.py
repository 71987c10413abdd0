"""The four workloads. Each pass is a *write step* (build or ingest) and
a *read step* (answer questions from the built state); both are timed.
Checks run after each pass and once per run, outside the timers.

Every library call uses the library's defaults (no ``fanout`` / ``tasks``
arguments), so a change of default shows in the numbers. Spans name the
layer and call that the benchmark invokes (``layer.call``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sketchlib import caches
from sketchlib.agg import (
    SketchSpec,
    build_partials,
    build_partials_direct,
    load_state,
    merge_partials,
    rollup_states,
    sketch_aggregate,
    sketch_aggregate_direct,
)
from sketchlib.dedup import minhash_band_keys, minhash_neardup_pairs
from sketchlib.estimates import membership_udf, point_query_udf, register_sql_functions
from sketchlib.gen import VOCAB
from sketchlib.streaming import (
    compact,
    current_states,
    neardup_clusters,
    neardup_pairs,
    neardup_stream_writer,
    sketch_stream_writer,
)

from .checks import QS, RANK_BOUND, RECALL_FLOOR, hll_bound, rank_error
from .inputs import SOURCES, jaccard

HLL_TOKENS = SketchSpec("hll", "hll", "tokens", {"p": 14})
CMS_TOKENS = SketchSpec("cms", "cms", "tokens", {"w": 8192, "d": 5})
BLOOM_TOKENS = SketchSpec("bloom", "bloom", "tokens", {"m": 1 << 20, "k": 7})
TDIGEST_NTOK = SketchSpec("tdigest", "tdigest", "n_tok", {"delta": 200})
KLL_NTOK = SketchSpec("kll", "kll", "n_tok", {"k": 200})
TOKEN_SPECS = [HLL_TOKENS, CMS_TOKENS, BLOOM_TOKENS, TDIGEST_NTOK, KLL_NTOK]
GROUP_SPECS = [
    SketchSpec("hll", "hll", "doc_id", {"p": 12}),
    SketchSpec("bloom", "bloom", "doc_id", {"m": 1 << 14, "k": 7}),
    KLL_NTOK,
    TDIGEST_NTOK,
]
STREAM_SPECS = [HLL_TOKENS, CMS_TOKENS, KLL_NTOK]
NEARDUP_THRESHOLD = 0.5


@dataclass
class Ctx:
    spark: object
    inputs: object
    gate: object
    tracer: object
    work: str  # this run's scratch directory inside the checkout
    seed: int


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _states(rows) -> dict:
    return {(r["source"], r["sketch"]): bytes(r["state"]) for r in rows}


def _tree_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                n_bytes += os.path.getsize(os.path.join(d, f))
                n_files += 1
    return n_bytes, n_files


class Workload:
    """One workload: per-run prep, the timed write/read steps, per-pass
    and per-run checks, and the extra per-layer numbers of a traced run."""

    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.inputs = ctx.inputs
        self.gate = ctx.gate
        self.tr = ctx.tracer
        self.pass_id = ""
        self.updates = 0
        # accuracy observed by the checks (reported by traced runs)
        self.hll_rel_err = 0.0
        self.quantile_rank_err = 0.0

    def prep(self) -> None:
        """Per-run preparation every run pays (fresh dirs, probe table)."""

    def write(self) -> None:
        raise NotImplementedError

    def read(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Correctness of the pass just run (untimed)."""

    def final_checks(self) -> None:
        """Once per run, untimed: checks against reference builds."""

    def layers(self, passes: list) -> dict:
        """Traced runs only: per-layer metrics this workload exercises."""
        return {}

    # -- shared check helpers -------------------------------------------
    def _check_hll(self, label: str, est: float, exact: int, p: int) -> None:
        self._check_hll_err(label, abs(est - exact) / exact, p)

    def _check_hll_err(self, label: str, err: float, p: int) -> None:
        self.hll_rel_err = max(self.hll_rel_err, err)
        self.gate.within(f"{label} hll rel err", err, hll_bound(p))

    def _check_quantiles(self, label: str, kernel_q, exact_sorted) -> None:
        """``kernel_q``: q -> estimate."""
        err = max(rank_error(exact_sorted, kernel_q(q), q) for q in QS)
        self.quantile_rank_err = max(self.quantile_rank_err, err)
        self.gate.within(f"{label} rank err", err, RANK_BOUND)


class BuildTokens(Workload):
    """The north-rule job: per-source HLL/CMS/Bloom on tokens and
    t-digest/KLL on n_tok through the direct feed, then the four
    north-star questions from the merged states."""

    name = "build_tokens"

    def prep(self) -> None:
        size, seed = self.inputs.size, self.ctx.seed
        freq = self.inputs.token_freq()
        rng = np.random.default_rng([seed, 0x50])
        n = size.probes
        src = rng.integers(0, len(SOURCES), size=n)
        present = np.arange(n) < n // 2
        token = rng.integers(VOCAB, 2 * VOCAB, size=n)  # out-of-vocabulary ids
        for si in range(len(SOURCES)):
            sel = present & (src == si)
            token[sel] = rng.choice(np.flatnonzero(freq[si]), size=int(sel.sum()))
        exact = np.where(present, freq[src, np.minimum(token, VOCAB - 1)], 0)
        path = os.path.join(self.ctx.work, "probes.parquet")
        pq.write_table(
            pa.table({
                "source": pa.array(np.array(SOURCES)[src]),
                "token": pa.array(token.astype(np.int32)),
                "present": pa.array(present),
                "exact": pa.array(exact.astype(np.int64)),
            }),
            path,
        )
        self.probes = self.spark.read.parquet(path)
        self.first_states = None

    def build(self):
        return sketch_aggregate_direct(
            self.spark, self.inputs.seq_dir, ["source"], TOKEN_SPECS
        ).collect()

    def write(self) -> None:
        self.rows = self.tr.call("agg.sketch_aggregate_direct", self.build)
        self.states = _states(self.rows)
        self.n_updates = {(r["source"], r["sketch"]): int(r["n_updates"]) for r in self.rows}
        self.updates = sum(self.n_updates.values())

    def read(self) -> None:
        spark, tr = self.spark, self.tr
        tr.call("estimates.register_sql_functions", register_sql_functions, spark)
        q_cols = ", ".join(f"sketch_quantile(state, {q}) AS q{i}" for i, q in enumerate(QS))
        with tr.span("estimates.sql"):
            spark.createDataFrame(self.rows).createOrReplaceTempView("perfbench_states")
            self.distinct = dict(
                spark.sql(
                    "SELECT source, hll_count(state) FROM perfbench_states WHERE sketch = 'hll'"
                ).collect()
            )
            self.quantiles = {
                (r["source"], r["sketch"]): [r[f"q{i}"] for i in range(len(QS))]
                for r in spark.sql(
                    f"SELECT source, sketch, {q_cols} FROM perfbench_states "
                    "WHERE sketch IN ('tdigest', 'kll')"
                ).collect()
            }
        with tr.span("estimates.membership_udf"):
            member = membership_udf(spark, {s: self.states[(s, "bloom")] for s in SOURCES})
            m = member("source", "token").cast("long")
            self.false_neg = self.probes.agg(
                F.sum(F.when(F.col("present"), 1 - m).otherwise(0))
            ).collect()[0][0]
        with tr.span("estimates.point_query_udf"):
            freq = point_query_udf(spark, {s: self.states[(s, "cms")] for s in SOURCES})
            self.under = self.probes.agg(
                F.sum(F.when(freq("source", "token") < F.col("exact"), 1).otherwise(0))
            ).collect()[0][0]

    def check(self) -> None:
        g, man, exact = self.gate, self.inputs.manifest, self.inputs.exact
        n_tok = self.inputs.n_tok_by_source()
        for si, s in enumerate(SOURCES):
            for k in ("hll", "cms", "bloom"):
                g.equal(f"{s} {k} n_updates", self.n_updates[(s, k)], man["tokens"][s])
            docs = int((exact["src"] == si).sum())
            for k in ("tdigest", "kll"):
                g.equal(f"{s} {k} n_updates", self.n_updates[(s, k)], docs)
            self._check_hll(s, self.distinct[s], man["distinct"][s], HLL_TOKENS.params["p"])
            for k in ("tdigest", "kll"):
                qv = dict(zip(QS, self.quantiles[(s, k)]))
                self._check_quantiles(f"{s} {k}", qv.__getitem__, n_tok[s])
        g.equal("bloom false negatives", self.false_neg, 0)
        g.equal("cms underestimates", self.under, 0)
        kept = {k: v for k, v in self.states.items() if k[1] in ("hll", "cms", "bloom")}
        if self.first_states is None:
            self.first_states = kept
        g.check("hll/cms/bloom bytes identical across passes", kept == self.first_states)

    def final_checks(self) -> None:
        self.gate.check("per-row token arrays equal ref_batch", self.inputs.check_rows(0))

    def layers(self, passes: list) -> dict:
        spark, tr = self.spark, self.tr
        out = {}
        # stage 1 as sketch_aggregate_direct runs it (without resume): one
        # premerged partial per task, 2 x defaultParallelism tasks at most
        files = self.inputs.seq_files()
        tasks = min(len(files), 2 * spark.sparkContext.defaultParallelism)
        with tr.span("agg.build_partials_direct"):
            partials = build_partials_direct(
                spark, files, ["source"], TOKEN_SPECS, tasks=tasks, premerge=True
            )
            out["agg.stage1_s"] = _noop_seconds(partials)
        out.update(_partials_stats(partials, ["source"], self.ctx.work, tr))
        return out


class BuildGroups(Workload):
    """The JVM-feed path: per-document sketches grouped by (source,
    shard) through ``sketch_aggregate`` on ``spark.read.parquet``, then
    a rollup to sources from the merged states."""

    name = "build_groups"

    def frame(self):
        shards = self.inputs.size.shards
        return self.spark.read.parquet(self.inputs.seq_dir).withColumn(
            "shard", F.pmod(F.xxhash64("doc_id"), F.lit(shards))
        )

    def prep(self) -> None:
        self.merged = None
        self.first_rolled = None

    def write(self) -> None:
        if self.merged is not None:
            self.merged.unpersist()
        with self.tr.span("agg.sketch_aggregate"):
            self.merged = sketch_aggregate(
                self.frame(), ["source", "shard"], GROUP_SPECS
            ).persist()
            row = self.merged.agg(F.sum("n_updates"), F.count(F.lit(1))).collect()[0]
        self.updates = int(row[0])
        self.n_merged = int(row[1])

    def read(self) -> None:
        spark, tr = self.spark, self.tr
        rolled = tr.call(
            "agg.rollup_states",
            lambda: rollup_states(self.merged, ["source"]).collect(),
        )
        self.rolled = _states(rolled)
        tr.call("estimates.register_sql_functions", register_sql_functions, spark)
        with tr.span("estimates.sql"):
            spark.createDataFrame(rolled).createOrReplaceTempView("perfbench_rollup")
            self.distinct = dict(
                spark.sql(
                    "SELECT source, hll_count(state) FROM perfbench_rollup WHERE sketch = 'hll'"
                ).collect()
            )

    def check(self) -> None:
        g, exact = self.gate, self.inputs.exact
        n_docs = len(exact["n_tok"])
        g.equal("sum n_updates", self.updates, len(GROUP_SPECS) * n_docs)
        groups = len(SOURCES) * self.inputs.size.shards
        g.equal("merged rows", self.n_merged, groups * len(GROUP_SPECS))
        n_tok = self.inputs.n_tok_by_source()
        for si, s in enumerate(SOURCES):
            docs = int((exact["src"] == si).sum())
            self._check_hll(f"{s} rolled", self.distinct[s], docs, GROUP_SPECS[0].params["p"])
            for k in ("tdigest", "kll"):
                kern = load_state(self.rolled[(s, k)])
                self._check_quantiles(f"{s} rolled {k}", kern.quantile, n_tok[s])
        kept = {k: v for k, v in self.rolled.items() if k[1] in ("hll", "bloom")}
        if self.first_rolled is None:
            self.first_rolled = kept
        g.check("rolled hll/bloom bytes identical across passes", kept == self.first_rolled)

    def final_checks(self) -> None:
        """Rolled-up bytes equal a direct per-source build; per-group HLL
        within bound of the exact per-group document counts."""
        spark, g = self.spark, self.gate
        ref = _states(
            sketch_aggregate(
                spark.read.parquet(self.inputs.seq_dir), ["source"], GROUP_SPECS[:2]
            ).collect()
        )
        g.check(
            "rolled hll/bloom bytes equal a per-source build",
            ref == self.first_rolled, "state bytes differ",
        )
        register_sql_functions(spark)
        est = self.merged.filter(F.col("sketch") == "hll").select(
            "source", "shard", F.expr("hll_count(state)").alias("est")
        )
        exact = self.frame().groupBy("source", "shard").count()
        worst = est.join(exact, ["source", "shard"]).select(
            F.max(F.abs(F.col("est") - F.col("count")) / F.col("count"))
        ).collect()[0][0]
        self._check_hll_err("per-group", float(worst), GROUP_SPECS[0].params["p"])
        self.merged.unpersist()

    def layers(self, passes: list) -> dict:
        tr = self.tr
        out = {}
        with tr.span("agg.build_partials"):
            partials = build_partials(self.frame(), ["source", "shard"], GROUP_SPECS)
            out["agg.stage1_s"] = _noop_seconds(partials)
        out.update(_partials_stats(partials, ["source", "shard"], self.ctx.work, tr))
        out["agg.rollup_s"] = _median(tr.self_time("agg.rollup_states", _traced(passes)))
        return out


class _Stream(Workload):
    """Shared driver for the two file-stream workloads."""

    def _run_stream(self, builder) -> list:
        q = builder.trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return list(q.recentProgress)

    def _pass_dir(self) -> str:
        return _fresh_dir(os.path.join(self.ctx.work, self.name, self.pass_id))

    def stream_layers(self, passes: list, store: str) -> dict:
        timed = [p for p in passes if p["pass"] in self.progress_by_pass]
        trig = [t for p in timed for t in self.progress_by_pass[p["pass"]]]
        total = [t["durationMs"]["triggerExecution"] / 1e3 for t in trig]
        add = [t["durationMs"].get("addBatch", 0) / 1e3 for t in trig]
        q = statistics.quantiles(total, n=4) if len(total) > 1 else [total[0]] * 3
        store_bytes, store_files = _tree_size(store)
        return {
            "batch_s.p50": statistics.median(total),
            "batch_s.p75": q[2],
            "streaming.add_batch_s": statistics.median(add),
            "streaming.trigger_overhead_s": statistics.median(
                [a - b for a, b in zip(total, add)]
            ),
            "streaming.batches": len(trig) / max(1, len(timed)),
            "streaming.store_bytes": float(store_bytes),
            "streaming.store_files": float(store_files),
        }


class StreamIngest(_Stream):
    """``sketch_stream_writer`` over a file stream, one part file per
    trigger, then merge-on-read and compaction."""

    name = "stream_ingest"

    def prep(self) -> None:
        self.src = _fresh_dir(os.path.join(self.ctx.work, "stream_src"))
        for path in self.inputs.seq_files(self.inputs.size.stream_files):
            os.link(path, os.path.join(self.src, os.path.basename(path)))
        self.schema = self.spark.read.parquet(self.inputs.seq_files(1)[0]).schema
        self.progress_by_pass: dict = {}
        self.compacted: dict = {}

    def write(self) -> None:
        d = self._pass_dir()
        self.state = os.path.join(d, "state")
        self.compact_path = os.path.join(d, "compact")
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        with self.tr.span("streaming.sketch_stream_writer"):
            self.progress_by_pass[self.pass_id] = self._run_stream(
                sketch_stream_writer(
                    stream, ["source"], STREAM_SPECS, self.state, os.path.join(d, "ckpt")
                )
            )

    def read(self) -> None:
        spark, tr = self.spark, self.tr
        rows = tr.call(
            "streaming.current_states",
            lambda: current_states(spark, self.state, ["source"]).collect(),
        )
        self.current = _states(rows)
        self.updates = sum(int(r["n_updates"]) for r in rows)
        tr.call("streaming.compact", compact, spark, self.state, ["source"], self.compact_path)

    def check(self) -> None:
        g, inputs = self.gate, self.inputs
        k = inputs.size.stream_files
        freq = inputs.token_freq(k)
        n_tok = inputs.n_tok_by_source(k)
        rows = self.spark.read.parquet(self.compact_path).collect()
        compacted = _states(rows)
        n_updates = {(r["source"], r["sketch"]): int(r["n_updates"]) for r in rows}
        self.compacted[self.pass_id] = compacted
        g.check("compacted states equal merge-on-read", compacted == self.current)
        g.equal("triggers", len(self.progress_by_pass[self.pass_id]), k)
        for si, s in enumerate(SOURCES):
            hll = load_state(compacted[(s, "hll")])
            g.equal(f"{s} tokens ingested", n_updates[(s, "hll")], int(freq[si].sum()))
            self._check_hll(s, hll.count(), int((freq[si] > 0).sum()), HLL_TOKENS.params["p"])
            self._check_quantiles(f"{s} kll", load_state(compacted[(s, "kll")]).quantile, n_tok[s])

    def final_checks(self) -> None:
        ref = _states(
            sketch_aggregate_direct(
                self.spark, self.inputs.seq_files(self.inputs.size.stream_files),
                ["source"], STREAM_SPECS[:2],
            ).collect()
        )
        for pid, states in self.compacted.items():
            got = {k: v for k, v in states.items() if k[1] in ("hll", "cms")}
            self.gate.check(f"{pid} compacted hll/cms bytes equal a batch build", got == ref)

    def layers(self, passes: list) -> dict:
        out = self.stream_layers(passes, self.state)
        # the dedup layer's batch path over the near-dup document set, so
        # a traced run of this workload also covers the dedup module
        out.update(_dedup_batch(self, None))
        traced = _traced(passes)
        out["streaming.current_states_s"] = _median(
            self.tr.self_time("streaming.current_states", traced)
        )
        out["streaming.compact_s"] = _median(self.tr.self_time("streaming.compact", traced))
        # merge-up of the stream's per-source states to one global state
        merged = current_states(self.spark, self.state, ["source"])
        with self.tr.span("agg.rollup_states"):
            t0 = time.perf_counter()
            rows = rollup_states(merged, []).collect()
            out["agg.rollup_s"] = time.perf_counter() - t0
        self.gate.equal("global rollup rows", len(rows), len(STREAM_SPECS))
        return out


class NeardupStream(_Stream):
    """``neardup_stream_writer`` over a seeded document stream with
    planted near-duplicates, then the pair and cluster reads."""

    name = "neardup_stream"

    def prep(self) -> None:
        self.schema = self.spark.read.parquet(self.inputs.nd_files()[0]).schema
        self.progress_by_pass = {}
        self.n_pairs = 0

    def write(self) -> None:
        d = self._pass_dir()
        self.store = os.path.join(d, "store")
        self.pairs_path = os.path.join(d, "pairs")
        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.inputs.nd_dir)
        )
        with self.tr.span("streaming.neardup_stream_writer"):
            prog = self._run_stream(
                neardup_stream_writer(
                    stream, "doc_id", "words", self.store, self.pairs_path,
                    os.path.join(d, "ckpt"), threshold=NEARDUP_THRESHOLD,
                )
            )
        self.progress_by_pass[self.pass_id] = prog
        self.updates = sum(int(p["numInputRows"]) for p in prog)

    def read(self) -> None:
        spark, tr = self.spark, self.tr
        self.pairs = [
            (r["doc_a"], r["doc_b"])
            for r in tr.call(
                "streaming.neardup_pairs",
                lambda: neardup_pairs(spark, self.pairs_path).collect(),
            )
        ]
        self.labels = {
            r["node"]: r["component"]
            for r in tr.call(
                "streaming.neardup_clusters",
                lambda: neardup_clusters(spark, self.pairs_path).collect(),
            )
        }

    def check(self) -> None:
        g, words = self.gate, self.inputs.words
        pairs = self.pairs
        self.n_pairs = len(pairs)
        low = [p for p in pairs if jaccard(words[p[0]], words[p[1]]) < NEARDUP_THRESHOLD]
        g.check("every emitted pair has exact Jaccard >= 0.5", not low, f"{low[:3]}")
        g.equal("no pair emitted twice", len(pairs), len(set(pairs)))
        found = {tuple(sorted(p)) for p in pairs}
        want = [tuple(sorted(p[:2])) for p in self.inputs.planted if p[2] >= NEARDUP_THRESHOLD]
        self.recall = sum(p in found for p in want) / len(want) if want else 1.0
        g.check("planted-pair recall", self.recall >= RECALL_FLOOR, f"recall {self.recall:.3f}")
        comp = self.labels
        split = [p for p in pairs if comp.get(p[0], p[0]) != comp.get(p[1], p[1])]
        g.check("pair endpoints share a cluster", not split, f"{split[:3]}")

    def layers(self, passes: list) -> dict:
        spark, tr = self.spark, self.tr
        out = self.stream_layers(passes, self.store)
        out.update(_dedup_batch(self, self.pairs))
        out["dedup.clusters_s"] = _median(tr.self_time("streaming.neardup_clusters", _traced(passes)))
        out["neardup_recall"] = self.recall
        return out


WORKLOADS = {w.name: w for w in (BuildTokens, BuildGroups, StreamIngest, NeardupStream)}


def _median(values: list) -> float:
    return statistics.median(values) if values else 0.0


def _traced(passes: list) -> set:
    return {p["pass"] for p in passes if p["traced"]}


def _dedup_batch(wl, stream_pairs) -> dict:
    """``minhash_band_keys`` to ``noop`` and the batch pair finder over the
    near-dup documents, checked against exact Jaccard (and against the
    stream's pairs when given)."""
    spark, tr, words = wl.spark, wl.tr, wl.inputs.words
    docs = spark.read.parquet(wl.inputs.nd_dir)
    out = {}
    with tr.span("dedup.minhash_band_keys"):
        out["dedup.band_keys_s"] = _noop_seconds(minhash_band_keys(docs, "doc_id", "words"))
    with tr.span("dedup.minhash_neardup_pairs"):
        t0 = time.perf_counter()
        pairs = {
            tuple(sorted((r["doc_a"], r["doc_b"])))
            for r in minhash_neardup_pairs(
                docs, "doc_id", "words", threshold=NEARDUP_THRESHOLD
            ).collect()
        }
        out["dedup.minhash_pairs_s"] = time.perf_counter() - t0
    caches.release_caches(owner="dedup.minhash")
    low = [p for p in pairs if jaccard(words[p[0]], words[p[1]]) < NEARDUP_THRESHOLD]
    wl.gate.check("batch pairs have exact Jaccard >= 0.5", not low, f"{low[:3]}")
    if stream_pairs is not None:
        wl.gate.check(
            "stream pairs equal the batch twin", pairs == {tuple(sorted(p)) for p in stream_pairs}
        )
    out["dedup.pairs"] = float(len(pairs))
    return out


def _noop_seconds(df) -> float:
    """Wall time to run ``df`` to Spark's ``noop`` sink (no collect)."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _partials_stats(partials, group_cols: list, work: str, tr) -> dict:
    """Stage-1 output size, then ``merge_partials`` alone over partials
    saved to parquet (so stage 1 is not re-run inside the timer)."""
    path = os.path.join(work, "saved_partials")
    partials.write.mode("overwrite").parquet(path)
    saved = partials.sparkSession.read.parquet(path)
    row = saved.agg(F.count(F.lit(1)), F.sum(F.length("state"))).collect()[0]
    with tr.span("agg.merge_partials"):
        merge_s = _noop_seconds(merge_partials(saved, group_cols))
    return {
        "agg.partials": float(row[0]),
        "agg.partial_bytes": float(row[1]),
        "agg.merge_s": merge_s,
    }
