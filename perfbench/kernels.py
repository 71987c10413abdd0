"""Spark-free kernel microbenchmarks (the L0 layer), on build_tokens' inputs.

Measured the way sketch studies measure kernels (update time, merge
time, serialized size, query time, accuracy at a fixed memory size):
every kernel is sized exactly as the build_tokens workload sizes it, is
fed file by file the way the stage-1 consumer feeds it (``unique_counts``
per chunk, then ``update_unique``), and is checked against exact answers
from the input manifest. Times are medians of repeated calls.
"""

from __future__ import annotations

import functools
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from sketchlib.agg import load_state
from sketchlib.gen import VOCAB
from sketchlib.hashing import hash_i64, unique_counts

from .checks import QS, rank_error

REPEATS = 5
VALUE_KINDS = ("tdigest", "kll")  # fed n_tok values; the others take tokens


def _median_time(fn, repeats: int = REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def microbench(inputs, specs) -> dict:
    """Per-layer metrics for hashing, the five kernels and the codec.
    ``specs``: the build_tokens SketchSpecs (kind -> spec)."""
    files = inputs.seq_files(inputs.size.kernel_files)
    chunks, n_tok = [], []
    for path in files:
        t = pq.read_table(path, columns=["tokens", "n_tok"])
        chunks.append(t.column("tokens").combine_chunks().flatten().to_numpy())
        n_tok.append(t.column("n_tok").to_numpy().astype(np.float64))
    tokens = np.concatenate(chunks)
    values = np.concatenate(n_tok)
    n_items = tokens.size
    out: dict = {}

    out["hashing.hash_i64_ns"] = _median_time(lambda: hash_i64(tokens)) / n_items * 1e9
    uniq = [unique_counts(c) for c in chunks]
    out["hashing.unique_counts_ns"] = (
        _median_time(lambda: [unique_counts(c) for c in chunks]) / n_items * 1e9
    )

    built = {}
    for kind in ("hll", "cms", "bloom", "tdigest", "kll"):
        build = functools.partial(_build, specs[kind], uniq, n_tok)
        if kind in VALUE_KINDS:
            out[f"{kind}.update_ns"] = _median_time(build) / values.size * 1e9
        else:
            out[f"{kind}.update_unique_ns"] = _median_time(build) / n_items * 1e9
        built[kind] = build()

    half = len(chunks) // 2 or 1
    for kind, kernel in built.items():
        blob = kernel.to_bytes()
        out[f"{kind}.state_bytes"] = float(len(blob))
        out[f"codec.pack_us.{kind}"] = _median_time(kernel.to_bytes) * 1e6
        out[f"codec.unpack_us.{kind}"] = _median_time(lambda b=blob: load_state(b)) * 1e6
        # merge of two half-corpus states (fresh copies, so every merge
        # does the same work); deserialization stays outside the timer
        a_blob, b_blob = (
            _build(specs[kind], uniq, n_tok, part).to_bytes()
            for part in (slice(0, half), slice(half, None))
        )
        times = []
        for _ in range(REPEATS):
            a, b = load_state(a_blob), load_state(b_blob)
            t0 = time.perf_counter()
            a.merge(b)
            times.append(time.perf_counter() - t0)
        out[f"{kind}.merge_us"] = statistics.median(times) * 1e6

    # queries and accuracy at the workload's fixed memory size
    freq = np.bincount(tokens, minlength=VOCAB)
    rng = np.random.default_rng(0)
    present = rng.choice(np.flatnonzero(freq), size=50_000)
    oov = rng.integers(VOCAB, 2 * VOCAB, size=50_000)
    probes = np.concatenate([present, oov]).astype(np.int64)
    cms, bloom = built["cms"], built["bloom"]
    out["cms.query_points_ns"] = _median_time(lambda: cms.query_points(probes)) / probes.size * 1e9
    out["bloom.query_ns"] = _median_time(lambda: bloom.query(probes)) / probes.size * 1e9
    out["hll.count_us"] = _median_time(built["hll"].count) * 1e6
    for kind in ("kll", "tdigest"):
        out[f"{kind}.quantile_us"] = _median_time(lambda k=built[kind]: k.quantile(0.5)) * 1e6

    exact_distinct = int((freq > 0).sum())
    out["hll.rel_err"] = abs(built["hll"].count() - exact_distinct) / exact_distinct
    sorted_vals = np.sort(values)
    for kind in ("kll", "tdigest"):
        out[f"{kind}.rank_err"] = max(
            rank_error(sorted_vals, built[kind].quantile(q), q) for q in QS
        )
    out["bloom.fpr"] = float(bloom.query(oov).mean())
    est = cms.query_points(present).astype(np.float64)
    eps_n = np.e / cms.w * n_items
    out["cms.err_ratio"] = float((est - freq[present]).mean() / eps_n)
    return out


def _build(spec, uniq, n_tok, part: slice = slice(None)):
    """A kernel fed file by file, as the stage-1 consumer feeds it: token
    kinds take each chunk's ``unique_counts``, value kinds its ``n_tok``."""
    k = spec.make()
    if spec.kind in VALUE_KINDS:
        for v in n_tok[part]:
            k.update(v)
    else:
        for u, c in uniq[part]:
            k.update_unique(u, c)
    return k
