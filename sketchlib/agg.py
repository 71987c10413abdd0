"""Spark aggregation layer: the two-stage partial/final sketch topology.

This is the distributed expression of the reference's lifecycle
``new → add* → merge* → query`` (SURVEY.md §3):

stage 1 (*build partials*, :func:`build_partials`)
    ``mapInArrow`` over the input — each input partition consumes its own
    rows (NO shuffle of raw data; at 100 TB the raw table never moves)
    and emits one tiny state row per (group, sketch) it saw. Token
    arrays flow zero-copy: Arrow ``ListArray.flatten()`` → numpy → the
    vectorized kernels. No per-row Python anywhere.

stage 2 (*tree merge*, :func:`merge_partials`)
    the only shuffle in the job moves kilobyte-scale state rows. A
    salted intermediate level (``fanout``) bounds any single reducer to
    ~#partitions/fanout states — the treeAggregate shape, expressed with
    ``applyInPandas`` because Python has no binary-state Aggregator API
    (SURVEY.md §4 custom item 1). Merges are associative + commutative
    (reference merge-equivalence contract, hyperloglog/mod.rs:556-574),
    so partition order and salt layout never change results.

    Every stage-2 entry point (:func:`sketch_aggregate`,
    :func:`sketch_aggregate_direct`, ``streaming.current_states`` /
    ``compact``, ``checkpoint.checkpointed_sketch_aggregate``) defaults
    to ``fanout="auto"``, resolved by :func:`resolve_fanout` from the
    caller's per-key partial bound: one shuffle and one merge pass up to
    256 partials per key, the salted tree above.

Skew note: build-side skew cannot occur — stage 1 never groups rows, a
hot group simply yields partial rows from many partitions, which is
exactly what the merge tree absorbs. Input-side salting helpers for the
grouped path live in :mod:`sketchlib.salt`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, replace
from typing import Callable, Iterable

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DataType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    DoubleType,
    FloatType,
    BooleanType,
)

from .ams import CountSketch as AMSCountSketch
from .bloom import BloomFilter
from .cms import CountMinSketch
from .ddsketch import DDSketch
from .fd import FrequentDirections
from .hll import HLL
from .kll import KLL
from .kmv import KMV
from .reservoir import Reservoir
from .tdigest import TDigest
from .topk import LossyCounter, SpaceSaving, TopK

KERNELS = {
    "ams": AMSCountSketch,
    "fd": FrequentDirections,
    "hll": HLL,
    "kmv": KMV,
    "cms": CountMinSketch,
    "bloom": BloomFilter,
    "tdigest": TDigest,
    "ddsketch": DDSketch,
    "kll": KLL,
    "lossy": LossyCounter,
    "spacesaving": SpaceSaving,
    "topk": TopK,
    "reservoir": Reservoir,
}

_NUMERIC_KINDS = ("tdigest", "kll", "reservoir", "fd", "ddsketch")  # consume float64
# consume int64; string inputs are pre-hashed JVM-side (note: for lossy /
# topk over strings the emitted items are therefore xxhash64 values — use
# topk_exact_rescore when the original values must appear in the output)
_HASHED_KINDS = ("hll", "cms", "bloom", "lossy", "spacesaving", "topk", "ams", "kmv")
# _PREAGG_KINDS gates count_col VALIDITY: kinds whose update_unique
# consumes (value, count) rows exactly (counts summed or idempotently
# ignored). topk qualifies here — its CMS substrate is count-exact —
# but is NOT in _PREAGG_AUTO below: its candidate-heap retention
# depends on per-partition arrival order, so pre-agg states are only
# estimate-equivalent, not byte-equal. lossy is windowed by definition
# and belongs to neither.
_PREAGG_KINDS = frozenset({"hll", "cms", "bloom", "ams", "topk", "kmv", "spacesaving"})
# _PREAGG_AUTO is the stricter set sketch_aggregate(pre_agg=True)
# auto-routes: final state provably BYTE-IDENTICAL to the raw path
# (HLL register-max / Bloom OR / KMV bottom-k are idempotent,
# CMS/AMS counter adds are commutative int64 sums; pytest-asserted).
_PREAGG_AUTO = ("hll", "cms", "bloom", "ams", "kmv")


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: which kernel, over which column, with which
    params. ``col`` may be a scalar numeric column, a string column
    (pre-hashed JVM-side via xxhash64 — never per-row Python), or an
    ``array<int>`` column (consumed flattened, zero-copy).

    ``count_col`` (pre-aggregated inputs): ``col`` holds distinct values
    and ``count_col`` their multiplicities — the kernel consumes
    ``update_unique(values, counts)``. Only meaningful for the
    count-aware/idempotent kinds (hll/cms/bloom/ams/topk); set by the
    :func:`sketch_aggregate` ``pre_agg`` strategy, not usually by hand."""

    name: str
    kind: str
    col: str
    params: dict = field(default_factory=dict)
    weight_col: str | None = None  # tdigest only
    count_col: str | None = None  # pre-aggregated (value, count) inputs

    def make(self):
        return KERNELS[self.kind](**self.params)


def _deserialize(kind: str, blob: bytes):
    return KERNELS[kind].from_bytes(bytes(blob))


def load_state(blob: bytes):
    """Deserialize any sketch state blob to its kernel object."""
    from .codec import unpack

    kind, _, _ = unpack(bytes(blob))
    return _deserialize(kind, blob)


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------

_PA_BY_SPARK = {
    StringType: pa.string(),
    LongType: pa.int64(),
    IntegerType: pa.int32(),
    ShortType: pa.int16(),
    DoubleType: pa.float64(),
    FloatType: pa.float32(),
    BooleanType: pa.bool_(),
    DateType: pa.date32(),
    TimestampType: pa.timestamp("us", tz="UTC"),
}


def _pa_type(dt: DataType) -> pa.DataType:
    for k, v in _PA_BY_SPARK.items():
        if isinstance(dt, k):
            return v
    raise TypeError(f"unsupported group column type for sketch agg: {dt}")


def partials_schema(df: DataFrame, group_cols: list[str]) -> StructType:
    fields = [df.schema[c] for c in group_cols]
    return StructType(
        fields
        + [
            StructField("sketch", StringType(), False),
            StructField("state", BinaryType(), False),
            StructField("n_updates", LongType(), False),
            StructField("n_rows", LongType(), False),
            StructField("part_id", IntegerType(), False),
        ]
    )


# ---------------------------------------------------------------------------
# stage 1: build partials (mapInArrow, no input shuffle)
# ---------------------------------------------------------------------------


def _resolve_specs(df: DataFrame, specs: list[SketchSpec]) -> tuple[DataFrame, list[SketchSpec]]:
    """Pre-hash string-valued sketch inputs JVM-side (xxhash64) so Python
    only ever sees fixed-width integers. Scalar strings hash directly;
    ``array<string>`` hashes element-wise inside ``transform`` (still
    whole-stage codegen, no explode, no per-row Python)."""
    out = df
    resolved = []
    for spec in specs:
        if spec.kind not in _HASHED_KINDS:
            resolved.append(spec)
            continue
        dt = out.schema[spec.col].dataType
        hcol = f"__h__{spec.col}"
        if isinstance(dt, StringType):
            if hcol not in out.columns:
                out = out.withColumn(hcol, F.xxhash64(spec.col))
            resolved.append(replace(spec, col=hcol))
        elif isinstance(dt, ArrayType) and isinstance(dt.elementType, StringType):
            if hcol not in out.columns:
                out = out.withColumn(hcol, F.transform(F.col(spec.col), lambda x: F.xxhash64(x)))
            resolved.append(replace(spec, col=hcol))
        else:
            resolved.append(spec)
    return out, resolved


def _grouped_column(arr: pa.Array, want_float: bool, row_order, row_bounds: np.ndarray):
    """(values, value_bounds): column values reordered group-contiguously.

    Row-level reorder beats value-level argsort/gather over millions of
    flattened tokens — the former is O(rows log rows + values·gather),
    the latter O(values log values + 2 gathers). ``row_order`` None ⇒
    single group. Rows are unit-length (scalars; nulls length 0) or
    their list length, so per-group value offsets are the cumsum at
    group row boundaries.

    For LIST columns without null elements the reorder is a pure-numpy
    flatten + one fancy gather (r6): Arrow's ``ListArray.take`` walks
    the list rows on a slow per-row copy path — measured 67 ms for a
    4.8 M-value batch vs ~17 ms for the numpy gather, ~12% of the whole
    stage-1 consumer. Results are byte-identical (same rows in the same
    ``row_order``, elements in row order)."""
    is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    if is_list and row_order is not None:
        flat0 = arr.flatten()
        if flat0.null_count == 0:
            lengths0 = (
                arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            )
            values0 = flat0.to_numpy(zero_copy_only=False)
            starts0 = np.concatenate([[0], np.cumsum(lengths0)])[:-1]
            lr = lengths0[row_order]
            out_off = np.concatenate([[0], np.cumsum(lr)])
            total = int(out_off[-1])
            # idx[j] = source position of output value j: each output
            # row r (in row_order) copies its source span starting at
            # starts0[row_order[r]]
            idx = (
                np.arange(total, dtype=np.int64)
                - np.repeat(out_off[:-1], lr)
                + np.repeat(starts0[row_order], lr)
            )
            values = values0[idx]
            if want_float:
                values = values.astype(np.float64, copy=False)
            cum = out_off
            return values, cum[row_bounds], lr
    if row_order is not None:
        arr = arr.take(pa.array(row_order))
    if is_list:
        lengths = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        flat = arr.flatten()
        if flat.null_count:
            # drop null ELEMENTS and shrink their rows' lengths — a
            # null inside an array is not a value, and keeping it
            # would upcast integer batches to float64/NaN and sketch
            # the garbage NaN→int cast; matches the pre_agg
            # explode-then-filter path (byte-identity contract)
            valid = flat.is_valid().to_numpy(zero_copy_only=False)
            ends = np.cumsum(lengths)
            cum_valid = np.concatenate([[0], np.cumsum(valid.astype(np.int64))])
            lengths = cum_valid[ends] - cum_valid[ends - lengths]
            values = flat.drop_null().to_numpy(zero_copy_only=False)
        else:
            values = flat.to_numpy(zero_copy_only=False)
    elif arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        lengths = valid.astype(np.int64)
        values = arr.fill_null(0).to_numpy(zero_copy_only=False)[valid]
    else:
        lengths = None  # unit lengths: value offsets == row offsets
        values = arr.to_numpy(zero_copy_only=False)
    if want_float:
        values = values.astype(np.float64, copy=False)
    if lengths is None:
        value_bounds = row_bounds
    else:
        cum = np.concatenate([[0], np.cumsum(lengths)])
        value_bounds = cum[row_bounds]
    # lengths is the per-row value count after reorder (None ⇒ all 1);
    # callers compare it across columns for exact per-row alignment
    return values, value_bounds, lengths


def _grouped_unique_counts(arr: pa.Array, codes: np.ndarray, G: int):
    """Per-group (uniq, counts) for an integer column via ONE combined
    bincount over ``group_code · range + (value − vmin)`` — no row
    reorder, no per-group scans (r6). Returns a list of ``(uniq,
    counts)`` per group, or ``None`` when the preconditions don't hold
    (non-integer dtype, null elements, or a value range too sparse for
    bincount — hashed 2^64-range columns fall back automatically, same
    contract as :func:`sketchlib.hashing.unique_counts`).

    Motivation (guide §1/§2: the stage-1 consumer is memory-bandwidth
    bound under a full worker fleet): the reorder-then-unique path
    moves every token ~4× (gather index build + gather + per-group
    bincounts); this shape touches them ~2× — measured 2.5 s → 1.9 s
    for the 128-file bench input on an 8-process pool (decode floor
    1.0 s). Results are identical: exact per-group value multisets."""
    is_list = pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type)
    if is_list:
        flat = arr.flatten()
        if flat.null_count:
            return None
        if not pa.types.is_integer(flat.type):
            return None
        lengths = (
            arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
        )
        values = flat.to_numpy(zero_copy_only=False)
        # group codes expanded to value level in int32 (G always fits;
        # half the traffic of int64 on the token-volume axis)
        vcodes = np.repeat(codes.astype(np.int32, copy=False), lengths)
    else:
        if arr.null_count:
            return None
        if not pa.types.is_integer(arr.type):
            return None
        values = arr.to_numpy(zero_copy_only=False)
        vcodes = codes.astype(np.int32, copy=False)
    if values.size == 0:
        return [(values, np.zeros(0, dtype=np.int64))] * G
    vmin = int(values.min())
    vmax = int(values.max())
    rng = vmax - vmin + 1  # python ints: no overflow; the gate below bounds it
    if not (rng <= max(4 * values.size, 1 << 16) and rng < (1 << 26) and G * rng < (1 << 31)):
        return None
    # comb = vcodes·rng + (value − vmin), kept in int32 when it fits
    # (half the memory traffic of the int64 path)
    small = values.dtype.itemsize <= 4 and (
        values.dtype.kind == "i" or vmax < (1 << 31)  # uint32 → int32 must not wrap
    )
    if small:
        comb = values.astype(np.int32, copy=True)
        comb -= np.int32(vmin)
        comb += vcodes * np.int32(rng)
    else:
        comb = values.astype(np.int64, copy=True)
        comb -= vmin
        comb += vcodes.astype(np.int64) * rng
    bc = np.bincount(comb, minlength=G * rng)
    out = []
    for gi in range(G):
        sl = bc[gi * rng : (gi + 1) * rng]
        nz = np.flatnonzero(sl)
        out.append(((nz.astype(values.dtype) + values.dtype.type(vmin)), sl[nz]))
    return out


def _rows_aligned(alen, blen) -> bool:
    """True iff two columns' per-row value counts are identical, i.e.
    paired columns (value, weight) have values on exactly the same rows.
    ``None`` means every row contributes exactly one value."""
    if alen is None and blen is None:
        return True
    if alen is None:
        return bool((blen == 1).all())
    if blen is None:
        return bool((alen == 1).all())
    return bool(np.array_equal(alen, blen))


def _consume_partials(
    batches: Iterable[pa.RecordBatch],
    group_cols: list[str],
    pa_group_types: list[pa.DataType],
    specs_payload: list[tuple],
    part_id: int,
):
    """Shared stage-1 consumer: fold a stream of Arrow record batches
    into per-(group, sketch) kernels and yield ONE partials record
    batch. Both feeds use this verbatim — the default JVM-scan feed
    (:func:`build_partials`) and the direct parquet-split feed
    (:func:`build_partials_direct`) — so their states are built by
    byte-identical code and differ only in partition boundaries."""
    states: dict = {}  # (gkey, name) -> kernel
    n_updates: dict = {}
    n_rows: dict = {}

    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        if group_cols:
            gpdf = batch.select(group_cols).to_pandas()
            if len(group_cols) == 1:
                codes, uniques = pd.factorize(gpdf[group_cols[0]], use_na_sentinel=False)
                uniq_keys = [(u,) for u in uniques]
            else:
                mi = pd.MultiIndex.from_frame(gpdf)
                codes, uniques = pd.factorize(mi, use_na_sentinel=False)
                uniq_keys = [tuple(u) for u in uniques]
        else:
            codes = np.zeros(n, dtype=np.int64)
            uniq_keys = [()]
        G = len(uniq_keys)
        for gi, cnt in enumerate(np.bincount(codes, minlength=G)):
            gkey = uniq_keys[gi]
            n_rows[gkey] = n_rows.get(gkey, 0) + int(cnt)

        # rows (not values) reorder group-contiguously: one tiny
        # argsort of the row-level group codes, then Arrow `take`
        # moves each column's values in C — shared by every spec on
        # that column (replaces G boolean-mask scans per spec and
        # O(values) sorts/gathers)
        if G == 1:
            row_order = None
            row_bounds = np.array([0, n], dtype=np.int64)
        else:
            row_order = np.argsort(codes, kind="stable")
            row_bounds = np.searchsorted(codes[row_order], np.arange(G + 1))
        col_cache: dict = {}
        uniq_cache: dict = {}  # (col, gi) -> (uniq, counts), shared by hashed kinds
        gu_cache: dict = {}  # col -> per-group (uniq, counts) list | None

        def grouped(col: str, want_float: bool):
            ck = (col, want_float)
            hit = col_cache.get(ck)
            if hit is None:
                hit = _grouped_column(batch.column(col), want_float, row_order, row_bounds)
                col_cache[ck] = hit
            return hit

        def grouped_uniques(col: str):
            # reorder-free per-group dedup (r6): one combined bincount
            # per column instead of row gather + per-group uniques —
            # None when the column doesn't qualify (falls back below)
            if col not in gu_cache:
                gu_cache[col] = _grouped_unique_counts(batch.column(col), codes, G)
            return gu_cache[col]

        for name, kind, col, params, wcol, ccol in specs_payload:
            want_float = kind in _NUMERIC_KINDS
            if (
                G > 1  # G==1 needs no reorder; plain unique_counts is cheaper
                and kind in _HASHED_KINDS
                and kind != "lossy"
                and wcol is None
                and ccol is None
            ):
                gu = grouped_uniques(col)
                if gu is not None:
                    for gi in range(G):
                        uniq, cnts = gu[gi]
                        if uniq.size == 0:
                            continue
                        skey = (uniq_keys[gi], name)
                        kernel = states.get(skey)
                        if kernel is None:
                            kernel = KERNELS[kind](**params)
                            states[skey] = kernel
                            n_updates[skey] = 0
                        kernel.update_unique(uniq, cnts)
                        n_updates[skey] += int(cnts.sum())
                    continue
            values, bounds, vlens = grouped(col, want_float)
            if values.size == 0:
                continue
            weights = None
            if wcol is not None:
                weights, wbounds, wlens = grouped(wcol, True)
                # per-ROW alignment, not just per-group counts: equal
                # null counts with nulls on different rows would pair
                # values with the wrong rows' weights
                if not np.array_equal(wbounds, bounds) or not _rows_aligned(vlens, wlens):
                    raise ValueError(f"weight col {wcol} nulls misaligned with {col}")
            pre_counts = None
            if ccol is not None:
                # pre-aggregated (value, count) rows: consume the
                # multiplicities directly — no re-dedup (it would
                # drop the counts)
                pre_counts, cbounds, clens = grouped(ccol, False)
                if not np.array_equal(cbounds, bounds) or not _rows_aligned(vlens, clens):
                    raise ValueError(f"count col {ccol} nulls misaligned with {col}")
            dedupable = kind in _HASHED_KINDS and kind != "lossy"
            for gi in range(G):
                lo, hi = int(bounds[gi]), int(bounds[gi + 1])
                if lo == hi:
                    continue
                gkey = uniq_keys[gi]
                skey = (gkey, name)
                kernel = states.get(skey)
                if kernel is None:
                    kernel = KERNELS[kind](**params)
                    states[skey] = kernel
                    n_updates[skey] = 0
                if pre_counts is not None:
                    # values are already globally distinct per group
                    # (the pre_agg groupBy's contract); counts carry
                    # the raw multiplicities
                    kernel.update_unique(values[lo:hi], pre_counts[lo:hi])
                    n_updates[skey] += int(pre_counts[lo:hi].sum())
                    continue
                if dedupable:
                    # one dedup per (col, group), shared by hll/cms/
                    # bloom/topk — their updates are count-aware or
                    # idempotent, so this is exact (lossy is windowed
                    # and consumes the raw stream instead)
                    uk = (col, gi)
                    uc = uniq_cache.get(uk)
                    if uc is None:
                        from .hashing import unique_counts

                        uc = unique_counts(values[lo:hi])
                        uniq_cache[uk] = uc
                    kernel.update_unique(*uc)
                elif kind == "tdigest" and weights is not None:
                    kernel.update(values[lo:hi], weights[lo:hi])
                else:
                    kernel.update(values[lo:hi])
                n_updates[skey] += hi - lo

    if not states:
        return
    gvals: list[list] = [[] for _ in group_cols]
    sk_names, blobs, upds, rows = [], [], [], []
    for (gkey, name), kernel in states.items():
        for i, v in enumerate(gkey):
            gvals[i].append(v)
        sk_names.append(name)
        blobs.append(kernel.to_bytes())
        upds.append(n_updates[(gkey, name)])
        rows.append(n_rows[gkey])
    arrays = [
        pa.array(vals, type=t) for vals, t in zip(gvals, pa_group_types)
    ] + [
        pa.array(sk_names, type=pa.string()),
        pa.array(blobs, type=pa.binary()),
        pa.array(upds, type=pa.int64()),
        pa.array(rows, type=pa.int64()),
        pa.array([part_id] * len(sk_names), type=pa.int32()),
    ]
    yield pa.RecordBatch.from_arrays(
        arrays, names=group_cols + ["sketch", "state", "n_updates", "n_rows", "part_id"]
    )


def build_partials(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    skip_parts: frozenset[int] | None = None,
) -> DataFrame:
    """Stage 1: one pass over the input, one state row per
    (input-partition ∩ group, sketch). Schema:
    ``group_cols..., sketch, state, n_updates, n_rows, part_id``.

    ``skip_parts``: partition ids whose partials already exist in a
    checkpoint (see :mod:`sketchlib.checkpoint`) — those tasks emit
    nothing and pull no batches."""
    if not specs:
        raise ValueError("need at least one SketchSpec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sketch names: {names}")
    out_schema = partials_schema(df, group_cols)
    hashed_df, rspecs = _resolve_specs(df, specs)
    for s in rspecs:
        if s.count_col is not None and s.kind not in _PREAGG_KINDS:
            raise ValueError(
                f"count_col only valid for {sorted(_PREAGG_KINDS)}: {s.name} ({s.kind})"
            )
    needed = list(
        dict.fromkeys(
            group_cols
            + [s.col for s in rspecs]
            + [s.weight_col for s in rspecs if s.weight_col]
            + [s.count_col for s in rspecs if s.count_col]
        )
    )
    narrow = hashed_df.select(*needed)
    pa_group_types = [_pa_type(narrow.schema[c].dataType) for c in group_cols]
    specs_payload = [
        (s.name, s.kind, s.col, dict(s.params), s.weight_col, s.count_col) for s in rspecs
    ]

    def fn(batches: Iterable[pa.RecordBatch]):
        from pyspark import TaskContext

        tc = TaskContext.get()
        part_id = tc.partitionId() if tc is not None else -1
        if skip_parts and part_id in skip_parts:
            return
        yield from _consume_partials(
            batches, group_cols, pa_group_types, specs_payload, part_id
        )

    return narrow.mapInArrow(fn, out_schema)


def _resolve_split_files(source: str | list[str]) -> list[str]:
    """Driver-side split list for the direct feed: a parquet file, a
    directory of part files, or an explicit manifest (sorted so
    ``part_id`` = index is stable across reruns and cluster sizes)."""
    import glob as _glob

    if isinstance(source, str):
        if os.path.isfile(source):
            files = [source]
        else:
            files = sorted(_glob.glob(os.path.join(source, "*.parquet")))
        if not files:
            raise ValueError(f"no parquet files under {source!r}")
    else:
        files = sorted(source)
        if not files:
            raise ValueError("empty file list")
    return files


def auto_fanout(n_parts: int, threshold: int = 256) -> int | None:
    """Resolve ``fanout="auto"`` from the stage-1 partial count.

    The salted intermediate merge level exists to bound reducer fan-in
    (one task would otherwise hold ``n_parts`` × state-size bytes), but
    it costs an extra shuffle plus an extra ``applyInPandas`` pass over
    every partial state row — measured 7.1 s vs 5.1 s for the
    130-partial bench build at an 8-core cap, i.e. ~30% of the whole
    job, when the tree buys nothing. Below ``threshold`` partials a
    single reducer merges at most ``threshold`` kilobyte-scale states
    (≤ ~100 MB even for the widest CMS defaults) and the tree is
    skipped; above it, ``isqrt(n_parts)`` balances the two levels at
    ~sqrt(n) states merged per task each."""
    if n_parts <= threshold:
        return None
    import math

    return max(2, math.isqrt(n_parts))


def resolve_fanout(fanout: int | None | str, fan_in: Callable[[], int]) -> int | None:
    """The one place ``fanout="auto"`` becomes an int or None.

    ``fan_in()`` returns a bound on the partials any one (group, sketch)
    key can have; it is only called for ``"auto"``, so a bound that costs
    a plan translation or a file listing is not paid for an explicit
    fanout. Explicit ints and None pass through unchanged."""
    if fanout != "auto":
        return fanout
    return auto_fanout(fan_in())


def build_partials_direct(
    spark,
    source: str | list[str],
    group_cols: list[str],
    specs: list[SketchSpec],
    skip_parts: frozenset[int] | None = None,
    batch_rows: int = 1 << 16,
    tasks: int | None = None,
    premerge: bool = False,
) -> DataFrame:
    """Stage 1 over parquet SPLITS read directly by the Python workers
    (pyarrow ``iter_batches``), bypassing the JVM scan → row →
    Arrow-IPC round trip that dominates the default feed's wall time
    (measured: a no-op Python pass over the 619 M-token bench input
    costs ~4.7 s of the 7.75 s build via the JVM feed; the same bytes
    read split-wise by pyarrow cost <1 s on 32 threads).

    The work is still distributed BY SPARK — a ``spark.range`` over
    file indices packs the SORTED file list into ``tasks`` partitions
    (default ``2 × defaultParallelism``, cap ``n_files``: measured at
    the bench scale, one-task-per-file pays ~0.4 s of Python-worker
    spin-up PER TASK, 2× the whole job's useful work; a handful of
    files per task amortizes it while range packing keeps ±1-file
    balance). Each file still streams through its OWN call of the
    SAME consumer as the default feed (:func:`_consume_partials`,
    byte-identical kernel code), so ``part_id`` stays the index into
    the sorted file list — stable across reruns AND cluster sizes,
    which makes checkpoint resume (``skip_parts``) per-FILE and
    deterministic rather than scheduler-dependent. Only kilobyte state
    rows leave the task; stage 2 is unchanged.

    At 100 TB the ``source`` list is the table's file (or split)
    manifest — for Iceberg, the data files of the pinned snapshot
    (:mod:`sketchlib.io` reads it) — so planning stays on the driver
    and no raw row ever crosses the JVM↔Python boundary.

    Restrictions vs the default feed: inputs must be parquet, and
    string-valued sketch columns are NOT supported (the default feed
    hashes them JVM-side with ``xxhash64``; replicating Spark's exact
    hash in Python would fork the hash contract) — pre-tokenized
    integer corpora (the north-rule input shape) are the target.
    ``batch_rows`` bounds per-task memory: a task never materializes
    more than one record batch of its file at a time.

    ``premerge=True`` (map-side combine, guide §2.3 "aggregate before
    you shuffle"): a task folds ALL its files through one consumer
    call, emitting one partial per (group, sketch) per TASK instead of
    per FILE — the stage-1→stage-2 Arrow traffic and the job's only
    shuffle shrink by the files-per-task factor (measured 86 MB → ~11
    MB at the bench shape, 8 files/task). ``part_id`` becomes the
    task's first file id (still deterministic). Final states are
    byte-identical for the byte-commutative kinds (hll/cms/bloom/kmv/
    ams — merge order invisible); order-sensitive kinds agree within
    their published bounds, exactly as any repartition does. Not
    compatible with ``skip_parts`` resume (which needs per-FILE
    partials) — callers pass it only when skip_parts is None."""
    if premerge and skip_parts:
        raise ValueError("premerge folds files per task; resume needs per-file partials")
    files = _resolve_split_files(source)
    if not specs:
        raise ValueError("need at least one SketchSpec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sketch names: {names}")
    # schema from the parquet footer (driver-side, no job); reject the
    # string-hashed kinds the JVM feed handles
    sdf = spark.read.parquet(files[0])
    for s in specs:
        if s.kind in _HASHED_KINDS:
            dt = sdf.schema[s.col].dataType
            is_str = isinstance(dt, StringType) or (
                isinstance(dt, ArrayType) and isinstance(dt.elementType, StringType)
            )
            if is_str:
                raise ValueError(
                    f"build_partials_direct: spec {s.name!r} sketches string "
                    f"column {s.col!r}; string inputs need the JVM-side "
                    "xxhash64 pre-hash — use build_partials/sketch_aggregate"
                )
        if s.count_col is not None and s.kind not in _PREAGG_KINDS:
            raise ValueError(
                f"count_col only valid for {sorted(_PREAGG_KINDS)}: {s.name} ({s.kind})"
            )
    needed = list(
        dict.fromkeys(
            group_cols
            + [s.col for s in specs]
            + [s.weight_col for s in specs if s.weight_col]
            + [s.count_col for s in specs if s.count_col]
        )
    )
    narrow = sdf.select(*needed)
    out_schema = partials_schema(narrow, group_cols)
    pa_group_types = [_pa_type(narrow.schema[c].dataType) for c in group_cols]
    specs_payload = [
        (s.name, s.kind, s.col, dict(s.params), s.weight_col, s.count_col) for s in specs
    ]

    # broadcast the manifest: at 100 TB it's ~10^6 paths, which must ship
    # once per executor (torrent broadcast), not once per task closure
    bfiles = spark.sparkContext.broadcast(files)

    def fn(batches: Iterable[pa.RecordBatch]):
        import pyarrow.parquet as pq

        manifest = bfiles.value
        if premerge:
            fids = [int(f) for batch in batches for f in batch.column("id").to_pylist()]
            if not fids:
                return

            def feed_all():
                for fid in fids:
                    pf = pq.ParquetFile(manifest[fid])
                    yield from pf.iter_batches(batch_size=batch_rows, columns=needed)

            yield from _consume_partials(
                feed_all(), group_cols, pa_group_types, specs_payload, min(fids)
            )
            return
        for batch in batches:
            for fid in batch.column("id").to_pylist():
                fid = int(fid)
                if skip_parts and fid in skip_parts:
                    continue
                pf = pq.ParquetFile(manifest[fid])
                feed = pf.iter_batches(batch_size=batch_rows, columns=needed)
                yield from _consume_partials(
                    feed, group_cols, pa_group_types, specs_payload, fid
                )

    n = len(files)
    if tasks is None:
        tasks = 2 * spark.sparkContext.defaultParallelism
    tasks = max(1, min(n, tasks))
    return spark.range(0, n, 1, tasks).mapInArrow(fn, out_schema)


def sketch_aggregate_direct(
    spark,
    source: str | list[str],
    group_cols: list[str],
    specs: list[SketchSpec],
    fanout: int | None | str = "auto",
    skip_parts: frozenset[int] | None = None,
    tasks: int | None = None,
) -> DataFrame:
    """Direct-feed build + merge (see :func:`build_partials_direct`):
    one row per (group, sketch). Final HLL/CMS/Bloom/topk states are
    BYTE-IDENTICAL to :func:`sketch_aggregate` on the same data
    regardless of how the two feeds split the input (idempotent /
    summed / OR-ed updates — tested); order-sensitive kernels
    (t-digest, KLL, reservoir, lossy) agree within their published
    bounds, exactly as any repartition of the default feed does.

    ``fanout="auto"`` (the default) resolves via :func:`resolve_fanout`
    from a per-key partial bound that is free here: the task count when
    stage 1 pre-merges (one partial per key per task), the file count
    on resume (one per key per file). Below 256 that is one shuffle and
    one merge pass — the bench-scale build's 8 pre-merged partials per
    key no longer pay for a salted level that merges nothing.

    Without ``skip_parts`` (no resume in play) stage 1 pre-merges per
    task (see :func:`build_partials_direct` ``premerge``): the shuffle
    and merge fan-in shrink by the files-per-task factor and the final
    states are unchanged (byte-identical for the byte-commutative
    kinds)."""
    files = _resolve_split_files(source)
    premerge = not skip_parts
    if tasks is None:
        # one wave of parallelism-sized tasks measures ~0.5 s faster on
        # a QUIET host (fewer worker spin-ups, 2× premerge fold) but has
        # zero straggler slack — under exogenous load bursts the leg
        # swung 3.9–9.0 s vs a steady ~3.6 s at 2×. Keep 2×: scheduling
        # freedom beats the quiet-host win on any shared machine.
        tasks = 2 * spark.sparkContext.defaultParallelism
    tasks = max(1, min(len(files), tasks))
    partials = build_partials_direct(
        spark, files, group_cols, specs, skip_parts=skip_parts, tasks=tasks,
        premerge=premerge,
    )
    fanout = resolve_fanout(fanout, lambda: tasks if premerge else len(files))
    return merge_partials(partials, group_cols, fanout)


# ---------------------------------------------------------------------------
# stage 2: tree merge (the only shuffle; rows are kilobytes of state)
# ---------------------------------------------------------------------------


def merged_schema(partials: DataFrame, group_cols: list[str]) -> StructType:
    fields = [partials.schema[c] for c in group_cols]
    return StructType(
        fields
        + [
            StructField("sketch", StringType(), False),
            StructField("state", BinaryType(), False),
            StructField("n_updates", LongType(), False),
            StructField("n_partials", LongType(), False),
        ]
    )


def _make_merge_fn(group_cols: list[str]):
    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # canonical merge order: shuffle arrival order is nondeterministic,
        # and t-digest/KLL merges are only *value*-associative, not
        # byte-associative — sorting the blobs makes every rerun of the
        # same tree shape byte-identical (checkpoint resume contract)
        blobs = sorted(bytes(b) for b in pdf["state"])
        kernel = load_state(blobs[0])
        for blob in blobs[1:]:
            kernel.merge(load_state(blob))
        row = {c: [pdf[c].iloc[0]] for c in group_cols}
        row["sketch"] = [pdf["sketch"].iloc[0]]
        row["state"] = [kernel.to_bytes()]
        row["n_updates"] = [int(pdf["n_updates"].sum())]
        row["n_partials"] = [int(pdf["n_partials"].sum()) if "n_partials" in pdf else len(pdf)]
        return pd.DataFrame(row)

    return merge_fn


def merge_partials(
    partials: DataFrame,
    group_cols: list[str],
    fanout: int | None = 32,
) -> DataFrame:
    """Stage 2: reduce partial state rows to one row per (group, sketch).

    ``fanout`` enables the salted intermediate level: partials are first
    merged within ``pmod(part_id, fanout)`` buckets (bounding reducer
    fan-in), then across buckets. Associativity/commutativity of every
    kernel merge makes the tree shape invisible in the result.
    """
    if isinstance(fanout, str):
        raise ValueError(
            "merge_partials needs an int fanout or None; 'auto' is "
            "resolved by the entry points (sketch_aggregate*, "
            "current_states, compact, checkpointed_sketch_aggregate), "
            "which know the partial count"
        )
    key = group_cols + ["sketch"]
    schema = merged_schema(partials, group_cols)
    merge_fn = _make_merge_fn(group_cols)
    lvl = partials
    if fanout is not None:
        salted_schema = StructType(schema.fields + [StructField("__salt", IntegerType(), False)])

        def merge_salted(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            out = merge_fn(pdf)
            out["__salt"] = keys[-1]
            return out

        lvl = (
            partials.withColumn("__salt", F.pmod(F.col("part_id"), F.lit(fanout)).cast("int"))
            .groupBy(*key, "__salt")
            .applyInPandas(merge_salted, salted_schema)
        )
    final = lvl.groupBy(*key).applyInPandas(merge_fn, schema)
    return final


def sketch_aggregate(
    df: DataFrame,
    group_cols: list[str],
    specs: list[SketchSpec],
    fanout: int | None | str = "auto",
    pre_agg: bool = False,
) -> DataFrame:
    """Build + merge in one call: one row per (group, sketch).

    ``fanout="auto"`` (the default since r6 — VERDICT r5 #4: the fixed
    32-way tree cost ~30% of a small build while buying nothing below
    ~256 partials) resolves via :func:`resolve_fanout` from the input
    partition count (``df.rdd.getNumPartitions()`` — plan translation
    only, no job): single-level merge below 256 partials, isqrt tree
    above, so the shape scales with the input instead of a constant.

    ``pre_agg=True`` routes the count-aware token sketches (hll / cms /
    bloom / ams) through a JVM-side global pre-aggregation:
    ``explode(col) → groupBy(group, value).count()`` — whole-stage
    codegen with map-side combine, so the shuffle carries at most
    ``#input_partitions × |vocab|`` combined rows instead of the raw
    token stream, and the Python/Arrow boundary shrinks to one weighted
    row per distinct ``(group, value)``. Final states are BYTE-IDENTICAL
    to the raw path (idempotent / summed updates; tested). All other
    kinds (t-digest, KLL, reservoir, topk, lossy, FD) keep the raw
    single-pass path unchanged.

    When to use: almost never — measured at the bench scale (619 M
    int32 tokens, vocab 50 k, local[8], quiet host) the raw path runs
    9.3-9.9 s while pre_agg takes 34-38 s: Spark's row-at-a-time
    explode + hash-agg over the full token stream costs ~4× more than
    shipping the untouched Arrow buffers to the vectorized numpy
    kernels, and the raw path never shuffles tokens at all (its only
    shuffle is kilobyte state rows). The option exists because the
    trade can flip on a real cluster when Python worker cores — not
    the JVM — are the constrained resource (e.g. co-located services),
    and as an independent oracle: its states are byte-equal to the raw
    path's, which the test suite asserts. Null ARRAY ELEMENTS are
    dropped by both paths (explode-then-filter here, an explicit
    drop_null in the raw stage-1 batch path)."""
    fanout = resolve_fanout(fanout, lambda: df.rdd.getNumPartitions())
    if not pre_agg:
        return merge_partials(build_partials(df, group_cols, specs), group_cols, fanout)
    hashed_df, rspecs = _resolve_specs(df, specs)
    pre = [s for s in rspecs if s.kind in _PREAGG_AUTO and s.count_col is None]
    rest = [s for s in rspecs if s.name not in {p.name for p in pre}]
    if not pre:
        return merge_partials(build_partials(df, group_cols, specs), group_cols, fanout)
    parts: list[DataFrame] = []
    for col in dict.fromkeys(s.col for s in pre):
        col_specs = [
            replace(s, col="__v", count_col="__c") for s in pre if s.col == col
        ]
        dt = hashed_df.schema[col].dataType
        v = F.explode(F.col(col)) if isinstance(dt, ArrayType) else F.col(col)
        g = (
            hashed_df.select(*group_cols, v.alias("__v"))
            .where(F.col("__v").isNotNull())
            .groupBy(*group_cols, "__v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        parts.append(build_partials(g, group_cols, col_specs))
    if rest:
        parts.append(build_partials(hashed_df, group_cols, rest))
    partials = parts[0]
    for p in parts[1:]:
        partials = partials.unionByName(p)
    return merge_partials(partials, group_cols, fanout)


def rollup_states(merged: DataFrame, keep_cols: list[str]) -> DataFrame:
    """Multi-granularity rollup by merge-up (SURVEY.md §2.5): fold a
    finer-grained merged-state table to coarser groups (``keep_cols`` ⊂
    its group columns; ``[]`` = global) — a second pass over kilobyte
    state rows instead of a recompute over the raw data. Exact for every
    kernel: HLL/Bloom merges are idempotent, CMS/t-digest/KLL additive."""
    return merge_partials(merged, keep_cols, fanout=None)
