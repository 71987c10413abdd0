"""Spark aggregation layer: the two-stage partial/final sketch topology.

This is the distributed expression of the reference's lifecycle
``new → add* → merge* → query`` (SURVEY.md §3):

stage 1 (*build partials*, :func:`build_partials`)
    ``mapInArrow`` over the input — each input partition consumes its own
    rows (NO shuffle of raw data; at 100 TB the raw table never moves)
    and emits one tiny state row per (group, sketch) it saw. Token
    arrays flow zero-copy: Arrow ``ListArray.flatten()`` → numpy → the
    vectorized kernels. No per-row Python anywhere. One consumer,
    :func:`_consume_partials`, does this for every operator: the JVM
    feed, the direct split feed (:func:`build_partials_direct`, one
    partial per key per task, ``part_id`` = the task's first file index)
    and the stateful stream operators (``sketchlib.streaming``), which
    merge its partials into their state. Resume is the JVM feed's
    (``build_partials(skip_parts=)``, :mod:`sketchlib.checkpoint`).

stage 2 (*tree merge*, :func:`merge_partials`)
    the only shuffle in the job moves kilobyte-scale state rows. A
    salted intermediate level (``fanout``) bounds any single reducer to
    ~#partitions/fanout states — the treeAggregate shape, expressed with
    ``applyInPandas`` because Python has no binary-state Aggregator API
    (SURVEY.md §4 custom item 1). Merges are associative + commutative
    (reference merge-equivalence contract, hyperloglog/mod.rs:556-574),
    so partition order and salt layout never change a kernel's state
    beyond its declared ``merge_contract`` (:data:`KERNELS`): not at all
    for ``"bytes"`` kernels, within published bounds for ``"bounded"``.

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
    ByteType,
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
from .codec import SketchCodecError, read_kind
from .ddsketch import DDSketch
from .fd import FrequentDirections
from .hll import HLL
from .kll import KLL
from .kmv import KMV
from .reservoir import Reservoir
from .tdigest import TDigest
from .topk import LossyCounter, SpaceSaving, TopK

# Each kernel class declares, next to its code: ``kind`` (SketchSpec.kind
# and its blobs' header kind); ``input``: "hashed" (int64 items; string
# columns are xxhash64'd JVM-side), "float" (float64 values) or
# "weighted" (float64 values, optional SketchSpec.weight_col); and
# ``merge_contract``: "bytes" (merged partials are byte-identical to one
# kernel fed every value, under any partitioning and merge-tree shape) or
# "bounded" (they agree within the kernel's published bounds). A class
# with update_unique(uniq, counts) gets update's bytes from deduplicated
# values, so the stage-1 consumer dedups for exactly those.
KERNELS = {
    c.kind: c
    for c in (
        AMSCountSketch, FrequentDirections, HLL, KMV, CountMinSketch, BloomFilter, TDigest,
        DDSketch, KLL, LossyCounter, SpaceSaving, TopK, Reservoir,
    )
}


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: which kernel, over which column, with which
    params. ``col`` may be a scalar numeric column, an ``array<int>``
    column (consumed flattened, zero-copy) or, for a ``"hashed"``
    kernel, a string column (pre-hashed JVM-side via xxhash64 — never
    per-row Python)."""

    name: str
    kind: str
    col: str
    params: dict = field(default_factory=dict)
    weight_col: str | None = None  # "weighted" kernels only (tdigest)

    def make(self):
        return KERNELS[self.kind](**self.params)


def load_state(blob: bytes):
    """Deserialize any sketch state blob to its kernel object: the
    header names the kind, that kernel's ``from_bytes`` decodes the
    payload once. A kind outside :data:`KERNELS` raises
    :class:`~sketchlib.codec.SketchCodecError`."""
    kind = read_kind(blob)
    cls = KERNELS.get(kind)
    if cls is None:
        raise SketchCodecError(f"unknown state kind {kind!r}")
    return cls.from_bytes(blob)


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------

_PA_BY_SPARK = {
    StringType: pa.string(),
    LongType: pa.int64(),
    IntegerType: pa.int32(),
    ShortType: pa.int16(),
    ByteType: pa.int8(),
    DoubleType: pa.float64(),
    FloatType: pa.float32(),
    BooleanType: pa.bool_(),
    DateType: pa.date32(),
    TimestampType: pa.timestamp("us", tz="UTC"),
}


def _pa_type(dt: DataType) -> pa.DataType:
    if isinstance(dt, ArrayType):
        return pa.list_(_pa_type(dt.elementType))
    for k, v in _PA_BY_SPARK.items():
        if isinstance(dt, k):
            return v
    raise TypeError(f"unsupported column type for sketch agg: {dt}")


def _spark_type(at: pa.DataType, int96: bool = False) -> DataType:
    """The Spark type ``spark.read.parquet`` infers for a column pyarrow
    reads as ``at``: :data:`_PA_BY_SPARK` read backwards, plus lists
    (element nulls allowed, as Spark reads every parquet array). Large
    strings and lists read as the plain ones. A timestamp is Spark's
    ``TimestampType`` when it is adjusted to UTC (``at`` has a time
    zone) or stored as INT96 (``int96``: Spark writes timestamps so,
    pyarrow reads them zone-less). Anything else raises ``TypeError``."""
    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return ArrayType(_spark_type(at.value_type))
    if pa.types.is_large_string(at):
        at = pa.string()
    elif pa.types.is_timestamp(at) and (at.tz is not None or int96):
        at = _PA_BY_SPARK[TimestampType]
    for k, v in _PA_BY_SPARK.items():
        if v == at:
            return k()
    raise TypeError(f"unsupported column type for sketch agg: {at}")


def _footer_schema(path: str, names: Iterable[str]) -> StructType:
    """The Spark schema of the columns of parquet file ``path`` named in
    ``names``, in file order, read from its footer on the driver with
    pyarrow (no Spark job). Each column gets the type and the
    nullability (always True) that ``spark.read.parquet`` gives it;
    pyarrow calls a REQUIRED column non-nullable, Spark does not. A
    named column whose type has no Spark mapping raises ``TypeError``
    naming it; the other columns are not looked at, and a missing name
    is left to the caller's lookup."""
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    int96 = {c.path for c in meta.schema if c.physical_type == "INT96"}
    wanted = set(names)
    fields = []
    for f in meta.schema.to_arrow_schema():
        if f.name not in wanted:
            continue
        try:
            dt = _spark_type(f.type, f.name in int96)
        except TypeError as e:
            raise TypeError(f"column {f.name!r} of {path}: {e}") from None
        fields.append(StructField(f.name, dt, True))
    return StructType(fields)


def partials_schema(schema: StructType | DataFrame, group_cols: list[str]) -> StructType:
    """Stage 1's output schema: the group columns' fields of ``schema``
    (a DataFrame stands for its schema), then the state columns."""
    if isinstance(schema, DataFrame):
        schema = schema.schema
    fields = [schema[c] for c in group_cols]
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
    """Pre-hash the string-valued inputs of ``"hashed"`` kernels
    JVM-side (xxhash64) so Python only ever sees fixed-width integers.
    Scalar strings hash directly; ``array<string>`` hashes element-wise
    inside ``transform`` (still whole-stage codegen, no explode, no
    per-row Python). So the items that lossy/spacesaving/topk over a
    string column report are xxhash64 values: use ``topk_exact_rescore``
    when the original values must appear in the output. The specs are
    checked by the :func:`_plan_stage1` that follows (a kind outside
    :data:`KERNELS` passes through unhashed), so a plan builds each
    spec's kernel once."""
    out = df
    resolved = []
    for spec in specs:
        if getattr(KERNELS.get(spec.kind), "input", None) != "hashed":
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
            # drop null ELEMENTS and shrink their rows' lengths: a
            # null inside an array is not a value (keeping it would
            # also upcast integer batches to float64/NaN and sketch
            # the garbage NaN→int cast)
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
    # (half the memory traffic of the int64 path); a uint32 → int32
    # cast must not wrap
    small = values.dtype.itemsize <= 4 and (
        np.issubdtype(values.dtype, np.signedinteger) or vmax < (1 << 31)
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
    batch. Every operator that updates kernels uses this verbatim — the
    default JVM-scan feed (:func:`build_partials`), the direct
    parquet-split feed (:func:`build_partials_direct`) and the stateful
    stream operators — so their states are built by byte-identical code
    and differ only in partition boundaries. ``specs_payload`` holds one
    ``(name, kind, col, params, weight_col)`` tuple per spec; each kind's
    class is looked up once per call, and its declared ``input`` and
    ``update_unique`` decide how its values are fed (see
    :data:`KERNELS`)."""
    specs = [(n, KERNELS[kind], c, p, w) for n, kind, c, p, w in specs_payload]
    states: dict = {}  # (gkey, name) -> kernel
    n_updates: dict = {}
    n_rows: dict = {}

    def kernel_for(skey, cls, params):
        kernel = states.get(skey)
        if kernel is None:
            kernel = states[skey] = cls(**params)
            n_updates[skey] = 0
        return kernel

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
        uniq_cache: dict = {}  # (col, gi) -> (uniq, counts), shared by update_unique kernels
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

        for name, cls, col, params, wcol in specs:
            dedup = hasattr(cls, "update_unique")
            # G==1 needs no reorder; plain unique_counts below is cheaper
            if G > 1 and dedup:
                gu = grouped_uniques(col)
                if gu is not None:
                    for gi in range(G):
                        uniq, cnts = gu[gi]
                        if uniq.size == 0:
                            continue
                        skey = (uniq_keys[gi], name)
                        kernel_for(skey, cls, params).update_unique(uniq, cnts)
                        n_updates[skey] += int(cnts.sum())
                    continue
            values, bounds, vlens = grouped(col, cls.input != "hashed")
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
            for gi in range(G):
                lo, hi = int(bounds[gi]), int(bounds[gi + 1])
                if lo == hi:
                    continue
                skey = (uniq_keys[gi], name)
                kernel = kernel_for(skey, cls, params)
                if dedup:
                    # one dedup per (col, group), shared by every
                    # update_unique kernel on the column; lossy is
                    # windowed and consumes the raw stream instead
                    uk = (col, gi)
                    uc = uniq_cache.get(uk)
                    if uc is None:
                        from .hashing import unique_counts

                        uc = unique_counts(values[lo:hi])
                        uniq_cache[uk] = uc
                    kernel.update_unique(*uc)
                elif weights is not None:
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


def _check_specs(specs: list[SketchSpec]) -> None:
    """Reject, at planning, specs no task could build: an empty list,
    repeated names (every operator keys its kernels and output rows by
    ``SketchSpec.name``), a kind outside :data:`KERNELS`, a
    ``weight_col`` on a kernel whose input is not ``"weighted"`` (it
    would be ignored), and params the kernel's constructor refuses (a
    misspelt name, a value out of range): each spec's kernel is built
    once here, so the error names the spec instead of surfacing inside
    the first task."""
    if not specs:
        raise ValueError("need at least one SketchSpec")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate sketch names: {names}")
    for s in specs:
        cls = KERNELS.get(s.kind)
        if cls is None:
            raise ValueError(
                f"spec {s.name!r}: unknown kind {s.kind!r}; known kinds: {sorted(KERNELS)}"
            )
        if s.weight_col is not None and cls.input != "weighted":
            raise ValueError(
                f"spec {s.name!r}: kind {s.kind!r} takes no weight_col (input {cls.input!r})"
            )
        try:
            s.make()
        except (TypeError, ValueError) as e:
            err = TypeError if isinstance(e, TypeError) else ValueError
            raise err(f"spec {s.name!r}: bad params {s.params!r} for {s.kind!r}: {e}") from e


def _needed_cols(group_cols: list[str], specs: list[SketchSpec]) -> list[str]:
    """The columns stage 1 reads, each once, in first-use order: the
    group columns, then each spec's input and weight columns."""
    return list(
        dict.fromkeys(
            group_cols + [s.col for s in specs] + [s.weight_col for s in specs if s.weight_col]
        )
    )


def _plan_stage1(schema: StructType, group_cols: list[str], specs: list[SketchSpec]):
    """The planning every stage-1 feed shares: check the specs, narrow
    ``schema`` to the columns they read (:func:`_needed_cols` order) and
    bind :func:`_consume_partials` to them. Returns ``(needed,
    consume)``; a task calls ``consume(batches, part_id)``.

    A sketch input column still ``string``/``array<string>`` here raises
    ``ValueError``: no kernel takes strings. The JVM feeds have already
    hashed the ``"hashed"`` kernels' ones (:func:`_resolve_specs`); the
    direct feed cannot, since replicating Spark's exact xxhash64 in
    Python would fork the hash contract."""
    _check_specs(specs)
    needed = StructType([schema[c] for c in _needed_cols(group_cols, specs)])
    for s in specs:
        dt = needed[s.col].dataType
        if isinstance(dt, ArrayType):
            dt = dt.elementType
        if isinstance(dt, StringType):
            if KERNELS[s.kind].input == "hashed":
                hint = (
                    "string inputs need the JVM-side xxhash64 pre-hash — "
                    "use build_partials/sketch_aggregate"
                )
            else:
                hint = f"kind {s.kind!r} takes float64 values"
            raise ValueError(f"spec {s.name!r} sketches string column {s.col!r}; {hint}")
    pa_group_types = [_pa_type(needed[c].dataType) for c in group_cols]
    specs_payload = [(s.name, s.kind, s.col, dict(s.params), s.weight_col) for s in specs]

    def consume(batches: Iterable[pa.RecordBatch], part_id: int):
        return _consume_partials(batches, group_cols, pa_group_types, specs_payload, part_id)

    return needed, consume


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
    hashed_df, rspecs = _resolve_specs(df, specs)
    needed, consume = _plan_stage1(hashed_df.schema, group_cols, rspecs)

    def fn(batches: Iterable[pa.RecordBatch]):
        from pyspark import TaskContext

        tc = TaskContext.get()
        part_id = tc.partitionId() if tc is not None else -1
        if skip_parts and part_id in skip_parts:
            return
        yield from consume(batches, part_id)

    return hashed_df.select(*needed.names).mapInArrow(fn, partials_schema(needed, group_cols))


def _resolve_split_files(source: str | list[str]) -> list[str]:
    """Driver-side split list for the direct feed: a parquet file, a
    directory of part files, or an explicit manifest (sorted so a
    task's file range, and its ``part_id``, is stable across reruns)."""
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


# fanout="auto" merges up to this many partials per key in one reducer
AUTO_FANOUT_THRESHOLD = 256


def auto_fanout(n_parts: int) -> int | None:
    """Resolve ``fanout="auto"`` from the stage-1 partial count.

    The salted intermediate merge level exists to bound reducer fan-in
    (one task would otherwise hold ``n_parts`` × state-size bytes), but
    it costs an extra shuffle plus an extra ``applyInPandas`` pass over
    every partial state row — measured 7.1 s vs 5.1 s for the
    130-partial bench build at an 8-core cap, i.e. ~30% of the whole
    job, when the tree buys nothing. Up to ``AUTO_FANOUT_THRESHOLD``
    partials a single reducer merges them all (kilobyte-scale states,
    ≤ ~100 MB even for the widest CMS defaults) and the tree is
    skipped; above it, ``isqrt(n_parts)`` balances the two levels at
    ~sqrt(n) states merged per task each."""
    if n_parts <= AUTO_FANOUT_THRESHOLD:
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


# rows per chunk a direct-feed task hands the stage-1 consumer: a task
# folds its files in chunks of at most this many rows, concatenated
# across file boundaries, so this is the per-task memory bound
DIRECT_BATCH_ROWS = 1 << 16


def _row_chunks(batches: Iterable[pa.RecordBatch], max_rows: int):
    """Regroup ``batches`` into record batches of at most ``max_rows``
    rows, rows in order. Small batches (one per file) concatenate, so
    the consumer dedups and updates each kernel once per chunk instead
    of once per file; a batch that does not fit is sliced. A chunk also
    ends where the schema changes (files of one table may differ, e.g.
    an int→long promotion): nothing is cast, each chunk keeps its
    files' own types."""
    buf: list[pa.RecordBatch] = []
    n = 0

    def chunk():
        if len(buf) == 1:
            return buf[0]
        return pa.Table.from_batches(buf).combine_chunks().to_batches()[0]

    for batch in batches:
        if buf and not batch.schema.equals(buf[0].schema):
            yield chunk()
            buf, n = [], 0
        while batch.num_rows:
            take = min(batch.num_rows, max_rows - n)
            buf.append(batch.slice(0, take))
            n += take
            batch = batch.slice(take)
            if n == max_rows:
                yield chunk()
                buf, n = [], 0
    if buf:
        yield chunk()


def _direct_tasks(spark, n_files: int, tasks: int | None) -> int:
    """Task count of the direct feed: ``tasks``, or one wave of
    ``defaultParallelism`` tasks, capped at the file count. That is the
    JVM feed's rule too: Spark's file scan sizes its splits
    (``FilePartition.maxSplitBytes``) for ``spark.sql.files.minPartitionNum``,
    which defaults to the default parallelism.

    A task's cost is mostly fixed, since each folds all its files in one
    chunk (:func:`_row_chunks`): per-group dedup, hashing and kernel
    work over the distinct tokens, plus ``to_bytes``, grow far more
    slowly than its file count, and every Python task costs about 0.06
    core-s more. Measured on 4 vCPUs over the 48 bench-shape files
    (medians of 7): the Spark-free consumer took 0.142 s for 6 files and
    0.185 s for 12, so 8 tasks cost 1.14 core-s and 4 tasks 0.74; an
    empty ``mapInArrow`` took 0.131 s at 4 tasks and 0.194 s at 8; stage
    1 alone took 0.506 s at 8 tasks and 0.325 s at 4. A second wave
    repeats both fixed costs, and the partial count never shows in a
    ``"bytes"`` kernel's result.

    One wave was measured only on that 4-vCPU host, idle and under one
    busy-loop process, where it won both times. It has no straggler
    slack: the 2× rule it replaces came from 32 CPUs, where under
    exogenous load bursts one wave of the older tasks (one chunk per
    file) swung 3.9–9.0 s against a steady ~3.6 s at 2×. Whether that
    still holds for one-chunk tasks, on many cores or under bursty
    co-tenants, is open."""
    if tasks is None:
        tasks = spark.sparkContext.defaultParallelism
    return max(1, min(n_files, tasks))


def build_partials_direct(
    spark,
    source: str | list[str],
    group_cols: list[str],
    specs: list[SketchSpec],
    tasks: int | None = None,
    premerge: bool = True,
) -> DataFrame:
    """Stage 1 over parquet SPLITS read directly by the Python workers
    (pyarrow ``iter_batches``), bypassing the JVM scan → row →
    Arrow-IPC round trip that dominates the default feed's wall time
    (measured: a no-op Python pass over the 619 M-token bench input
    costs ~4.7 s of the 7.75 s build via the JVM feed; the same bytes
    read split-wise by pyarrow cost <1 s on 32 threads).

    The work is still distributed BY SPARK — a ``spark.range`` over
    file indices packs the SORTED file list into ``tasks`` partitions,
    by default one wave of ``defaultParallelism`` tasks (see
    :func:`_direct_tasks`: measured on 4 vCPUs over 48 files, stage 1
    took 0.51 s with 8 tasks and 0.33 s with 4; every Python task costs
    about 0.06 core-s of fixed overhead even with the
    :mod:`sketchlib._daemon` worker path, and range packing keeps ±1-file
    balance). A task folds ALL its files through one call of the SAME
    consumer as the default feed (:func:`_consume_partials`,
    byte-identical kernel code) — map-side combine, guide §2.3
    "aggregate before you shuffle": one partial per (group, sketch) per
    TASK, so the job's only shuffle shrinks by the files-per-task
    factor. The consumer sees the task's rows in chunks of at most
    :data:`DIRECT_BATCH_ROWS` rows concatenated across file boundaries
    (:func:`_row_chunks`), not one batch per file: per-group dedup,
    hashing and kernel updates run once per chunk — once per task at
    the bench shape, where a task's 12 files of 1,000 docs cost the
    consumer 0.185 s against 0.142 s for 6, since their distinct tokens
    per group grow far more slowly than the file count. A chunk is the
    per-task memory bound (a single file of ≥ 65,536 rows already
    reached it before). ``part_id``
    is the task's first file index
    (deterministic for a given file list and ``tasks``). Final states
    keep each kernel's ``merge_contract`` (:data:`KERNELS`): the
    ``"bytes"`` kernels' are byte-identical to the default feed's, the
    ``"bounded"`` ones agree within their published bounds, exactly as
    any repartition of the default feed does. There is
    no per-file resume: resume is the JVM feed's
    (:mod:`sketchlib.checkpoint`). ``premerge`` is accepted only as
    True, the one mode.

    At 100 TB the ``source`` list is the table's file (or split)
    manifest — for Iceberg, the data files of the pinned snapshot
    (:mod:`sketchlib.io` reads it) — so planning stays on the driver
    and no raw row ever crosses the JVM↔Python boundary. Planning reads
    one parquet footer, the first file's, on the driver with pyarrow
    (:func:`_footer_schema`) and runs no Spark job: the first job is
    stage 1 itself (measured on 4 vCPUs, medians of 10 calls: planning
    took 109 ms with a ``spark.read.parquet`` schema-inference job, 16
    ms without it). That file decides the column types, as
    ``spark.read.parquet(files[0])`` did; a group, sketch or weight
    column of a type with no Spark mapping in :func:`_spark_type` raises
    ``TypeError``.

    Restrictions vs the default feed: inputs must be parquet, and
    string-valued sketch columns raise ``ValueError`` at planning (the
    default feed hashes them JVM-side with ``xxhash64``, see
    :func:`_plan_stage1`) — pre-tokenized integer corpora (the
    north-rule input shape) are the target."""
    if not premerge:
        raise ValueError("build_partials_direct always pre-merges per task")
    return _direct_partials(spark, _resolve_split_files(source), group_cols, specs, tasks)


def _direct_partials(
    spark, files: list[str], group_cols: list[str], specs: list[SketchSpec], tasks: int | None
) -> DataFrame:
    """:func:`build_partials_direct` over an already resolved split list."""
    # the schema comes from files[0]'s parquet footer, read here on the
    # driver with pyarrow: planning runs no Spark job
    needed, consume = _plan_stage1(
        _footer_schema(files[0], _needed_cols(group_cols, specs)), group_cols, specs
    )
    columns = needed.names

    # broadcast the manifest: at 100 TB it's ~10^6 paths, which must ship
    # once per executor (torrent broadcast), not once per task closure
    bfiles = spark.sparkContext.broadcast(files)

    def fn(batches: Iterable[pa.RecordBatch]):
        import pyarrow.parquet as pq

        manifest = bfiles.value
        fids = [int(f) for batch in batches for f in batch.column("id").to_pylist()]
        if not fids:
            return

        def feed():
            for fid in fids:
                pf = pq.ParquetFile(manifest[fid])
                yield from pf.iter_batches(batch_size=DIRECT_BATCH_ROWS, columns=columns)

        yield from consume(_row_chunks(feed(), DIRECT_BATCH_ROWS), min(fids))

    n = len(files)
    return spark.range(0, n, 1, _direct_tasks(spark, n, tasks)).mapInArrow(
        fn, partials_schema(needed, group_cols)
    )


def sketch_aggregate_direct(
    spark,
    source: str | list[str],
    group_cols: list[str],
    specs: list[SketchSpec],
    fanout: int | None | str = "auto",
    tasks: int | None = None,
) -> DataFrame:
    """Direct-feed build + merge (see :func:`build_partials_direct`):
    one row per (group, sketch). Each state keeps its kernel's
    ``merge_contract`` (:data:`KERNELS`) against
    :func:`sketch_aggregate` on the same data, however the two feeds
    split the input: byte-identical for ``"bytes"`` kernels
    (hll/cms/bloom/kmv/ams/ddsketch), within published bounds for
    ``"bounded"`` ones (tdigest/kll/reservoir/lossy/spacesaving/topk/fd).

    ``fanout="auto"`` (the default) resolves via :func:`resolve_fanout`
    from the task count, a free per-key partial bound (stage 1 emits one
    partial per key per task). Below 256 that is one shuffle and one
    merge pass — the bench-scale build's one partial per key per core
    pays for no salted level that merges nothing."""
    files = _resolve_split_files(source)
    tasks = _direct_tasks(spark, len(files), tasks)
    partials = _direct_partials(spark, files, group_cols, specs, tasks)
    return merge_partials(partials, group_cols, resolve_fanout(fanout, lambda: tasks))


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
    fanout: int | None = None,
) -> DataFrame:
    """Stage 2: reduce partial state rows to one row per (group, sketch).

    ``fanout`` enables the salted intermediate level: partials are first
    merged within ``pmod(part_id, fanout)`` buckets (bounding reducer
    fan-in), then across buckets. The tree shape is invisible in a
    ``"bytes"`` kernel's state and moves a ``"bounded"`` one only within
    its published bounds (each class's ``merge_contract``). The
    default None is one merge level, as ``fanout="auto"`` resolves to at
    the entry points below 256 partials per key.
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
) -> DataFrame:
    """Build + merge in one call: one row per (group, sketch).

    ``fanout="auto"`` (the default since r6 — VERDICT r5 #4: the fixed
    32-way tree cost ~30% of a small build while buying nothing below
    ~256 partials) resolves via :func:`resolve_fanout` from the input
    partition count (``df.rdd.getNumPartitions()`` — plan translation
    only, no job): single-level merge below 256 partials, isqrt tree
    above, so the shape scales with the input instead of a constant."""
    fanout = resolve_fanout(fanout, lambda: df.rdd.getNumPartitions())
    return merge_partials(build_partials(df, group_cols, specs), group_cols, fanout)


def rollup_states(merged: DataFrame, keep_cols: list[str]) -> DataFrame:
    """Multi-granularity rollup by merge-up (SURVEY.md §2.5): fold a
    finer-grained merged-state table to coarser groups (``keep_cols`` ⊂
    its group columns; ``[]`` = global) — a second pass over kilobyte
    state rows instead of a recompute over the raw data. Each state
    keeps its kernel's ``merge_contract`` (:data:`KERNELS`) against a
    direct build at the coarser grain: the same bytes for ``"bytes"``
    kernels, within published bounds for ``"bounded"`` ones."""
    return merge_partials(merged, keep_cols, fanout=None)
