"""Estimate / query columns over sketch-state DataFrames.

Two families (SURVEY.md §2.4):

1. **per-state estimates** — module-level pandas UDFs applied to the
   tiny merged-state table (one deserialization per state row):
   ``hll_count``, ``bloom_len``, ``cms_total``, ``sketch_quantile``,
   ``sketch_cdf``, ``heavy_hitters``, ``topk_items`` and the rest. One
   object answers each question from a DataFrame (constant arguments
   as ``F.lit``) and, via :func:`register_sql_functions`, from SQL.

2. **broadcast point queries** — the merged sketch states are collected
   (kilobytes), broadcast to executors, and applied to a *big* DataFrame
   column batch-vectorized: ``membership_udf`` (Bloom semi-join
   pre-filter, the reference's stated Bloom application,
   bloomfilter.rs:49-53) and ``point_query_udf`` (CMS frequency lookup).
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, LongType, StringType

from .agg import load_state
from .bloom import BloomFilter
from .cms import CountMinSketch


# -- per-state estimates (state column → scalar) -----------------------------


@F.pandas_udf(LongType())
def hll_count(state: pd.Series) -> pd.Series:
    return state.map(lambda b: int(load_state(b).count()))


@F.pandas_udf(LongType())
def hll_union_count(state_a: pd.Series, state_b: pd.Series) -> pd.Series:
    """|A ∪ B| estimate from two HLL state columns. HLL union is
    LOSSLESS (register max ≡ the sketch of A ∪ B built directly), so
    set-algebra derived estimates — inclusion–exclusion intersection
    |A|+|B|−|A∪B|, difference |A|−|A∩B| — carry per-term 1.04/√m
    error. Each input state is deserialized fresh, so the in-place
    merge never aliases caller data."""
    return pd.Series(
        [
            int(load_state(a).merge(load_state(b)).count())
            for a, b in zip(state_a, state_b)
        ],
        dtype="int64",
    )


@F.pandas_udf(LongType())
def bloom_len(state: pd.Series) -> pd.Series:
    return state.map(lambda b: int(load_state(b).len_estimate()))


@F.pandas_udf(LongType())
def cms_total(state: pd.Series) -> pd.Series:
    return state.map(lambda b: int(load_state(b).total()))


@F.pandas_udf(DoubleType())
def ams_f2(state: pd.Series) -> pd.Series:
    """Self-join size Σ count² from a CountSketch state column (the
    AMS tug-of-war estimate; 3/sqrt(w) relative bound)."""
    return pd.Series([float(load_state(b).f2()) for b in state])


@F.pandas_udf(DoubleType())
def ams_l2(state: pd.Series) -> pd.Series:
    """L2 norm sqrt(F2) of the counted stream from a CountSketch state."""
    return pd.Series([float(load_state(b).l2()) for b in state])


@F.pandas_udf(DoubleType())
def kmv_distinct(state: pd.Series) -> pd.Series:
    """Distinct-count estimate from a KMV state column (exact below k,
    else the unbiased (k−1)/U_(k); Beyer SIGMOD'07)."""
    return pd.Series([float(load_state(b).distinct()) for b in state])


@F.pandas_udf(DoubleType())
def kmv_jaccard(state_a: pd.Series, state_b: pd.Series) -> pd.Series:
    """Jaccard resemblance between two KMV state columns: the shared
    fraction of the union synopsis's bottom-k (std ≤ 0.5/√k) — a
    DIRECT pairwise estimate, unlike HLL inclusion–exclusion whose
    error is relative to the set sizes rather than to J."""
    return pd.Series(
        [float(load_state(a).jaccard(load_state(b))) for a, b in zip(state_a, state_b)]
    )


@F.pandas_udf(DoubleType())
def kmv_intersection(state_a: pd.Series, state_b: pd.Series) -> pd.Series:
    """|A∩B| ≈ J(A,B)·|A∪B| from two KMV state columns."""
    return pd.Series(
        [
            float(load_state(a).intersection_distinct(load_state(b)))
            for a, b in zip(state_a, state_b)
        ]
    )


@F.pandas_udf(DoubleType())
def kmv_difference(state_a: pd.Series, state_b: pd.Series) -> pd.Series:
    """|A\\B| from two KMV state columns (union-synopsis fraction in A
    only × union distinct) — completes the pairwise set algebra."""
    return pd.Series(
        [
            float(load_state(a).difference_distinct(load_state(b)))
            for a, b in zip(state_a, state_b)
        ]
    )


def kmv_pair_stats(
    states, pairs, group_col: str = "source", state_col: str = "state"
):
    """Jaccard / union / intersection estimates for an EXPLICIT list of
    group pairs — the large-G scale path (SCALE.md): two broadcastable
    equi-joins of the KB-per-row state table against ``pairs``
    (columns ``{group_col}_a``, ``{group_col}_b``), so the plan never
    contains a nested-loop pair enumeration. Use this when G is too
    large for the all-pairs state join (G² rows) and a candidate
    generator (co-occurrence, blocking, an analyst's list) bounds the
    pairs of interest; the corpus itself is never touched.

    Returns ``pairs`` + ``kmv_jaccard/kmv_union/kmv_intersection``.
    """
    ca, cb = f"{group_col}_a", f"{group_col}_b"
    a = states.select(
        F.col(group_col).alias(ca), F.col(state_col).alias("__state_a")
    )
    b = states.select(
        F.col(group_col).alias(cb), F.col(state_col).alias("__state_b")
    )
    joined = pairs.join(a, ca).join(b, cb)

    @F.pandas_udf("jaccard double, union_est double, inter_est double")
    def _stats(state_a: pd.Series, state_b: pd.Series) -> pd.DataFrame:
        out = {"jaccard": [], "union_est": [], "inter_est": []}
        for ba, bb in zip(state_a, state_b):
            ka, kb = load_state(ba), load_state(bb)
            j = ka.jaccard(kb)
            u = ka.union_distinct(kb)
            out["jaccard"].append(j)
            out["union_est"].append(u)
            out["inter_est"].append(j * u)
        return pd.DataFrame(out)

    return joined.withColumn("__s", _stats("__state_a", "__state_b")).select(
        *pairs.columns,
        F.col("__s.jaccard").alias("kmv_jaccard"),
        F.col("__s.union_est").alias("kmv_union"),
        F.col("__s.inter_est").alias("kmv_intersection"),
    )


@F.pandas_udf(DoubleType())
def sketch_quantile(state: pd.Series, q: pd.Series) -> pd.Series:
    """q-quantile of any quantile-bearing state (tdigest, kll,
    ddsketch: same ``.quantile`` API). SQL also names it
    ``tdigest_quantile``; from a DataFrame pass ``F.lit(q)``."""
    return pd.Series(
        [float(load_state(b).quantile(float(qq))) for b, qq in zip(state, q)]
    )


@F.pandas_udf(DoubleType())
def sketch_cdf(state: pd.Series, x: pd.Series) -> pd.Series:
    """Rank of ``x`` in a tdigest or ddsketch state. SQL also names it
    ``tdigest_cdf``; from a DataFrame pass ``F.lit(x)``."""

    def one(b, xx):
        k = load_state(b)
        if not hasattr(k, "cdf"):
            # ADVICE r5: the kind-generic name invites use on KLL
            # states, which have no cdf — fail with the kind named
            # instead of an opaque executor AttributeError
            raise TypeError(
                f"sketch_cdf: state kind {type(k).__name__!r} has no cdf "
                "(supported: tdigest, ddsketch)"
            )
        return float(k.cdf(float(xx)))

    return pd.Series([one(b, xx) for b, xx in zip(state, x)])


def moment_udf(moment: str):
    """t-digest exact moments from centroids (tdigest.rs:483-489):
    ``count | sum | mean | min | max``."""
    getters = {
        "count": lambda s: float(s.count()),
        "sum": lambda s: float(s.sum()),
        "mean": lambda s: float(s.mean()),
        "min": lambda s: float(s.min),
        "max": lambda s: float(s.max),
    }
    get = getters[moment]

    @F.pandas_udf(DoubleType())
    def _m(state: pd.Series) -> pd.Series:
        return state.map(lambda b: get(load_state(b)))

    return _m


@F.pandas_udf(LongType())
def reservoir_seen(state: pd.Series) -> pd.Series:
    """Reservoir stream length i() (reservoirsampling.rs:101-104)."""
    return state.map(lambda b: int(load_state(b).n))


@F.pandas_udf(LongType())
def reservoir_size(state: pd.Series) -> pd.Series:
    return state.map(lambda b: int(load_state(b).sample.size))


@F.pandas_udf(ArrayType(StringType()))
def topk_items(state: pd.Series) -> pd.Series:
    """TopK query() → array of 'item:count' strings ordered by
    (count desc, item asc) (cmsheap.rs:213-219 iteration order,
    descending here for readability)."""

    def render(b):
        items, counts = load_state(b).query()
        return [f"{i}:{c}" for i, c in zip(items.tolist(), counts.tolist())]

    return state.map(render)


@F.pandas_udf(ArrayType(LongType()))
def heavy_hitters(state: pd.Series, theta: pd.Series) -> pd.Series:
    """Heavy-hitter readout for LossyCounter states — query(theta) →
    array of items with f >= (theta - eps) * n (lossycounter.rs:258-273)
    — and, via the same ``load_state`` dispatch, SpaceSaving states
    (query(phi): items with f + err >= phi * n)."""
    return pd.Series(
        [load_state(b).query(float(t))[0].tolist() for b, t in zip(state, theta)]
    )


# -- broadcast point queries (big column × small broadcast state) ------------


def _group_query_udf(spark, state_by_group: dict, from_bytes, query, dtype, return_type):
    """Pandas UDF ``(group, values)`` answering each row with
    ``query(kernel, values)`` against its group's kernel from the
    broadcast ``state_by_group``; rows whose group has no state get
    0 / False. Per batch the group column is factorized once and each
    group's kernel answers its rows in one vectorized call; a null group
    is the ``None`` key. Kernels deserialize once per task: the cache
    lives in the UDF's closure, which a worker unpickles for every task."""
    bc = spark.sparkContext.broadcast({k: bytes(v) for k, v in state_by_group.items()})
    cache: dict = {}

    def kernel(g):
        if g not in cache:
            blob = bc.value.get(g)
            cache[g] = None if blob is None else from_bytes(blob)
        return cache[g]

    @F.pandas_udf(return_type)
    def _q(group: pd.Series, values: pd.Series) -> pd.Series:
        out = np.zeros(len(values), dtype=dtype)
        v = values.to_numpy()
        codes, uniques = pd.factorize(group, use_na_sentinel=False)
        if len(uniques) == 1:
            spans = [(uniques[0], slice(None))]
        else:
            order = np.argsort(codes, kind="stable")
            bounds = np.searchsorted(codes[order], np.arange(len(uniques) + 1))
            spans = [(g, order[bounds[i] : bounds[i + 1]]) for i, g in enumerate(uniques)]
        for g, rows in spans:
            sk = kernel(None if pd.isna(g) else g)
            if sk is not None:
                out[rows] = query(sk, v[rows])
        return pd.Series(out)

    return _q


def membership_udf(spark, state_by_group: dict):
    """Vectorized Bloom membership against per-group filters.

    ``state_by_group``: {group_value: state_bytes}. For a global filter
    pass ``{None: blob}`` with a null group column
    (``F.lit(None).cast("string")``): a null group looks up the ``None``
    key. Rows of a group without a filter are not members. The dict is a
    Spark broadcast: one copy per executor, deserialized once per task.
    """
    return _group_query_udf(
        spark, state_by_group, BloomFilter.from_bytes, BloomFilter.query, bool, BooleanType()
    )


def point_query_udf(spark, state_by_group: dict):
    """Vectorized CMS frequency estimates against per-group sketches.

    Same ``state_by_group`` contract as :func:`membership_udf` (a null
    group reads the ``None`` key); rows of a group without a sketch
    estimate 0."""
    return _group_query_udf(
        spark,
        state_by_group,
        CountMinSketch.from_bytes,
        lambda sk, v: sk.query_points(v).astype(np.int64),
        np.int64,
        LongType(),
    )


def collect_states(
    merged, group_cols: list[str], sketch_name: str, max_groups: int = 100_000
) -> dict:
    """Collect {group_value(s): state_bytes} for one sketch from the
    merged table — kilobytes per group, safe to broadcast.

    ``max_groups`` bounds the driver-side collect: a bounded group
    space (sources, languages, event types) is the design point of the
    broadcast path, and a 100× scale-up that silently explodes the
    group count must fail LOUDLY here rather than OOM the driver.
    Large-G users should keep the states distributed and join against
    them instead — see :func:`kmv_pair_stats` (equi-join against an
    explicit pair list) for the pattern. The guard costs no extra job:
    it reads at most ``max_groups + 1`` rows via limit.
    """
    rows = (
        merged.filter(F.col("sketch") == sketch_name)
        .select(*group_cols, "state")
        .limit(max_groups + 1)
        .collect()
    )
    if len(rows) > max_groups:
        raise ValueError(
            f"collect_states: > {max_groups} groups for sketch "
            f"'{sketch_name}' — the broadcast point-query path collects "
            "one state per group and is meant for bounded group spaces; "
            "raise max_groups deliberately, or keep states distributed "
            "and equi-join against them (see kmv_pair_stats / SCALE.md)"
        )
    if len(group_cols) == 1:
        return {r[0]: bytes(r[1]) for r in rows}
    return {tuple(r[:-1]): bytes(r[-1]) for r in rows}


# SQL name → estimator; the ``tdigest_*`` names are the historical
# spellings of the kind-generic ``sketch_*`` estimators
SQL_FUNCTIONS = {
    "hll_count": hll_count,
    "ams_f2": ams_f2,
    "ams_l2": ams_l2,
    "kmv_distinct": kmv_distinct,
    "kmv_jaccard": kmv_jaccard,
    "kmv_intersection": kmv_intersection,
    "kmv_difference": kmv_difference,
    "bloom_len": bloom_len,
    "cms_total": cms_total,
    "reservoir_seen": reservoir_seen,
    "reservoir_size": reservoir_size,
    "tdigest_quantile": sketch_quantile,
    "sketch_quantile": sketch_quantile,
    "tdigest_cdf": sketch_cdf,
    "sketch_cdf": sketch_cdf,
    "heavy_hitters": heavy_hitters,
}

# SparkContext → {SQL name: JVM UDF handle}, filled by register_sql_functions
_SQL_JUDFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_sql_functions(spark) -> None:
    """Expose the state-reading estimators of :data:`SQL_FUNCTIONS` to
    ``spark.sql`` so merged sketch tables are queryable from plain SQL::

        spark.sql("SELECT source, hll_count(state) FROM states "
                  "WHERE sketch = 'hll'")

    Each name registers the same module-level UDF a DataFrame calls
    (``sketch_quantile("state", F.lit(0.5))`` is
    ``sketch_quantile(state, 0.5)`` in SQL). ``heavy_hitters`` reads
    lossy and spacesaving states, ``sketch_quantile`` tdigest, kll and
    ddsketch states, ``sketch_cdf`` tdigest and ddsketch states.

    Every call registers all the names again, so it restores one a user
    has overridden. Only the first call per ``SparkContext`` builds the
    JVM UDFs (each under its SQL name, which is the default output
    column name); later calls re-register those handles (measured on 4
    vCPUs, medians of 12 calls: 75 ms when each call builds all 16, 8 ms
    when it re-registers them). The handles are cached weakly on the context,
    so a new session after ``spark.stop()`` builds its own.
    """
    sc = spark.sparkContext
    judfs = _SQL_JUDFS.get(sc)
    if judfs is None:
        judfs = {name: spark.udf.register(name, udf)._judf for name, udf in SQL_FUNCTIONS.items()}
        _SQL_JUDFS[sc] = judfs
        return
    registry = spark._jsparkSession.udf()
    for name, judf in judfs.items():
        registry.registerPython(name, judf)
