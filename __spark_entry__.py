"""Driver contract: flagship entry + per-operator queries + DuckDB oracles.

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
over the driver's parquet tables. Design rule for hash-exact oracle
parity: a query's output contains only values that are bit-deterministic
in BOTH engines — exact counts, exact min/max, divisions of exact
integers, ranks — while approximate estimates are emitted as
within-published-error-bound booleans. That mirrors the reference's own
test criterion (estimates asserted inside 1.04/sqrt(m), a<=â<=a+eps*N,
etc. — SURVEY.md §5), and means a sketch regression flips a boolean and
fails the value-hash, instead of comparing two legitimately different
approximations.

Queries marked "no oracle" (SimHash) are non-SQL-expressible; the
driver records a rows-only check for those.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

import numpy as np

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from sketchlib.agg import SketchSpec, sketch_aggregate, sketch_aggregate_direct
from sketchlib.estimates import collect_states, hll_count, membership_udf, point_query_udf
from sketchlib.hll import HLL
from sketchlib.cms import CountMinSketch
from sketchlib.kll import KLL
from sketchlib.reservoir import Reservoir
from sketchlib.session import build_pyfiles_zip, ensure_worker_pythonpath
from sketchlib.session import run_concurrently as _par
from sketchlib.tdigest import TDigest
from sketchlib.topk import topk_exact_rescore

# Python workers inherit the driver env: make sketchlib importable there
ensure_worker_pythonpath()

SEED = 42
# lifecycle-certificate sample bound: driver-side key collects in the
# cuckoo/quotient queries take at most this many keys (distributed
# top-N), so the certificates stay O(1) in table size
CERT_CAP = 4096
HLL_P = 14
HLL_SLACK = 4 * 1.04 / math.sqrt(2**HLL_P)  # 4 sigma of the published bound
KMV_K = 1024  # kmv_source_overlap: Jaccard std 0.5/sqrt(k) ~ 1.6%
KMV_SLACK = 5.0 / math.sqrt(KMV_K - 2)  # 5 sigma of (k-1)/U_(k) rel std


_PYFILES_SENT: set = set()


class _stream_shuffle:
    """Temporarily size ``spark.sql.shuffle.partitions`` for a stateful
    streaming query: the state-store partition count is captured from
    the session at the checkpoint's FIRST batch and every micro-batch
    then schedules that many state tasks — the session default (sized
    for batch scans) is pure per-batch overhead for these KB-state
    fixtures. The conf is restored on exit; fixtures use fresh
    checkpoints so the width never conflicts with an existing store. A
    real deployment sizes this to its key cardinality instead."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, int(n)

    def __enter__(self):
        self.old = self.spark.conf.get(self.KEY)
        self.spark.conf.set(self.KEY, str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set(self.KEY, self.old)
        return False


def _ensure_workers(spark: SparkSession) -> None:
    """Make sketchlib importable on executors regardless of how the
    caller created its session: PYTHONPATH (set at module import above)
    only reaches workers if the JVM started after it, so also ship the
    package via addPyFile — works at runtime on any live context."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _PYFILES_SENT:
        return
    zip_path = build_pyfiles_zip()
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already registered on this context
    _PYFILES_SENT.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_workers(spark)
    return _spread(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))


def _spread(df: DataFrame) -> DataFrame:
    """Fan a low-partition scan out to the session's parallelism before
    expensive per-row expressions. The test-data documents table is ONE
    parquet file with ONE row group, so every word/shingle expression
    would otherwise run on a single core; the repartition shuffles only
    the tiny raw table once. At production scale the input arrives in
    thousands of splits and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 16):
        return df.repartition(min(target, 16))
    return df


def _words(docs: DataFrame) -> DataFrame:
    return docs.withColumn("words", F.split("text", " "))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """One pass over documents builds HLL+CMS+Bloom+t-digest+KLL per
    source; returns the merged estimate table (SURVEY.md §3 pipeline)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = _words(_t(spark, sf_dir, "documents"))
    specs = [
        SketchSpec("distinct_words", "hll", "words", {"p": HLL_P, "seed": SEED}),
        SketchSpec("word_freq", "cms", "words", {"w": 2048, "d": 5, "seed": SEED}),
        SketchSpec("word_member", "bloom", "words", {"m": 1 << 16, "k": 4, "seed": SEED}),
        SketchSpec("chars_digest", "tdigest", "n_chars", {"delta": 200.0}),
        SketchSpec("chars_kll", "kll", "n_chars", {"k": 200, "seed": SEED}),
    ]
    merged = sketch_aggregate(docs, ["source"], specs, fanout="auto")
    hll_rows = merged.filter(F.col("sketch") == "distinct_words")
    return (
        hll_rows.withColumn("distinct_words_est", hll_count("state"))
        .select("source", "sketch", "distinct_words_est", "n_updates")
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_direct_feed_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The direct parquet-split stage-1 feed (r5,
    `agg.build_partials_direct`: Python workers read their own parquet
    splits, one task per handful of files, no raw row ever crosses the
    JVM↔Python boundary) vs the default JVM-scan feed: HLL + CMS +
    Bloom over events.user_id per event_type through BOTH feeds, then
    per group (a) the feeds' merged states compared byte-for-byte —
    commutative/idempotent kernels must not see the feed at all —
    (b) the HLL estimate checked against the exact distinct count, and
    (c) n_updates checked against the exact non-null value count.
    Reference relationship: the merge-equivalence contract
    (hyperloglog/mod.rs:556-574) applied across FEEDS, not just
    partition orders."""
    path = os.path.join(sf_dir, "events.parquet")
    specs = [
        SketchSpec("hll", "hll", "user_id", {"p": HLL_P, "seed": SEED}),
        SketchSpec("cms", "cms", "user_id", {"w": 2048, "d": 5, "seed": SEED}),
        SketchSpec("bloom", "bloom", "user_id", {"m": 1 << 18, "k": 5, "seed": SEED}),
    ]
    ev = spark.read.parquet(path)
    direct = sketch_aggregate_direct(spark, path, ["event_type"], specs, fanout="auto")
    default = sketch_aggregate(ev, ["event_type"], specs, fanout="auto")
    same = (
        direct.alias("a")
        .join(default.alias("b"), ["event_type", "sketch"])
        .groupBy("event_type")
        .agg(
            (
                F.count(F.lit(1))
                == F.sum((F.col("a.state") == F.col("b.state")).cast("int"))
            ).alias("feeds_byte_identical")
        )
    )
    est = direct.where(F.col("sketch") == "hll").select(
        "event_type", hll_count("state").alias("est"), "n_updates"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count("user_id").alias("n_values"),
    )
    return (
        exact.join(est, "event_type")
        .join(same, "event_type")
        .select(
            "event_type",
            "distinct_users",
            (F.col("n_updates") == F.col("n_values")).alias("updates_exact"),
            (
                F.abs(F.col("est") - F.col("distinct_users"))
                <= F.greatest(F.lit(HLL_SLACK) * F.col("distinct_users"), F.lit(3.0))
            ).alias("hll_ok"),
            "feeds_byte_identical",
        )
    )


def q_hll_distinct_words_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-token count per source vs exact, bound-checked."""
    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs, ["source"], [SketchSpec("hll", "hll", "words", {"p": HLL_P, "seed": SEED})], fanout="auto"
    )
    est = merged.withColumn("est", hll_count("state")).select("source", "est")
    exact = (
        docs.select("source", F.explode("words").alias("w"))
        .groupBy("source")
        .agg(F.countDistinct("w").alias("distinct_words"))
    )
    return exact.join(est, "source").select(
        "source",
        "distinct_words",
        (
            F.abs(F.col("est") - F.col("distinct_words"))
            <= F.greatest(F.lit(HLL_SLACK) * F.col("distinct_words"), F.lit(3.0))
        ).alias("hll_ok"),
    )


def q_hll_distinct_users_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    merged = sketch_aggregate(
        ev, ["event_type"], [SketchSpec("hll", "hll", "user_id", {"p": HLL_P, "seed": SEED})], fanout="auto"
    )
    est = merged.withColumn("est", hll_count("state")).select("event_type", "est")
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("distinct_users"))
    return exact.join(est, "event_type").select(
        "event_type",
        "distinct_users",
        (
            F.abs(F.col("est") - F.col("distinct_users"))
            <= F.greatest(F.lit(HLL_SLACK) * F.col("distinct_users"), F.lit(3.0))
        ).alias("hll_ok"),
    )


def q_cms_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global CMS over all document tokens; the 50 most frequent words'
    exact counts plus the a <= â <= a + eps*N bound check."""
    docs = _words(_t(spark, sf_dir, "documents"))
    w, d = 2048, 5
    merged = sketch_aggregate(
        docs, [], [SketchSpec("cms", "cms", "words", {"w": w, "d": d, "seed": SEED})], fanout="auto"
    )
    from sketchlib import caches as _caches

    exact = _caches.register(
        docs.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(50)
        .persist(),
        owner="entry.cms_word_freq",
    )
    # sketch build and exact top-50 are independent passes: overlap them
    (blob_row,), _n = _par(
        lambda: merged.select("state").collect(),
        lambda: exact.count(),
    )
    blob = blob_row[0]
    sketch = CountMinSketch.from_bytes(bytes(blob))
    eps_n = math.e / w * sketch.total()
    freq = point_query_udf(spark, {"all": bytes(blob)})
    # the sketch consumed xxhash64(word) (JVM-side pre-hash): query the same way
    est = exact.withColumn("est", freq(F.lit("all"), F.xxhash64("word")))
    return est.select(
        "word",
        "freq",
        ((F.col("est") >= F.col("freq")) & (F.col("est") <= F.col("freq") + F.lit(eps_n))).alias(
            "cms_ok"
        ),
    )


def q_bloom_semijoin_building(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom pre-filter + exact verify == exact semi-join (the
    reference's stated Bloom application, bloomfilter.rs:49-53). Zero
    false negatives is the correctness property under test: a missing
    row fails the value-hash."""
    from sketchlib.joins import bloom_semijoin

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    return bloom_semijoin(
        orders, "o_custkey", cust, "c_custkey", m=1 << 20, k=7, seed=SEED
    ).select("o_orderkey", "o_custkey")


def q_bloom_antijoin_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated ANTI join (the blocklist pattern: exclude rows
    whose key is in a known set): lineitems whose part is NOT in the
    large-size part set, via joins.bloom_antijoin — one scan, one Bloom
    evaluation per row, definite-absents pass through with no shuffle,
    maybe-presents exactly verified against the broadcast keys. Result
    is exactly the plain left_anti join; oracle is the NOT EXISTS SQL."""
    from sketchlib.joins import bloom_antijoin

    li = _t(spark, sf_dir, "lineitem")
    small = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 26)
    out = bloom_antijoin(li, "l_partkey", small, "p_partkey")
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
    )


def q_tdigest_quantity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest per l_returnflag: exact moments from the digest (count
    exact, min/max exact — tdigest.rs:1355-1361) + quantile tolerance."""
    from sketchlib import caches as _caches

    # one narrow scan shared by the two overlapped jobs below (block-
    # level cache locking computes each partition once)
    li = _caches.register(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity").persist(),
        owner="entry.tdigest_quantity_stats",
    )
    merged = sketch_aggregate(
        li, ["l_returnflag"], [SketchSpec("td", "tdigest", "l_quantity", {"delta": 200.0})], fanout="auto"
    )
    exact = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("exact_q50")
    )
    # digest build and exact percentile are independent jobs over the
    # shared cached scan: overlap them (guide §2.6)
    rows, _n = _par(
        lambda: merged.select("l_returnflag", "state").collect(),
        lambda: exact.count(),
    )
    stats = []
    for flag, blob in rows:
        td = TDigest.from_bytes(bytes(blob))
        stats.append((flag, int(td.count()), float(td.min), float(td.max), td.quantile(0.5)))
    sdf = spark.createDataFrame(
        stats, "l_returnflag string, n_rows long, min_qty double, max_qty double, q50 double"
    )
    return sdf.join(exact, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        "min_qty",
        "max_qty",
        (F.abs(F.col("q50") - F.col("exact_q50")) <= F.lit(1.5)).alias("q50_ok"),
    )


def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plain-SQL API surface end-to-end: merged sketch states land
    in a temp view and are read back with spark.sql + the registered
    estimator UDFs (estimates.register_sql_functions) — no DataFrame
    code in the read path. Estimates are bound-checked against the
    exact answers inside the same SQL statement."""
    from sketchlib.estimates import register_sql_functions

    register_sql_functions(spark)
    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs,
        ["source"],
        [
            SketchSpec("hll", "hll", "words", {"p": HLL_P, "seed": SEED}),
            SketchSpec("kmv", "kmv", "words", {"k": KMV_K, "seed": SEED}),
            SketchSpec("td", "tdigest", "n_chars", {"delta": 200.0}),
        ],
        fanout="auto",
    )
    merged.createOrReplaceTempView("sketch_states")
    docs.select("doc_id", "source", F.explode("words").alias("w"), "n_chars").createOrReplaceTempView(
        "doc_words"
    )
    return spark.sql(f"""
        WITH exact AS (
            SELECT source,
                   COUNT(DISTINCT w) AS distinct_words,
                   MIN(n_chars) AS min_chars
            FROM doc_words GROUP BY source
        ),
        est AS (
            SELECT h.source,
                   hll_count(h.state) AS hll_est,
                   kmv_distinct(k.state) AS kmv_est,
                   tdigest_quantile(t.state, 0.0d) AS td_min
            FROM sketch_states h
            JOIN sketch_states k ON h.source = k.source
            JOIN sketch_states t ON h.source = t.source
            WHERE h.sketch = 'hll' AND k.sketch = 'kmv' AND t.sketch = 'td'
        )
        SELECT exact.source,
               exact.distinct_words,
               ABS(est.hll_est - exact.distinct_words)
                   <= GREATEST({HLL_SLACK} * exact.distinct_words, 3.0) AS hll_ok,
               ABS(est.kmv_est - exact.distinct_words)
                   <= GREATEST({KMV_SLACK} * exact.distinct_words, 3.0) AS kmv_ok,
               est.td_min = CAST(exact.min_chars AS DOUBLE) AS td_min_ok
        FROM exact JOIN est ON exact.source = est.source
    """)


def q_tdigest_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED t-digest per l_returnflag: l_extendedprice weighted by
    l_quantity (insert_weighted path, tdigest.rs:318-345). The digest's
    total weight is exact (quantities are whole numbers, float64 sums
    of integers are exact in any order); the weighted median is checked
    by its exact weighted rank: sum of weight at values <= q50 must
    bracket half the total weight within ±5%."""
    from sketchlib import caches as _caches

    # the build and the rank check are SEPARATE actions over the same 3
    # columns: persist the narrow projection so the scan + the _spread
    # repartition shuffle run once instead of twice
    li = _caches.register(
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .persist(),
        owner="entry.tdigest_weighted_price",
    )
    merged = sketch_aggregate(
        li,
        ["l_returnflag"],
        [
            SketchSpec(
                "wtd",
                "tdigest",
                "l_extendedprice",
                {"delta": 200.0},
                weight_col="l_quantity",
            )
        ],
        fanout="auto",
    )
    rows = merged.select("l_returnflag", "state").collect()
    stats = [
        (flag, int(TDigest.from_bytes(bytes(b)).count()), TDigest.from_bytes(bytes(b)).quantile(0.5))
        for flag, b in rows
    ]
    sdf = spark.createDataFrame(stats, "l_returnflag string, total_weight long, q50 double")
    ranks = li.join(F.broadcast(sdf), "l_returnflag").groupBy("l_returnflag").agg(
        (
            F.sum(F.when(F.col("l_extendedprice") <= F.col("q50"), F.col("l_quantity")).otherwise(0.0))
            / F.sum("l_quantity")
        ).alias("rank50")
    )
    return sdf.join(ranks, "l_returnflag").select(
        "l_returnflag",
        "total_weight",
        (F.abs(F.col("rank50") - 0.5) <= 0.05).alias("wq50_ok"),
    )


def q_kll_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantiles per event_type, rank-error-checked: the exact rank
    of the estimated quantile must be within ±0.05 of the target."""
    from sketchlib import caches as _caches

    # build and rank check are separate actions over the same 2 columns:
    # persist the narrow projection so scan + _spread shuffle run once
    ev = _caches.register(
        _t(spark, sf_dir, "events").select("event_type", "value").persist(),
        owner="entry.kll_event_value_quantiles",
    )
    merged = sketch_aggregate(
        ev, ["event_type"], [SketchSpec("kll", "kll", "value", {"k": 200, "seed": SEED})], fanout="auto"
    )
    rows = merged.select("event_type", "state").collect()
    qs = [(et, *(KLL.from_bytes(bytes(b)).quantiles([0.5, 0.9]).tolist())) for et, b in rows]
    qdf = spark.createDataFrame(qs, "event_type string, q50 double, q90 double")
    ranked = (
        ev.join(F.broadcast(qdf), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum((F.col("value") <= F.col("q50")).cast("long")) / F.count(F.lit(1))).alias("r50"),
            (F.sum((F.col("value") <= F.col("q90")).cast("long")) / F.count(F.lit(1))).alias("r90"),
        )
    )
    return ranked.select(
        "event_type",
        "n",
        (F.abs(F.col("r50") - 0.5) <= 0.05).alias("q50_ok"),
        (F.abs(F.col("r90") - 0.9) <= 0.05).alias("q90_ok"),
    )


def q_ddsketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch relative-error quantiles per event_type (Masson et al.
    VLDB'19; extra beyond the reference — completes the quantile family:
    t-digest value-error, KLL rank-error, DDSketch RELATIVE error, and
    merges byte-identically under any partitioning). Certificate: the
    estimate must satisfy the relative-error guarantee against the
    exact rank element WITHOUT materializing it — v_r within
    [est/(1+a'), est/(1-a')] is equivalent to two scalable per-group
    counts: #(value < est/(1+a')) <= r < #(value <= est/(1-a'))."""
    from sketchlib.ddsketch import DDSketch

    alpha = 0.01
    slop = 1.0 + 1e-9  # float-division guard on the window edges
    from sketchlib import caches as _caches

    ev = _caches.register(
        _t(spark, sf_dir, "events").select("event_type", "value").persist(),
        owner="entry.ddsketch_value_quantiles",
    )
    merged = sketch_aggregate(
        ev,
        ["event_type"],
        [SketchSpec("dd", "ddsketch", "value", {"alpha": alpha})],
        fanout="auto",
    )
    rows = merged.select("event_type", "state").collect()
    qs = [
        (et, *(DDSketch.from_bytes(bytes(b)).quantiles([0.5, 0.95]).tolist()))
        for et, b in rows
    ]
    # ADVICE r5: the certificate window below assumes POSITIVE quantile
    # estimates (for a negative rank element the relative-error interval
    # flips); events.value is strictly positive today — assert it so a
    # future data change surfaces as a clear precondition failure, not a
    # spurious guarantee violation
    for et, q50, q95 in qs:
        if not (q50 > 0.0 and q95 > 0.0):
            raise AssertionError(
                f"ddsketch certificate precondition: non-positive quantile "
                f"estimate for {et!r} (q50={q50}, q95={q95})"
            )
    qdf = spark.createDataFrame(qs, "event_type string, q50 double, q95 double")
    checks = []
    for q, col in ((0.5, "q50"), (0.95, "q95")):
        lo = F.col(col) / F.lit((1.0 + alpha) * slop)
        hi = F.col(col) / F.lit((1.0 - alpha) / slop)
        r = F.floor(F.lit(q) * (F.count(F.lit(1)) - 1))
        c_lo = F.sum((F.col("value") < lo).cast("long"))
        c_hi = F.sum((F.col("value") <= hi).cast("long"))
        checks.append(((c_lo <= r) & (r < c_hi)).alias(f"{col}_ok"))
    return (
        ev.join(F.broadcast(qdf), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), *checks)
    )


def q_topk_words_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed top-10 words per lang (candidate generation +
    certified rescore, sketchlib.topk.topk_exact_rescore)."""
    docs = _words(_t(spark, sf_dir, "documents"))
    flat = docs.select("lang", F.explode("words").alias("word"))
    top = topk_exact_rescore(flat, ["lang"], "word", k=10, candidates_per_part=64)
    return top.select("lang", F.col("value").alias("word"), "cnt")


def q_reservoir_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed reservoir per event_type: deterministic invariants
    (sample_size = min(k, n), seen = n) are the oracle-checkable part;
    statistical uniformity is pytest-asserted (FIXTURES.md §2)."""
    ev = _t(spark, sf_dir, "events")
    merged = sketch_aggregate(
        ev,
        ["event_type"],
        [SketchSpec("res", "reservoir", "value", {"k": 100, "seed": SEED})],
        fanout="auto",
    )
    rows = merged.select("event_type", "state").collect()
    out = []
    for et, blob in rows:
        r = Reservoir.from_bytes(bytes(blob))
        out.append((et, int(r.sample.size), int(r.n)))
    return spark.createDataFrame(out, "event_type string, sample_size long, seen long")


def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting per source (hash-groupBy dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_unique_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("n_dup_docs"),
    )


def q_text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality ratios per source; every double is a
    ratio of exact integers so both engines agree bit-for-bit."""
    docs = _words(_t(spark, sf_dir, "documents"))
    stop = {"the", "a"}
    per_doc = docs.select(
        "source",
        F.size("words").alias("n_words"),
        F.size(F.filter("words", lambda w: w.isin(*stop))).alias("n_stop"),
        "n_chars",
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        (F.sum("n_stop").cast("double") / F.sum("n_words")).alias("stopword_ratio"),
        (F.sum("n_words").cast("double") / F.count(F.lit(1))).alias("avg_words_per_doc"),
    )


def _jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact 3-gram-shingle Jaccard pairs (J >= 0.5, doc_a < doc_b)
    over a (doc_id, words) frame — the SQL-expressible exact path."""
    # NOTE (r6): do NOT persist `sh` — its three consumers (sizes, both
    # self-join sides) are identical subtrees in ONE action, which
    # Catalyst already shares via ReusedExchange; a persist adds a
    # materialization barrier + cache write of the exploded rows
    # (measured 1.73 -> 2.25 s on ngram_jaccard_neardup)
    sh = docs.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.slice("words", 1, F.greatest(F.size("words") - F.lit(2), F.lit(0))),
                lambda w, i: F.concat_ws(
                    " ",
                    F.element_at("words", i + 1),
                    F.element_at("words", i + 2),
                    F.element_at("words", i + 3),
                ),
            )
        ).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("inter") * 2 >= (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .select("doc_a", "doc_b")
    )


def q_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-duplicate pairs (J >= 0.5,
    doc_a < doc_b). The SQL-expressible oracle for the MinHash path."""
    return _jaccard_pairs(_words(_t(spark, sf_dir, "documents")))


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors for the first 5 query
    vectors (rank output; similarity values stay internal to dodge
    engine-specific float formatting)."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )

    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v)

    pairs = q.crossJoin(emb).withColumn(
        "sim", dot(F.col("qe"), F.col("e")) / F.sqrt(dot(F.col("qe"), F.col("qe")) * dot(F.col("e"), F.col("e")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("long").alias("rank"), F.col("vec_id").alias("neighbor_id"))
    )


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs at threshold 0.45, via the
    2D-blocked BLAS kernel — no Catalyst cartesian product in the plan
    (sketchlib.ann.cosine_neardup_pairs_blocked). The sub-quadratic LSH
    candidate path is exercised by q_srp_neardup_recall; at this
    dataset's similarity regime (near-dups at ~0.45-0.51 vs background
    ~0.43) LSH cannot guarantee recall 1.0, so the exact kernel is the
    product path for exact-threshold semantics."""
    from sketchlib.ann import cosine_neardup_pairs_blocked

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs_blocked(emb, 0.45)


def q_srp_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH near-dup path (bucket join + exact
    verify, no all-pairs anywhere): reports the exact pair count and
    whether LSH recall vs the exact kernel meets the 0.8 target
    (measured 1.0 at sf0.001/0.01/0.1 with 24 tables x 3 bits;
    deterministic seed). Precision is 1.0 by construction. The
    certificate itself is 100x-safe: recall is two distributed counts
    (exact count + semi-join hit count) — no pair set ever reaches the
    driver."""
    from sketchlib.ann import cosine_neardup_pairs_blocked, srp_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    exact = cosine_neardup_pairs_blocked(emb, 0.45).persist()
    lsh = srp_neardup_pairs(emb, 0.45, dim=64, n_bits=3, n_tables=24, seed=SEED)
    # the exact count and the LSH-side semi-join are independent jobs:
    # overlap them (guide §2.6); both first-materialize the shared
    # persisted `exact` (computed once by the BlockManager)
    n_exact, n_hit = _par(
        lambda: exact.count(),
        lambda: exact.join(lsh, ["id_a", "id_b"], "left_semi").count(),
    )
    exact.unpersist()
    recall = (n_hit / n_exact) if n_exact else 1.0
    return spark.createDataFrame(
        [(n_exact, bool(recall >= 0.8))], "n_exact_pairs long, recall_ok boolean"
    )


def q_semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-dedup (ann.semantic_dedup_pairs):
    spherical-k-means partition, then exact cosine pairs within each
    cluster via one BLAS tile per list — expected FLOPs n²/n_lists.
    Certifies achieved recall vs the exact 2D-blocked kernel at the
    dedup regime (cos >= 0.9, where near-identical vectors share a
    nearest centroid). Both numbers are distributed counts — no pair
    set reaches the driver. Precision is 1.0 by construction (exact
    within-cluster verify)."""
    from sketchlib.ann import cosine_neardup_pairs_blocked, semantic_dedup_pairs

    _ensure_workers(spark)
    emb = _t(spark, sf_dir, "embeddings")
    exact = cosine_neardup_pairs_blocked(emb, 0.9).persist()
    sem = semantic_dedup_pairs(emb, 0.9, dim=64, n_lists=16, seed=SEED)
    n_exact, n_hit = _par(  # independent jobs overlap (guide §2.6)
        lambda: exact.count(),
        lambda: exact.join(sem, ["id_a", "id_b"], "left_semi").count(),
    )
    exact.unpersist()
    recall = (n_hit / n_exact) if n_exact else 1.0
    return spark.createDataFrame(
        [(n_exact, bool(recall >= 0.8))], "n_exact_pairs long, recall_ok boolean"
    )


def q_ivf_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted lists) ANN path: coarse-quantize the
    corpus (one int list-id per vector — embeddings never shuffle for
    candidate generation), probe each query's nprobe nearest lists,
    exact-rescore. Reports recall vs the exact brute-force top-k.
    nprobe=12/16 here because the synthetic embeddings are near-uniform
    (the adversarial case for any space partitioner — measured recall
    0.94-0.98 across SFs); on clustered real corpora the same operator
    hits the target at much smaller probe fractions. Precision is 1.0
    by construction (candidates exactly scored)."""
    from sketchlib.ann import cosine_topk, ivf_topk

    _ensure_workers(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    exact = cosine_topk(emb, q, k=10).select("query_id", "neighbor_id").persist()
    approx = ivf_topk(emb, q, k=10, dim=64, n_lists=16, nprobe=12, seed=SEED).select(
        "query_id", "neighbor_id"
    )
    n_exact, n_hit = _par(  # independent jobs overlap (guide §2.6)
        lambda: exact.count(),
        lambda: exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count(),
    )
    exact.unpersist()
    recall = (n_hit / n_exact) if n_exact else 1.0
    return spark.createDataFrame(
        [(n_exact, bool(recall >= 0.8))], "n_exact long, recall_ok boolean"
    )


def q_pq_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN path (Jégou et al. 2011): codebooks
    trained on a bounded hash-sample, corpus encoded to m=8 int codes
    (vectors never shuffle — the ADC scan reads ONLY the compact
    codes), asymmetric-distance top-rerank per partition, exact rescore
    of the survivors. Reports recall vs exact brute force (measured
    1.0/1.0/0.88 at sf0.001/0.01/0.1 with k_cent=64, rerank=150 on
    these near-uniform embeddings — the adversarial case for any
    quantizer). Precision 1.0 by construction."""
    from sketchlib.ann import cosine_topk, pq_topk, pq_train

    _ensure_workers(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    exact = cosine_topk(emb, q, k=10).select("query_id", "neighbor_id").persist()

    def _hit() -> int:
        # PQ training is itself a driver-side job chain: keep it inside
        # the overlapped thunk so it runs while the exact side computes
        books = pq_train(emb, dim=64, m=8, k_cent=64, seed=SEED)
        approx = pq_topk(emb, q, books, k=10, rerank=150).select(
            "query_id", "neighbor_id"
        )
        return exact.join(approx, ["query_id", "neighbor_id"], "left_semi").count()

    n_exact, n_hit = _par(lambda: exact.count(), _hit)  # guide §2.6
    exact.unpersist()
    recall = (n_hit / n_exact) if n_exact else 1.0
    return spark.createDataFrame(
        [(n_exact, bool(recall >= 0.8))], "n_exact long, recall_ok boolean"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document (md5 — identical in both
    engines, so exact dedup keys are oracle-checkable end-to-end)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(F.col("text")).alias("fp"))


def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counts per source (textops.token_count_col);
    regexp semantics match DuckDB for this class-only pattern."""
    from sketchlib.textops import token_count_col

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(token_count_col("text")).alias("total_tokens"),
        F.max(token_count_col("text")).alias("max_tokens"),
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIR ROWS on a planted corpus sized from the
    ``documents`` table, so the full pair set has a closed form DuckDB
    recomputes (the ``simhash_guarantee`` construction applied to the
    pairs query itself — r3 verdict: this entry was the last
    ``no_oracle`` row). Corpus: ``n//6`` clusters of 3 byte-identical
    docs (identical word arrays ⇒ identical signature ⇒ the
    rep-collapse + expansion emits every intra-cluster pair exactly)
    plus ``n - 3*(n//6)`` singleton docs with pairwise-disjoint
    vocabularies (independent 64-bit bit-vote signatures:
    P[hamming ≤ 6] ≈ 5e-12 per pair AND an 8-bit band must collide to
    even reach the verify — zero cross pairs, deterministic under the
    fixed seed, re-checked at sf0.001/0.01/0.1). Output = exactly the
    intra-cluster pairs; realistic-corpus simhash (banding ≡ full-scan)
    stays pytest-asserted in tests/test_dedup_topk_spark.py."""
    from sketchlib.dedup import simhash_neardup_pairs

    _ensure_workers(spark)
    n = _t(spark, sf_dir, "documents").count()
    csize = 3
    n_clusters = n // (2 * csize)
    n_singles = n - n_clusters * csize
    wlen = 12
    jseq = F.sequence(F.lit(0), F.lit(wlen - 1))
    clustered = spark.range(n_clusters * csize, numPartitions=8).select(
        F.col("id").alias("doc_id"),
        F.transform(
            jseq,
            lambda j: F.concat(
                F.lit("c"),
                F.floor(F.col("id") / csize).cast("string"),
                F.lit("w"),
                j.cast("string"),
            ),
        ).alias("words"),
    )
    # singleton ids start right after the clustered block [0, 3k): an
    # offset derived from the corpus size can never collide with a
    # clustered id at ANY SF (ADVICE r4: a fixed 1e6 offset collided
    # once n//2 outgrew it), and the oracle's id-domain predicate
    # (doc_id < 3k) already names exactly the clustered block
    singles = spark.range(n_singles, numPartitions=8).select(
        (F.col("id") + n_clusters * csize).alias("doc_id"),
        F.transform(
            jseq,
            lambda j: F.concat(
                F.lit("u"), F.col("id").cast("string"), F.lit("w"), j.cast("string")
            ),
        ).alias("words"),
    )
    docs = clustered.unionByName(singles)
    return simhash_neardup_pairs(docs, "doc_id", "words", max_hamming=6, bands=8)


def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exactly verified
    (J >= 0.5 on 3-gram shingles), exact-dup-collapsed and
    hot-bucket-capped (sketchlib.dedup). Oracle: the exact-Jaccard SQL —
    rep-level LSH recall at J>=0.5 with r=2,b=32 is 1-(1-J²)³² >
    0.9999, measured exactly 1.0 at sf0.001/0.01/0.1 (deterministic
    seed), and the exact verify keeps precision 1.0, so the rows match
    the exact path bit-for-bit."""
    from sketchlib.dedup import minhash_neardup_pairs

    docs = _words(_t(spark, sf_dir, "documents"))
    return minhash_neardup_pairs(docs, "doc_id", "words", threshold=0.5, n_hashes=64, bands=32)


def q_lossy_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LossyCounter (Manku-Motwani) heavy hitters, distributed build +
    merge, checked against the reference guarantees
    (lossycounter.rs:258-273): query(theta) is a SUPERSET of the true
    theta-heavy hitters, and each reported f undercounts its true count
    by at most eps*n. Output rows are the EXACT heavy hitters with
    booleans that flip on any guarantee violation."""
    from sketchlib.topk import LossyCounter

    eps, inv_theta = 0.001, 50  # theta = 0.02
    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs, [], [SketchSpec("lossy", "lossy", "words", {"epsilon": eps})], fanout="auto"
    )
    from sketchlib import caches as _caches

    # the exact word counts are independent of the sketch; only the
    # final theta filter needs its n — overlap the two passes (§2.6)
    counts = _caches.register(
        docs.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(),
        owner="entry.lossy_heavy_hitters",
    )
    (blob_row,), _n = _par(
        lambda: merged.select("state").collect(),
        lambda: counts.count(),
    )
    lc = LossyCounter.from_bytes(bytes(blob_row[0]))
    items, f = lc.query(1.0 / inv_theta)
    n = int(lc.n)
    slack = int(math.ceil(eps * n))
    fdf = spark.createDataFrame(
        list(zip(items.tolist(), f.astype("int64").tolist())) or [(None, None)],
        "item long, f long",
    ).filter(F.col("item").isNotNull())
    exact = counts.filter(F.col("cnt") * inv_theta >= F.lit(n))  # exact integer arithmetic
    joined = exact.withColumn("h", F.xxhash64("word")).join(
        F.broadcast(fdf), F.col("h") == F.col("item"), "left"
    )
    return joined.select(
        "word",
        "cnt",
        F.col("item").isNotNull().alias("in_lossy"),
        (
            F.col("item").isNotNull()
            & (F.col("f") <= F.col("cnt"))
            & (F.col("f") + F.lit(slack) >= F.col("cnt"))
        ).alias("f_ok"),
    )


def q_spacesaving_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpaceSaving / Misra–Gries heavy hitters (Metwally ICDT'05;
    mergeable per Agarwal PODS'12), distributed build + salted merge
    tree — the counter-based third top-k family next to LossyCounter
    (windowed) and TopK (CMS-backed); extra beyond the reference's
    src/topk/. Output rows are the EXACT phi-heavy hitters with
    booleans that flip if the sketch violates its guarantees: query is
    a superset of the true heavy hitters, each reported f undercounts
    its true count by at most the sketch's err ledger, and
    err <= n/(m+1)."""
    from sketchlib.topk import SpaceSaving

    m, inv_phi = 999, 50  # err <= n/1000, phi = 0.02
    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs, [], [SketchSpec("ss", "spacesaving", "words", {"m": m})], fanout="auto"
    )
    from sketchlib import caches as _caches

    counts = _caches.register(
        docs.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(),
        owner="entry.spacesaving_heavy_hitters",
    )
    (blob_row,), _n = _par(  # overlap sketch build with exact counts
        lambda: merged.select("state").collect(),
        lambda: counts.count(),
    )
    ss = SpaceSaving.from_bytes(bytes(blob_row[0]))
    items, f = ss.query(1.0 / inv_phi)
    n, err = int(ss.n), int(ss.err)
    bound_ok = err * (m + 1) <= n
    fdf = spark.createDataFrame(
        list(zip(items.tolist(), f.astype("int64").tolist())) or [(None, None)],
        "item long, f long",
    ).filter(F.col("item").isNotNull())
    exact = counts.filter(F.col("cnt") * inv_phi >= F.lit(n))  # exact integer arithmetic
    joined = exact.withColumn("h", F.xxhash64("word")).join(
        F.broadcast(fdf), F.col("h") == F.col("item"), "left"
    )
    return joined.select(
        "word",
        "cnt",
        (F.col("item").isNotNull() & F.lit(bound_ok)).alias("in_ss"),
        (
            F.col("item").isNotNull()
            & (F.col("f") <= F.col("cnt"))
            & (F.col("f") + F.lit(err) >= F.col("cnt"))
        ).alias("f_ok"),
    )


def q_topk_sketch_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS-heap TopK sketch (cmsheap.rs:117-219): the exact top-5 words
    must all appear in the sketch's top-16, with estimates inside the
    CMS bound a <= â <= a + e/w * N."""
    from sketchlib.topk import TopK

    w, d, k = 2048, 5, 16
    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs,
        [],
        [SketchSpec("tk", "topk", "words", {"k": k, "w": w, "d": d, "seed": SEED})],
        # topk's candidate-heap retention is merge-GROUPING-sensitive:
        # keep the r5 tree shape so the emitted top-k stays bit-stable
        fanout=8,
    )
    tk = TopK.from_bytes(bytes(merged.select("state").collect()[0][0]))
    items, est = tk.query()
    eps_n = math.e / w * float(tk.cms.total())
    idf = spark.createDataFrame(
        list(zip(items.tolist(), est.astype("int64").tolist())) or [(None, None)],
        "item long, est long",
    ).filter(F.col("item").isNotNull())
    exact5 = (
        docs.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(5)
    )
    joined = exact5.withColumn("h", F.xxhash64("word")).join(
        F.broadcast(idf), F.col("h") == F.col("item"), "left"
    )
    return joined.select(
        "word",
        "cnt",
        F.col("item").isNotNull().alias("in_topk"),
        (
            F.col("item").isNotNull()
            & (F.col("est") >= F.col("cnt"))
            & (F.col("est") <= F.col("cnt") + F.lit(eps_n))
        ).alias("est_ok"),
    )


def q_countsketch_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountSketch / AMS sketch (sketchlib.ams; Charikar ICALP'02 sign
    table, AMS STOC'96 tug-of-war F2) built per source through the
    standard sketch_aggregate partial + salted-merge path. Per source
    the output pins the EXACT distinct-word count and self-join size
    F2 = Σ cnt² (both SQL-recomputable) plus two driver-checked
    certificate booleans: the sketch F2 estimate within its
    3/sqrt(w) relative bound, and the exact top-3 words' UNBIASED point
    estimates within ±3·sqrt(F2/w) (the CountSketch error unit —
    deterministic under the fixed seed, verified at every SF). F2/n² is
    the collision probability a skew-aware planner prices shuffles
    with; this is the estimator that scales sketchlib.salt's exact
    group counts to unbounded key spaces."""
    from pyspark.sql import Window as _W

    from sketchlib.ams import CountSketch

    w, d = 8192, 5
    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs, ["source"], [SketchSpec("ams", "ams", "words", {"w": w, "d": d, "seed": SEED})], fanout="auto"
    )
    from sketchlib import caches

    # two consumers below (per-source rollup, top-3 window) — persist so
    # the explode+groupBy pass over the corpus runs once
    counts = caches.register(
        docs.select("source", F.explode("words").alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist(),
        owner="entry.topk_words",
    )
    # the sketch build and the exact-counts pass are independent full
    # passes over the corpus: overlap them (guide §2.6)
    state_rows, stat_rows = _par(
        lambda: merged.select("source", "state").collect(),
        lambda: counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("f2"),
        )
        .collect(),
    )
    states = {r["source"]: CountSketch.from_bytes(bytes(r["state"])) for r in state_rows}
    stats = {r["source"]: (int(r["n_words"]), int(r["f2"])) for r in stat_rows}
    rn = F.row_number().over(
        _W.partitionBy("source").orderBy(F.desc("cnt"), F.asc("word"))
    )
    top = (
        counts.withColumn("__rn", rn)
        .filter(F.col("__rn") <= 3)
        .select("source", F.xxhash64("word").alias("h"), "cnt")
        .collect()
    )
    top_by_src: dict = {}
    for r in top:
        top_by_src.setdefault(r["source"], []).append((r["h"], r["cnt"]))
    out = []
    for src in sorted(states):
        cs = states[src]
        n_words, f2 = stats[src]
        f2_ok = abs(cs.f2() - f2) <= (3.0 / math.sqrt(w)) * f2
        bound = 3.0 * math.sqrt(f2 / w)
        hs = np.array([h for h, _ in top_by_src[src]], dtype=np.int64)
        cn = np.array([c for _, c in top_by_src[src]], dtype=np.float64)
        est = cs.query_points(hs)
        points_ok = bool(np.all(np.abs(est - cn) <= bound))
        out.append((src, n_words, f2, bool(f2_ok), points_ok))
    return spark.createDataFrame(
        out,
        "source string, n_words long, f2_exact long, f2_ok boolean, points_ok boolean",
    )


def q_topk_resolved_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String heavy hitters through the SKETCH path (not exact-rescore):
    sketch inputs are pre-hashed JVM-side, so the TopK sketch emits
    xxhash64 items; topk.hash_item_dimension / resolve_item_hashes join
    them back to the original strings distributedly (broadcast of the
    k-row output against a distinct-value dimension — nothing but the
    KB state blob ever reaches the driver). The planted corpus makes
    the answer closed-form: 10 'hot' words with counts 2000, 1900, ...,
    1100 over 5000 singleton fillers — separation (100) far exceeds any
    CMS overestimate at w=2048 (eps*N ~ 27), so the sketch's top-10 IS
    hot0..hot9 in exact order, deterministically under the fixed seed.
    Output: (word, rnk, est_ok) with est checked against the CMS bound
    a <= est <= a + eps*N for the closed-form count a."""
    from sketchlib.topk import TopK, hash_item_dimension, resolve_item_hashes

    _ensure_workers(spark)
    n_hot, base, step, n_fill = 10, 2000, 100, 5000
    hot = spark.range(n_hot).select(
        F.explode(
            F.array_repeat(
                F.concat(F.lit("hot"), F.col("id")),
                (F.lit(base) - F.col("id") * step).cast("int"),
            )
        ).alias("word")
    )
    fill = spark.range(n_fill).select(F.concat(F.lit("w"), F.col("id")).alias("word"))
    words = hot.unionByName(fill).repartition(8).persist()
    w, d = 2048, 5
    merged = sketch_aggregate(
        words,
        [],
        [SketchSpec("tk", "topk", "word", {"k": n_hot, "w": w, "d": d, "seed": SEED})],
        # topk retention is merge-grouping-sensitive: keep the r5 tree
        fanout=8,
    )
    tk = TopK.from_bytes(bytes(merged.select("state").collect()[0][0]))
    items, est = tk.query()
    eps_n = math.e / w * float(tk.cms.total())
    idf = spark.createDataFrame(
        list(zip(items.tolist(), est.astype("int64").tolist())), "item long, est long"
    )
    resolved = resolve_item_hashes(idf, hash_item_dimension(words, "word"))
    win = Window.orderBy(F.desc("est"), F.asc("value"))
    ranked = resolved.select(
        F.col("value").alias("word"),
        F.row_number().over(win).cast("long").alias("rnk"),
        F.col("est"),
    )
    cnt = F.lit(base) - (F.col("rnk") - 1) * step
    return ranked.select(
        "word",
        "rnk",
        ((F.col("est") >= cnt) & (F.col("est") <= cnt + F.lit(eps_n))).alias("est_ok"),
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (textops.decontaminate_ids): every doc
    sharing a word 3-gram with the 'benchmark' (docs with doc_id % 37 ==
    0, simulating a leaked eval set) is flagged. Bloom over the
    benchmark's gram hashes broadcasts and prunes the corpus gram
    stream (zero false negatives by the reference insert/query
    contract); surviving candidates are EXACTLY verified by semi-join
    on the gram strings, so the result is exact and the oracle is the
    plain n-gram intersection."""
    from sketchlib.textops import decontaminate_ids

    docs = _words(_t(spark, sf_dir, "documents"))
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(37)) == 0)
    bad = decontaminate_ids(docs, bench, "doc_id", "words", n=3)
    return (
        docs.join(bad.withColumn("c", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("n_contaminated"),
        )
    )


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule gate (textops.quality_signals /
    quality_mask): per-doc integer signals (word count, summed word
    chars, alpha-word count, stopword hits) with every threshold as
    cross-multiplied integer arithmetic — both engines compute the
    identical pass mask bit-for-bit. Reports per-source doc counts,
    pass counts, and signal totals."""
    from sketchlib.textops import quality_mask, quality_signals

    docs = _words(_t(spark, sf_dir, "documents"))
    sig = quality_signals(docs.select("doc_id", "source", "words"), "doc_id", "words")
    joined = docs.select("doc_id", "source").join(sig, "doc_id")
    mask = quality_mask(
        min_words=40, max_words=10_000, min_mean_word_len=4, max_mean_word_len=10,
        min_alpha_frac_pct=80, min_stopwords=2,
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(mask.cast("long")).alias("n_pass"),
        F.sum("word_chars").cast("long").alias("total_word_chars"),
        F.sum("n_stopwords").cast("long").alias("total_stopwords"),
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (textops.stratified_sample):
    the 5 docs per source with the smallest md5(doc_id) — md5 is
    byte-identical in every engine, so the oracle reproduces the EXACT
    same sample (the property a train/eval split needs)."""
    from sketchlib.textops import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, ["source"], "doc_id", 5)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (textops.scrub_pii) on a planted corpus: every
    3rd doc carries an email, every 5th a phone number — counts are
    closed-form in the row id and the scrubbed text must contain no
    pattern match. Pure JVM regexp expressions; patterns chosen for
    identical java.util.regex / RE2 semantics."""
    from sketchlib.textops import PII_EMAIL, PII_PHONE, scrub_pii

    n = 400
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("doc "),
            F.col("id").cast("string"),
            F.when(
                F.col("id") % 3 == 0,
                F.concat(F.lit(" contact a"), F.col("id").cast("string"), F.lit("@ex.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = scrub_pii(base, "text")
    leftover = F.size(
        F.regexp_extract_all(F.col("clean_text"), F.lit(PII_EMAIL), F.lit(0))
    ) + F.size(F.regexp_extract_all(F.col("clean_text"), F.lit(PII_PHONE), F.lit(0)))
    return scrubbed.select(
        F.lit(1).alias("g"),
        "n_emails",
        "n_phones",
        (leftover == 0).alias("clean"),
    ).groupBy("g").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").cast("long").alias("total_emails"),
        F.sum("n_phones").cast("long").alias("total_phones"),
        F.min("clean").alias("all_clean"),
    ).drop("g")


def q_bloom_len_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom len() cardinality estimate (bloomfilter.rs:296-304,
    -m/k * ln(1 - X/m)): per event_type, the estimate must land within
    2% + 10 of the exact distinct-user count (filter is ~1% full at
    these n, where the estimator's relative error is well under 1%)."""
    from sketchlib.estimates import bloom_len

    ev = _t(spark, sf_dir, "events")
    merged = sketch_aggregate(
        ev,
        ["event_type"],
        [SketchSpec("b", "bloom", "user_id", {"m": 1 << 20, "k": 7, "seed": SEED})],
        fanout="auto",
    )
    est = merged.withColumn("est", bloom_len("state")).select("event_type", "est")
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("distinct_users"))
    return exact.join(est, "event_type").select(
        "event_type",
        "distinct_users",
        (
            F.abs(F.col("est") - F.col("distinct_users"))
            <= F.greatest(F.lit(0.02) * F.col("distinct_users"), F.lit(10.0))
        ).alias("len_ok"),
    )


def q_tdigest_cdf_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest cdf() (tdigest.rs:448-481, centroid-midpoint
    interpolation) per l_returnflag at fixed probe points vs the exact
    rank fraction; half-integer probes dodge tie ambiguity on the
    integer-valued l_quantity."""
    from sketchlib import caches as _caches

    li = _caches.register(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity").persist(),
        owner="entry.tdigest_cdf_quantity",
    )
    merged = sketch_aggregate(
        li, ["l_returnflag"], [SketchSpec("td", "tdigest", "l_quantity", {"delta": 200.0})], fanout="auto"
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum((F.col("l_quantity") <= 10.5).cast("long")) / F.count(F.lit(1))).alias("r10"),
        (F.sum((F.col("l_quantity") <= 25.5).cast("long")) / F.count(F.lit(1))).alias("r25"),
        (F.sum((F.col("l_quantity") <= 40.5).cast("long")) / F.count(F.lit(1))).alias("r40"),
    )
    # digest build and exact rank fractions are independent jobs over
    # the shared cached scan: overlap them (guide §2.6)
    rows, _n = _par(
        lambda: merged.select("l_returnflag", "state").collect(),
        lambda: exact.count(),
    )
    probes = (10.5, 25.5, 40.5)
    cdf_rows = []
    for flag, blob in rows:
        td = TDigest.from_bytes(bytes(blob))
        cdf_rows.append((flag, *(float(td.cdf(x)) for x in probes)))
    cdf_df = spark.createDataFrame(cdf_rows, "l_returnflag string, c10 double, c25 double, c40 double")
    return exact.join(F.broadcast(cdf_df), "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        (F.abs(F.col("c10") - F.col("r10")) <= 0.02).alias("cdf10_ok"),
        (F.abs(F.col("c25") - F.col("r25")) <= 0.02).alias("cdf25_ok"),
        (F.abs(F.col("c40") - F.col("r40")) <= 0.02).alias("cdf40_ok"),
    )


def q_cuckoo_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuckoo filter full lifecycle on the BUILDING customer keys:
    two half-filters built + fallibly unioned (cuckoofilter.rs:514-555),
    exact len after insert (:569-576), zero false negatives, delete of
    every other key returns 'was present' and decrements len exactly
    (:356-368), and the remaining keys still query true (each delete
    removes exactly one stored fingerprint copy, so survivors keep >= 1).
    Every output value is deterministic and oracle-computable from
    COUNT(DISTINCT c_custkey). The key collect is BOUNDED: the
    certificate takes the CERT_CAP smallest distinct keys (a distributed
    top-N, O(1) driver memory at any table size); the oracle applies
    LEAST(n, cap) identically."""
    import numpy as np

    from sketchlib.cuckoo import CuckooFilter

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    keys = [
        r[0]
        for r in cust.select("c_custkey").distinct().sort("c_custkey").limit(CERT_CAP).collect()
    ]
    arr = np.asarray(keys, dtype=np.int64)
    n = int(arr.size)
    half = n // 2
    mk = lambda: CuckooFilter.with_properties_4(0.02, max(1024, 2 * n), seed=SEED)
    f1, f2 = mk(), mk()
    f1.update(arr[:half])
    f2.update(arr[half:])
    f1.merge(f2)
    len_ins = len(f1)
    fn_inserted = int((~f1.query(arr)).sum())
    deleted = arr[::2]
    was_present = f1.delete(deleted)
    len_del = len(f1)
    fn_remaining = int((~f1.query(arr[1::2])).sum())
    row = [
        (
            n,
            len_ins,
            fn_inserted,
            int(deleted.size),
            bool(was_present.all()),
            len_del,
            fn_remaining,
        )
    ]
    return spark.createDataFrame(
        row,
        "n_keys long, len_after_insert long, fn_inserted long, n_deleted long, "
        "deleted_all_present boolean, len_after_delete long, fn_remaining long",
    )


def q_quotient_filter_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quotient filter lifecycle on the BUILDING customer keys: two
    half-filters merged by cluster decode (quotientfilter.rs:374-448),
    r = 64 - q so the fingerprint keeps all 64 hash bits — len after
    insert is exactly n, zero false negatives, and 256 absent probes
    yield zero false positives (a fp would need an exact 64-bit hash
    collision). Key collect bounded at CERT_CAP smallest distinct keys
    (distributed top-N; see q_cuckoo_filter_ops)."""
    import numpy as np

    from sketchlib.quotient import QuotientFilter

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    keys = [
        r[0]
        for r in cust.select("c_custkey").distinct().sort("c_custkey").limit(CERT_CAP).collect()
    ]
    arr = np.asarray(keys, dtype=np.int64)
    n = int(arr.size)
    q = max(10, int(np.ceil(np.log2(max(2 * n, 4)))))
    r = 64 - q
    half = n // 2
    f1, f2 = QuotientFilter(q, r, seed=SEED), QuotientFilter(q, r, seed=SEED)
    f1.update(arr[:half])
    f2.update(arr[half:])
    f1.merge(f2)
    len_ins = len(f1)
    fn_count = int((~f1.query(arr)).sum())
    probes = np.arange(-256, 0, dtype=np.int64)  # custkeys are positive
    fp_count = int(f1.query(probes).sum())
    row = [(n, len_ins, fn_count, fp_count)]
    return spark.createDataFrame(
        row, "n_keys long, len_after_insert long, fn_count long, fp_count long"
    )


def q_salted_skew_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-salting contract (north rule), driver-verified: the
    canonical skew-safe exact distinct. Phase 1 groups by
    (event_type, salt) where salt = hash(user_id) % 32 — each user
    lands in exactly ONE salt bucket per group, so a hot event_type
    spreads over 32 reducers instead of melting one; phase 2 sums the
    per-bucket distinct counts (exact, associative). The plan's first
    exchange hashes on (event_type, __salt) — the salted exchange."""
    from sketchlib.salt import with_salt

    ev = _t(spark, sf_dir, "events")
    salted = with_salt(ev, 32, cols=["user_id"])
    part = salted.groupBy("event_type", "__salt").agg(
        F.countDistinct("user_id").alias("du"), F.count(F.lit(1)).alias("cnt")
    )
    return part.groupBy("event_type").agg(
        F.sum("du").alias("distinct_users"), F.sum("cnt").alias("n_events")
    )


def q_streaming_state_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming == batch (driver-checked): the events table
    replayed as 4 file micro-batches through foreachBatch (idempotent
    batch-id-partitioned state store, sketchlib.streaming) must merge
    to byte-identical HLL states vs the one-shot batch build — merges
    are associative+commutative, so batch boundaries are invisible.
    Output: exact distinct users (oracle-checkable), a boolean that the
    streamed and batch state BYTES match, and the published-bound check
    on the streamed estimate."""
    import shutil
    import tempfile

    from sketchlib.streaming import current_states, sketch_stream_writer

    ev = _t(spark, sf_dir, "events")
    specs = [SketchSpec("hll", "hll", "user_id", {"p": HLL_P, "seed": SEED})]
    root = tempfile.mkdtemp(prefix="sketchlib_stream_q_")
    try:
        # the 4-file micro-batch source is deterministic per events
        # table — cache it (content-fingerprinted, atomic publish; same
        # pattern as the near-dup stream source) instead of rewriting
        # the table every invocation
        src = _cached_stream_src(
            "eqstream_src",
            sf_dir,
            "events.parquet",
            lambda build: ev.repartition(4).write.mode("overwrite").parquet(build),
        )
        batch_df = spark.read.parquet(src)
        stream_df = (
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def _streamed():
            q = (
                sketch_stream_writer(
                    stream_df,
                    ["event_type"],
                    specs,
                    os.path.join(root, "state"),
                    os.path.join(root, "ckpt"),
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(600)
            return {
                r["event_type"]: bytes(r["state"])
                for r in current_states(
                    spark, os.path.join(root, "state"), ["event_type"], fanout=None
                ).collect()
            }

        # the stream, the one-shot batch build, and the exact counts
        # are independent: overlap them (guide §2.6)
        streamed, batched_rows, exact_rows = _par(
            _streamed,
            lambda: sketch_aggregate(batch_df, ["event_type"], specs, fanout=None).collect(),
            lambda: ev.groupBy("event_type").agg(F.countDistinct("user_id")).collect(),
        )
        batched = {r["event_type"]: bytes(r["state"]) for r in batched_rows}
        exact = {r[0]: int(r[1]) for r in exact_rows}
        rows = []
        for et in sorted(exact):
            est = HLL.from_bytes(streamed[et]).count() if et in streamed else -1
            ok = abs(est - exact[et]) <= max(HLL_SLACK * exact[et], 3.0)
            rows.append((et, exact[et], streamed.get(et) == batched.get(et), bool(ok)))
        return spark.createDataFrame(
            rows,
            "event_type string, distinct_users long, stream_matches_batch boolean, hll_ok boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule resumability, driver-checked: a run killed after
    finishing only input partitions {0,1,2} resumes from the lineage
    checkpoint (sketchlib.checkpoint) and merges to states
    BYTE-IDENTICAL to an uninterrupted run (deterministic hashing +
    associative/commutative merges). Output per event_type: exact
    distinct users, the byte-equality boolean, the published-bound
    boolean, and a lineage boolean (every partition checkpointed
    exactly once)."""
    import shutil
    import tempfile

    from sketchlib.agg import build_partials, merge_partials
    from sketchlib.checkpoint import checkpointed_sketch_aggregate, lineage_summary
    from sketchlib.io import snapshot_id

    spec = [SketchSpec("hll", "hll", "user_id", {"p": HLL_P, "seed": SEED})]
    ev = _t(spark, sf_dir, "events").repartition(8)
    root = tempfile.mkdtemp(prefix="sketchlib_ckpt_q_")
    try:
        ckpt = os.path.join(root, "ckpt")
        # lineage fingerprint from the INPUT itself (io.snapshot_id:
        # Iceberg snapshot when cataloged, file-listing hash for parquet)
        fp = snapshot_id(spark, os.path.join(sf_dir, "events.parquet"))

        def _resume_chain():
            # write-half-checkpoint → resume → lineage checks: a strict
            # sequential chain, but independent of ref/exact below
            half = (
                build_partials(ev, ["event_type"], spec)
                .filter(F.col("part_id") < 3)
                .withColumn("fingerprint", F.lit(fp))
                .withColumn("updated_at", F.current_timestamp())
            )
            half.write.mode("overwrite").parquet(ckpt)
            resumed = {
                r["event_type"]: bytes(r["state"])
                for r in checkpointed_sketch_aggregate(
                    ev, ["event_type"], spec, ckpt, fp, fanout=None
                ).collect()
            }
            summary = lineage_summary(spark, ckpt).collect()[0]
            ok = bool(summary["partitions_done"] == 8)
            dup_parts = (
                spark.read.parquet(ckpt)
                .groupBy("event_type", "sketch", "part_id")
                .count()
                .filter(F.col("count") > 1)
                .count()
            )
            return resumed, ok and dup_parts == 0

        # the reference build, the resume chain, and the exact counts
        # are three independent job chains: overlap them (guide §2.6)
        ref_rows, (resumed, lineage_ok), exact_rows = _par(
            lambda: merge_partials(
                build_partials(ev, ["event_type"], spec), ["event_type"], None
            ).collect(),
            _resume_chain,
            lambda: _t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id"))
            .collect(),
        )
        ref = {r["event_type"]: bytes(r["state"]) for r in ref_rows}
        exact = {r[0]: int(r[1]) for r in exact_rows}
        rows = []
        for et in sorted(exact):
            est = HLL.from_bytes(resumed[et]).count() if et in resumed else -1
            ok = abs(est - exact[et]) <= max(HLL_SLACK * exact[et], 3.0)
            rows.append(
                (et, exact[et], resumed.get(et) == ref.get(et), bool(ok), lineage_ok)
            )
        return spark.createDataFrame(
            rows,
            "event_type string, distinct_users long, resume_matches_direct boolean,"
            " hll_ok boolean, lineage_ok boolean",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection as a stream: documents replayed as
    4 file micro-batches; each batch's docs are banded and matched
    against the accumulated band-key store, candidates exactly verified,
    pairs emitted exactly once (batch_id partition overwrite). At r=2,
    b=32 rep-level recall at J>=0.5 exceeds 0.9999 (measured 1.0 at all
    SFs), and the exact verify keeps precision 1.0 — so the streamed
    pairs match the exact-Jaccard SQL oracle bit-for-bit, same contract
    as the batch minhash path."""
    import shutil
    import tempfile

    from sketchlib.streaming import neardup_pairs, neardup_stream_writer

    docs = _words(_t(spark, sf_dir, "documents")).select("doc_id", "words")
    root = tempfile.mkdtemp(prefix="sketchlib_neardup_stream_q_")
    try:
        # the 4-file micro-batch source is deterministic per documents
        # table — cache it (content-fingerprinted, atomically published)
        src = _cached_stream_src(
            "ndstream_src",
            sf_dir,
            "documents.parquet",
            lambda build: docs.repartition(4).write.mode("overwrite").parquet(build),
        )
        stream_df = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            neardup_stream_writer(
                stream_df,
                "doc_id",
                "words",
                os.path.join(root, "store"),
                os.path.join(root, "pairs"),
                os.path.join(root, "ckpt"),
                threshold=0.5,
                # shuffle width sized to the ~1/4-table trigger volume:
                # the batch body persists its intermediates, AQE cannot
                # coalesce cached shuffles, and session width (32) is
                # pure per-batch scheduling overhead at this batch size
                batch_shuffle_partitions=8,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        found = neardup_pairs(spark, os.path.join(root, "pairs"))
        # materialize before the tempdir vanishes; keep the id dtype
        return spark.createDataFrame(found.collect(), found.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_rollup_merge_up(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup by merge-up (SURVEY.md §2.5): fold the
    per-(source, lang) HLL states to per-source over KILOBYTE state
    rows (agg.rollup_states) — never re-reading the raw data — and
    require byte-identical states vs a direct per-source build
    (register-max merges are idempotent and partition-invariant).
    Output also carries the exact distinct count so the oracle hash
    pins real values, not just booleans."""
    from sketchlib.agg import rollup_states

    docs = _words(_t(spark, sf_dir, "documents"))
    spec = [SketchSpec("hll", "hll", "words", {"p": HLL_P, "seed": SEED})]
    fine = sketch_aggregate(docs, ["source", "lang"], spec, fanout="auto")
    # the fine+rollup build and the direct per-source build are
    # independent full passes over docs: overlap them (guide §2.6)
    rolled_rows, direct_rows = _par(
        lambda: rollup_states(fine, ["source"]).collect(),
        lambda: sketch_aggregate(docs, ["source"], spec, fanout="auto").collect(),
    )
    rolled = {r["source"]: bytes(r["state"]) for r in rolled_rows}
    direct = {r["source"]: bytes(r["state"]) for r in direct_rows}
    exact = (
        docs.select("source", F.explode("words").alias("w"))
        .groupBy("source")
        .agg(F.countDistinct("w").alias("distinct_words"))
    )
    match_rows = [
        (s, rolled.get(s) == direct.get(s)) for s in sorted(direct)
    ]
    mdf = spark.createDataFrame(match_rows, "source string, rollup_matches_direct boolean")
    return exact.join(F.broadcast(mdf), "source").select(
        "source", "distinct_words", "rollup_matches_direct"
    )


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing, driver-checked end-to-end on
    the deterministic synthetic media table (sketchlib.media): 32-bin
    byte-histogram features via zero-copy Arrow buffers must be
    well-formed (32 bins, L1 sum 1) for every payload, and fixed-stride
    frame sampling keeps exactly ceil(4096/512)/2 = 4 frames per
    payload. Counts are closed-form, so the oracle recomputes them from
    range() alone — no external data."""
    from sketchlib.media import byte_histogram_features, frame_sample, synth_media_df

    _ensure_workers(spark)
    n, payload_bytes, frame_bytes, every_n = 300, 4096, 512, 2
    m = synth_media_df(spark, n, payload_bytes=payload_bytes, partitions=4)
    feats = byte_histogram_features(m)
    fstats = feats.select(
        "media_id",
        "kind",
        (
            (F.size("features") == 32)
            & (
                F.abs(
                    F.aggregate("features", F.lit(0.0), lambda a, b: a + b) - F.lit(1.0)
                )
                < 1e-3
            )
        ).alias("feat_ok"),
    )
    frames = frame_sample(m, frame_bytes=frame_bytes, every_n=every_n)
    fcnt = frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("kept"))
    joined = fstats.join(fcnt, "media_id")
    return joined.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("kept").alias("frames_kept"),
        F.min("feat_ok").alias("features_ok"),
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec-free media decode end-to-end (sketchlib.media): the
    deterministic codec table plants constant-color 24-bpp BMPs, square
    -wave 16-bit PCM WAVs, and undecodable payloads, all with metadata
    closed-form in the row id. The pipeline decodes both modalities,
    checks every decoded value against the closed form (dimensions +
    exact channel means for images; rate, sample count, duration, and
    EXACT RMS for audio — a +-A square wave's RMS is A), resamples the
    audio to 16 kHz and re-checks, and reports per-format counts the
    oracle recomputes from range() alone."""
    from sketchlib.media import (
        decode_audio_meta,
        decode_image_meta,
        resample_audio,
        synth_codec_media_df,
    )

    _ensure_workers(spark)
    n = 280
    m = synth_codec_media_df(spark, n, partitions=4).persist()
    i = F.col("media_id")
    img = decode_image_meta(m).select(
        "media_id",
        F.col("fmt").alias("img_fmt"),
        "width",
        "height",
        "mean_r",
        "mean_g",
        "mean_b",
        F.col("ok").alias("img_ok"),
    )
    aud = decode_audio_meta(m).select(
        "media_id",
        "sample_rate",
        "n_samples",
        "duration_s",
        "rms",
        F.col("ok").alias("aud_ok"),
    )
    rs = decode_audio_meta(
        resample_audio(m.filter(F.col("kind") == "audio"), 16000).drop("ok")
    ).select(
        "media_id",
        (
            F.col("ok")
            & (F.col("sample_rate") == 16000)
            & (
                F.col("n_samples")
                == F.round(
                    (800 + F.pmod(F.col("media_id"), 10) * 80)
                    * 16000
                    / (8000 + F.pmod(F.col("media_id"), 4) * 4000)
                )
            )
        ).alias("rs_ok"),
    )
    j = m.select("media_id").join(img, "media_id").join(aud, "media_id").join(rs, "media_id", "left")
    src_rate = 8000 + F.pmod(i, 4) * 4000
    src_n = 800 + F.pmod(i, 10) * 80
    fmt = (
        F.when(F.col("img_fmt") == "bmp", F.lit("bmp"))
        .when(F.col("aud_ok"), F.lit("wav"))
        .otherwise(F.lit("unknown"))
    )
    check = (
        F.when(
            F.col("img_fmt") == "bmp",
            (F.col("width") == 16 + F.pmod(i, 8))
            & (F.col("height") == 12 + F.pmod(i, 4))
            & (F.col("mean_r") == F.pmod(i * 3, 256).cast("float"))
            & (F.col("mean_g") == F.pmod(i * 5, 256).cast("float"))
            & (F.col("mean_b") == F.pmod(i * 7, 256).cast("float")),
        )
        .when(
            F.col("aud_ok"),
            (F.col("sample_rate") == src_rate)
            & (F.col("n_samples") == src_n)
            & (F.col("rms") == (F.pmod(i, 100) + 1) * 100)
            & (F.col("duration_s") == F.col("n_samples") / F.col("sample_rate")),
        )
        .otherwise(~F.col("img_ok") & ~F.col("aud_ok"))
    )
    out = (
        j.select(
            fmt.alias("fmt"),
            (F.col("img_ok") | F.col("aud_ok")).cast("long").alias("decoded"),
            check.alias("check"),
            F.coalesce(F.col("rs_ok"), F.lit(True)).alias("rs_ok"),
        )
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("decoded").alias("n_decoded"),
            F.min("check").alias("checks_ok"),
            F.min("rs_ok").alias("resample_ok"),
        )
    )
    return out


def q_simhash_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, driver-checked via its deterministic
    guarantees on a planted corpus: 40 clusters of 3 byte-identical
    docs (identical word arrays => identical fingerprint => identical
    signature; the rep-collapse + expansion emits every intra-cluster
    pair EXACTLY) plus 80 singleton docs with disjoint vocabularies
    (their 64-bit bit-vote signatures are effectively independent:
    P[hamming <= 6] ~ 5e-12 per pair and an 8-bit band must match
    exactly to even become a candidate, so zero cross pairs survive —
    deterministic under the fixed seed). Output therefore equals the
    closed form: 40 * C(3,2) = 120 intra pairs, 0 cross."""
    from sketchlib.dedup import simhash_neardup_pairs

    _ensure_workers(spark)
    n_clusters, csize, n_unique, wlen = 40, 3, 80, 12
    jseq = F.sequence(F.lit(0), F.lit(wlen - 1))
    clustered = spark.range(n_clusters * csize, numPartitions=4).select(
        F.col("id").alias("doc_id"),
        F.transform(
            jseq,
            lambda j: F.concat(
                F.lit("c"),
                F.floor(F.col("id") / csize).cast("string"),
                F.lit("w"),
                j.cast("string"),
            ),
        ).alias("words"),
    )
    singles = spark.range(n_unique, numPartitions=4).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.transform(
            jseq,
            lambda j: F.concat(
                F.lit("u"), F.col("id").cast("string"), F.lit("w"), j.cast("string")
            ),
        ).alias("words"),
    )
    docs = clustered.unionByName(singles)
    pairs = simhash_neardup_pairs(docs, "doc_id", "words", max_hamming=6, bands=8)
    intra = (
        (F.col("doc_a") < n_clusters * csize)
        & (F.col("doc_b") < n_clusters * csize)
        & (F.floor(F.col("doc_a") / csize) == F.floor(F.col("doc_b") / csize))
    )
    return pairs.agg(
        F.sum(intra.cast("long")).alias("intra_pairs"),
        F.sum((~intra).cast("long")).alias("cross_pairs"),
    )


def q_winnow_guarantee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer-Wilkerson-Aiken §4),
    driver-checked via the algorithm's detection guarantee on a
    deterministic synthetic chain: doc i holds globally-unique words
    [10i, 10i+20), so consecutive docs share a 10-word run (>= the
    w+k-1 = 6 guarantee threshold for k=3, w=4) and MUST share a
    fingerprint, while docs two or more apart share no words and CANNOT
    (64-bit xxhash64 k-gram space makes cross-gram collisions
    negligible and the seed is fixed). The shared-fp pair set is
    therefore exactly the n-1 adjacent pairs — closed-form oracle."""
    from sketchlib.textops import winnow_fingerprints

    _ensure_workers(spark)
    n, length, stride = 200, 20, 10
    docs = spark.range(0, n, numPartitions=4).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(length - 1)),
            lambda j: F.concat(F.lit("w"), (F.col("id") * stride + j).cast("string")),
        ).alias("words"),
    )
    fps = winnow_fingerprints(docs, "doc_id", "words", k=3, window=4).persist()
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(b, on="fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    return pairs.agg(
        F.sum((F.col("db") - F.col("da") == 1).cast("long")).alias("adjacent_pairs"),
        F.sum((F.col("db") - F.col("da") != 1).cast("long")).alias("nonadjacent_pairs"),
    ).crossJoin(fps.select(F.countDistinct("doc_id").alias("docs_fingerprinted")))


def q_lang_id_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-n-gram language ID (Cavnar-Trenkle), driver-checked by
    construction: synth_lang_corpus gives each language a disjoint
    5-letter alphabet, so profiles share no n-grams, every doc scores
    cosine 0 against foreign profiles and > 0 against its own (a 5-letter
    alphabet yields < 300 possible 3-grams, so the top-300 profile holds
    ALL of them) — fit-then-classify is exactly 100% accurate and the
    oracle is closed-form. Profile fitting is one distributed agg
    (window top-N per lang before the collect; textops.py); the
    classifier is the pure-JVM engine path (lang_id_classify: explode →
    broadcast profile join → grouped dot product → min_by argmax — no
    Python in the plan, contract-tested)."""
    from sketchlib.textops import fit_language_profiles, lang_id_classify, synth_lang_corpus

    _ensure_workers(spark)
    n, langs = 300, 3
    corpus = synth_lang_corpus(spark, n, langs=langs, partitions=4).persist()
    profiles = fit_language_profiles(corpus, "text", "lang")
    pred = corpus.join(lang_id_classify(corpus, "doc_id", "text", profiles), "doc_id")
    return pred.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("pred") == F.col("lang")).cast("long")).alias("n_correct"),
    )


def _cached_stream_src(tag: str, sf_dir: str, table: str, build_into) -> str:
    """Shared cache for deterministic driver-side stream-source prep:
    keyed by a CONTENT fingerprint of the input table (file sizes +
    mtimes — a regenerated dataset at the same path never reuses stale
    files) and built ATOMICALLY (write to a temp dir, then os.rename,
    so concurrent runs can't observe a half-built cache).
    ``build_into(tmpdir)`` writes the source files."""
    import hashlib as _hashlib
    import shutil as _shutil
    import tempfile as _tempfile

    t_path = os.path.join(sf_dir, table)
    fp = _hashlib.md5(f"{tag}:{sf_dir}".encode())
    if os.path.isfile(t_path):
        st = os.stat(t_path)
        fp.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        for root, _dirs, files in sorted(os.walk(t_path)):
            for fn in sorted(files):
                st = os.stat(os.path.join(root, fn))
                fp.update(f"{fn}:{st.st_size}:{st.st_mtime_ns}".encode())
    src = os.path.join(_tempfile.gettempdir(), f"{tag}_{fp.hexdigest()[:16]}")
    if not os.path.isdir(src):
        build = _tempfile.mkdtemp(prefix=f"{tag}_build_", dir=_tempfile.gettempdir())
        build_into(build)
        try:
            os.rename(build, src)  # atomic publish
        except OSError:  # a concurrent run published first — use theirs
            _shutil.rmtree(build, ignore_errors=True)
    return src


_EVENTS_MAX_TS: dict = {}  # stream-src dir (content-keyed) -> max event ts


def _events_stream_src(spark: SparkSession, sf_dir: str, ev) -> str:
    """Shared micro-batch source for event-time streaming queries:
    the events table sorted into 4 TIME-CONTIGUOUS segment files (real
    event-time arrival order — arbitrary part files each spanning the
    whole range would advance the watermark past every open window on
    batch 1 and drop the rest as stragglers), cached via
    :func:`_cached_stream_src`, plus two far-future sentinel files that
    push the watermark past every real window/session so state
    finalizes. Harness prep only (KB-MB of rows), not an engine path."""
    import datetime as _dt

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    def build_segments(build: str) -> None:
        pdf = ev.select("ts", "user_id", "event_type").orderBy("ts").toPandas()
        n_seg = 4
        seg = max(1, -(-len(pdf) // n_seg))
        for i in range(n_seg):
            chunk = pdf.iloc[i * seg : (i + 1) * seg]
            if len(chunk):
                tbl = _pa.Table.from_pandas(chunk, preserve_index=False)
                # pandas emits ns-precision timestamps; Spark's parquet
                # reader wants us
                tbl = tbl.set_column(
                    tbl.schema.get_field_index("ts"),
                    "ts",
                    tbl["ts"].cast(_pa.timestamp("us")),
                )
                seg_path = os.path.join(build, f"b{i:03d}.parquet")
                _pq.write_table(tbl, seg_path)
                # the file source orders micro-batches by mtime; force
                # strictly ascending mtimes so time-contiguous segments
                # can never arrive out of order (same-ms writes tie)
                os.utime(seg_path, (1_700_000_000 + i * 10,) * 2)

    src = _cached_stream_src("winstream_src", sf_dir, "events.parquet", build_segments)
    # max_ts is a pure function of the (content-fingerprinted) source
    # dir: memoize it so repeated invocations skip the scan job
    if src in _EVENTS_MAX_TS:
        max_ts = _EVENTS_MAX_TS[src]
    else:
        max_ts = ev.agg(F.max("ts")).collect()[0][0]
        _EVENTS_MAX_TS[src] = max_ts
    # sentinels rewritten each run (deterministic content); their fresh
    # mtimes are always newer than the cached segments' pinned ones
    for j, days in enumerate((40, 80)):
        _pq.write_table(
            _pa.table(
                {
                    "ts": _pa.array(
                        [max_ts + _dt.timedelta(days=days)], type=_pa.timestamp("us")
                    ),
                    "user_id": _pa.array([-1], type=_pa.int64()),
                    "event_type": _pa.array(["__sentinel__"]),
                }
            ),
            os.path.join(src, f"zz{j}.parquet"),
        )
    return src


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time SESSION windows as a custom stateful streaming
    operator (streaming.session_sketch_stream): events stream through
    1-hour-gap sessions per event_type; sessions closed by newer data
    emit immediately, open ones finalize exactly once on watermark
    timeout (sentinel batches flush the tail). The oracle re-derives
    the same sessionization in SQL (lag + running sum; splits only on
    lag STRICTLY greater than the gap — verified native session_window
    boundary semantics). Reported per type: session count, total and
    max session sizes, plus driver-checked booleans that every
    finalized session's n_updates equals its exact row count and its
    HLL user estimate is within the published 4-sigma bound of the
    session's exact distinct count (exact side computed batch-side with
    native F.session_window)."""
    import tempfile as _tempfile

    from sketchlib.estimates import hll_count
    from sketchlib.hll import HLL
    from sketchlib.streaming import session_sketch_stream

    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    _ensure_workers(spark)
    ev = _t(spark, sf_dir, "events")
    src = _events_stream_src(spark, sf_dir, ev)
    ckpt = _tempfile.mkdtemp(prefix="sessstream_ckpt_")
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    out = session_sketch_stream(
        stream,
        "ts",
        ["event_type"],
        [SketchSpec("hll", "hll", "user_id", {"p": HLL_P, "seed": SEED})],
        gap="1 hour",
        watermark_delay="30 seconds",
    )
    # unique per call: a repeated run in the same session (bench
    # resampling) must not read a stale sink view of the same name
    import uuid as _uuid

    name = f"sess_sink_{_uuid.uuid4().hex[:12]}"
    from sketchlib import caches as _caches

    # exact per-session truth, batch-side with the NATIVE sessionizer —
    # materialized concurrently with the stream below (guide §2.6)
    exact = _caches.register(
        ev.groupBy("event_type", F.session_window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.countDistinct("user_id").alias("distinct_exact"),
        )
        .select("event_type", F.col("w.start").alias("session_start"), "n_exact", "distinct_exact")
        .persist(),
        owner="entry.streaming_sessions",
    )
    # state width ~ key cardinality (5 event types at every SF), not cores:
    # measured 6.15 -> 4.95 s for the 6-trigger run at width 8 -> 4
    with _stream_shuffle(spark, 4):
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            # the exact side runs while the stream chews its micro-batches
            exact.count()
        finally:
            q.processAllAvailable()
            q.stop()
    streamed = spark.table(name).filter(F.col("event_type") != "__sentinel__").persist()
    streamed.count()
    sigma = 1.04 / math.sqrt(1 << HLL_P)
    joined = (
        streamed.join(exact, ["event_type", "session_start"], "full")
        .withColumn("est", hll_count("state"))
        .withColumn(
            "sess_ok",
            F.col("n_updates").isNotNull()
            & F.col("n_exact").isNotNull()
            & (F.col("n_updates") == F.col("n_exact")),
        )
        .withColumn(
            "hll_ok",
            F.abs(F.col("est") - F.col("distinct_exact"))
            <= F.lit(4.0 * sigma) * F.col("distinct_exact") + F.lit(1.0),
        )
    )
    res = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_exact").cast("long").alias("total_events"),
        F.max("n_exact").cast("long").alias("max_session_events"),
        F.min("sess_ok").alias("stream_ok"),
        F.min("hll_ok").alias("hll_ok"),
    )
    rows = res.collect()
    streamed.unpersist()
    return spark.createDataFrame(rows, res.schema)


def q_windowed_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed sketches as a stateful streaming operator
    (streaming.windowed_sketch_stream: applyInPandasWithState +
    watermark-driven finalization). The events table streams through
    7-day tumbling windows per event_type; two far-future sentinel
    micro-batches push the watermark past every real window, so each
    finalizes exactly once. Emitted per (window, type): the EXACT
    distinct-user count and row count (recomputed batch-side — the
    oracle recomputes both in SQL with the same epoch-aligned windows)
    plus a boolean that the finalized HLL state's estimate is within
    its published 4-sigma bound, and that the streamed n_updates
    equals the exact row count."""
    import datetime as _dt
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

    from sketchlib.estimates import hll_count
    from sketchlib.hll import HLL
    from sketchlib.streaming import windowed_sketch_stream

    _ensure_workers(spark)
    week = 7 * 24 * 3600
    ckpt = _tempfile.mkdtemp(prefix="winstream_ckpt_")
    ev = _t(spark, sf_dir, "events")
    src = _events_stream_src(spark, sf_dir, ev)
    schema = StructType(
        [
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    out = windowed_sketch_stream(
        stream,
        "ts",
        ["event_type"],
        [SketchSpec("hll", "hll", "user_id", {"p": 13, "seed": SEED})],
        window_duration="7 days",
        watermark_delay="1 day",
    )
    sink = f"winsink_{abs(hash(sf_dir)) % 10**8}"
    from sketchlib import caches as _caches

    # the exact side is independent of the stream: materialize it
    # concurrently with the micro-batches (guide §2.6)
    exact = _caches.register(
        ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / week) * week).cast("long").alias("win_start"),
            "event_type",
        )
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .persist(),
        owner="entry.windowed_stream_watermark",
    )
    # state width ~ key cardinality (5 event types at every SF), not cores:
    # measured 6.15 -> 4.95 s for the 6-trigger run at width 8 -> 4
    with _stream_shuffle(spark, 4):
        q = (
            out.writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            exact.count()  # runs while the stream processes
            q.processAllAvailable()
        finally:
            q.stop()
            # results live in the memory sink; the checkpoint is dead weight
            # from here (src stays — it is the per-sf_dir cache)
            _shutil.rmtree(ckpt, ignore_errors=True)
    states = (
        spark.sql(f"select * from {sink}")
        .filter(F.col("event_type") != "__sentinel__")
        .select(
            F.unix_timestamp("window_start").alias("win_start"),
            "event_type",
            "state",
            "n_updates",
        )
    )
    bound = 4.0 * HLL(13).relative_error()
    est = hll_count(F.col("state")).alias("est")
    joined = states.join(exact, ["win_start", "event_type"]).select(
        "win_start",
        "event_type",
        "exact_users",
        "n_events",
        est,
        "n_updates",
    )
    return joined.select(
        "win_start",
        "event_type",
        "exact_users",
        "n_events",
        (
            (F.abs(F.col("est") - F.col("exact_users")) <= bound * F.col("exact_users"))
            & (F.col("n_updates") == F.col("n_events"))
        ).alias("stream_ok"),
    )


def q_ctor_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-based constructor sizing, pinned to the reference's own
    golden values: CMS with_point_query_properties(0.01, 0.1) -> w=272,
    d=3 (countminsketch.rs:337-341); Bloom with_properties(1000, 0.1)
    -> k=3, m=4792 (bloomfilter.rs:462-466); Cuckoo
    with_properties_4(0.02, 10000) -> l=9, n_buckets=16384
    (cuckoofilter.rs:310-335, the benches' config
    benches/filters.rs:20-49); Quotient q=15,r=4 accepts (the benches'
    config) and sizes 2^15 slots; HLL accessors m = 2^b = 16384 at b=14
    plus the clear()/is_empty() lifecycle (hyperloglog/mod.rs:154-200).
    The oracle hardcodes the reference constants, so any sizing-formula
    or accessor regression flips a value."""
    from sketchlib.cms import CountMinSketch
    from sketchlib.cuckoo import CuckooFilter
    from sketchlib.quotient import QuotientFilter

    from sketchlib.bloom import BloomFilter

    import numpy as np

    cms = CountMinSketch.with_point_query_properties(0.01, 0.1)
    bloom = BloomFilter.with_properties(1000, 0.1)
    ck = CuckooFilter.with_properties_4(0.02, 10000)
    qf = QuotientFilter(15, 4)
    # HLL accessor/lifecycle goldens (hyperloglog/mod.rs b()/m()/
    # is_empty()/clear()): m = 2^b, and clear() returns the filter to
    # is_empty() while an add makes it non-empty again
    hll = HLL(14, seed=SEED)
    hll.update(np.arange(100, dtype=np.int64))
    nonempty_after_add = not hll.is_empty()
    hll.clear()
    rows = [
        ("cms_eps0.01_delta0.1", int(cms.w), int(cms.d)),
        ("bloom_n1000_p0.1", int(bloom.m), int(bloom.k)),
        ("cuckoo4_p0.02_n10000", int(ck.n_buckets), int(ck.l_fingerprint)),
        ("quotient_q15_r4", int(qf.size), int(qf.r)),
        ("hll_p14_accessors", int(hll.m), int(hll.p)),
        (
            "hll_clear_lifecycle",
            int(nonempty_after_add),
            int(hll.is_empty()),
        ),
    ]
    return spark.createDataFrame(rows, "structure string, size_param long, hash_param long")


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window aggregation: native ``F.session_window`` (6 h
    inactivity gap) sessionizes each user's events; per-user session
    stats are exact and SQL-checkable (the oracle re-derives sessions
    with lag + running-sum; Spark merges sessions whose windows TOUCH —
    a lag of exactly the gap still extends — so the oracle splits only
    on lag STRICTLY greater than the gap). A global KLL(k=200)
    sketch over all session sizes checks q50/q90 with a tie-aware rank
    band: sizes are small ints with heavy ties, so the correct
    assertion is rank(<v) - eps <= q <= rank(<=v) + eps, not
    |rank(<=v) - q| <= eps."""
    from sketchlib import caches as _caches

    ev = _t(spark, sf_dir, "events")
    # three consumers (KLL build, rank check, per-user output): persist
    # so the sessionization shuffle runs once, not three times
    sess = _caches.register(
        ev.groupBy("user_id", F.session_window("ts", "6 hours"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
        .persist(),
        owner="entry.session_windows",
    )
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("total_events"),
    )
    merged = sketch_aggregate(
        sess.select(F.lit(1).alias("g"), F.col("n_events").cast("double").alias("sz")),
        ["g"],
        [SketchSpec("kll", "kll", "sz", {"k": 200, "seed": SEED})],
        fanout="auto",
    )
    state = bytes(merged.select("state").collect()[0][0])
    q50, q90 = KLL.from_bytes(state).quantiles([0.5, 0.9]).tolist()
    ranks = sess.select(
        (F.sum((F.col("n_events") < q50).cast("long")) / F.count(F.lit(1))).alias("lo50"),
        (F.sum((F.col("n_events") <= q50).cast("long")) / F.count(F.lit(1))).alias("hi50"),
        (F.sum((F.col("n_events") < q90).cast("long")) / F.count(F.lit(1))).alias("lo90"),
        (F.sum((F.col("n_events") <= q90).cast("long")) / F.count(F.lit(1))).alias("hi90"),
    ).collect()[0]
    ok50 = bool(ranks["lo50"] - 0.05 <= 0.5 <= ranks["hi50"] + 0.05)
    ok90 = bool(ranks["lo90"] - 0.05 <= 0.9 <= ranks["hi90"] + 0.05)
    return per_user.select(
        "user_id",
        "n_sessions",
        "max_session_events",
        "total_events",
        F.lit(ok50).alias("kll_q50_ok"),
        F.lit(ok90).alias("kll_q90_ok"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition (Gopher/RefinedWeb 'top n-gram share' rule):
    per source, the summed top-2-gram counts vs total 2-grams and how
    many docs are repetitive (top gram > 1/5 of all grams, integer
    compare). All-integer outputs so both engines agree exactly."""
    from sketchlib.textops import top_ngram_share

    docs = _words(_t(spark, sf_dir, "documents"))
    rep = top_ngram_share(docs.select("doc_id", "words"), "doc_id", "words", 2)
    return (
        docs.select("doc_id", "source")
        .join(rep, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("max_gram_count").alias("sum_top_gram"),
            F.sum("n_grams").alias("sum_grams"),
            F.sum((F.col("max_gram_count") * 5 > F.col("n_grams")).cast("long")).alias(
                "n_repetitive"
            ),
        )
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation funnel, per source:
    raw -> quality gate (n_words >= 40 AND stopword share < 1/5, pure
    integer arithmetic so both engines agree exactly) -> exact dedup
    (md5 fingerprint, keep min doc_id) -> near-dup cluster dedup
    (exact-Jaccard edges at J >= 0.5 -> connected components -> keep
    each cluster's min id). Every stage is a library operator
    (textops-style JVM expressions, fingerprint dedup,
    dedup.connected_components); at 100 TB the edge set comes from
    minhash_neardup_pairs instead of the exact shingle join — same
    funnel, sub-quadratic candidates. Oracle: the identical funnel in
    SQL (window-min exact dedup + recursive-CTE components)."""
    from pyspark.sql import Window

    from sketchlib.dedup import connected_components

    docs = _words(_t(spark, sf_dir, "documents"))
    stop = ("the", "a")
    base = docs.select(
        "doc_id",
        "source",
        "text",
        "words",
        F.size("words").alias("nw"),
        F.size(F.filter("words", lambda w: w.isin(*stop))).alias("ns"),
    )
    qual = base.filter((F.col("nw") >= 40) & (F.col("ns") * 5 < F.col("nw")))
    keep_exact = (
        qual.withColumn("min_id", F.min("doc_id").over(Window.partitionBy(F.md5("text"))))
        .filter(F.col("doc_id") == F.col("min_id"))
        .select("doc_id", "source", "words")
    )
    pairs = _jaccard_pairs(keep_exact)
    losers = (
        connected_components(pairs, "doc_a", "doc_b")
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    final = keep_exact.join(losers, "doc_id", "left_anti")

    def per_source(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(name))

    return (
        per_source(docs, "n_input")
        .join(per_source(qual, "n_quality"), "source", "left")
        .join(per_source(keep_exact, "n_exact"), "source", "left")
        .join(per_source(final, "n_final"), "source", "left")
        .select(
            "source",
            "n_input",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
        )
    )


def q_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra: for every source pair, estimate the distinct
    shared-word count by inclusion–exclusion (|A|+|B|−|A∪B|, union via
    lossless register-max merge of the per-source states) and check it
    against the exact intersection within 4σ·(|A|+|B|+|A∪B|) — each of
    the three estimates carries the published 1.04/√m (σ) error, so the
    derived bound is their sum. The pair join runs over #sources state
    rows (KB), never the corpus. Exact side: distinct (source, word)
    self-join, the SQL oracle's own shape."""
    from sketchlib.estimates import hll_union_count

    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs, ["source"], [SketchSpec("hll", "hll", "words", {"p": HLL_P, "seed": SEED})], fanout="auto"
    )
    st = merged.select("source", "state")
    a = st.select(F.col("source").alias("source_a"), F.col("state").alias("state_a"))
    b = st.select(F.col("source").alias("source_b"), F.col("state").alias("state_b"))
    est = (
        a.join(b, F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            (
                hll_count("state_a") + hll_count("state_b")
                - hll_union_count("state_a", "state_b")
            ).alias("est_inter"),
        )
    )
    sw = docs.select("source", F.explode("words").alias("w")).distinct()
    cnt = sw.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    x, y = sw.alias("x"), sw.alias("y")
    inter = (
        x.join(y, (F.col("x.w") == F.col("y.w")) & (F.col("x.source") < F.col("y.source")))
        .groupBy(F.col("x.source").alias("source_a"), F.col("y.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("inter_words"))
    )
    ca = cnt.select(F.col("source").alias("source_a"), F.col("cnt").alias("cnt_a"))
    cb = cnt.select(F.col("source").alias("source_b"), F.col("cnt").alias("cnt_b"))
    slack_terms = (
        F.col("cnt_a") + F.col("cnt_b")  # |A| + |B|
        + (F.col("cnt_a") + F.col("cnt_b") - F.col("inter_words"))  # |A ∪ B|
    )
    return (
        inter.join(ca, "source_a")
        .join(cb, "source_b")
        .join(est, ["source_a", "source_b"])
        .select(
            "source_a",
            "source_b",
            "inter_words",
            (
                F.abs(F.col("est_inter") - F.col("inter_words"))
                <= F.greatest(F.lit(HLL_SLACK) * slack_terms, F.lit(3.0))
            ).alias("hll_inter_ok"),
        )
    )


def q_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k vocabulary overlap between sources (kmv.py; Beyer
    SIGMOD'07 / Broder resemblance — pipeline extra, no reference
    counterpart): one KMV(k=1024) per source over the word vocabulary,
    then DIRECT pairwise Jaccard from the union synopsis's shared
    bottom-k — the estimate HLL inclusion–exclusion cannot give without
    error amplification. Emits the exact pair counts plus within-bound
    booleans for the KMV estimates: Jaccard within 5·(0.5/√k) of exact
    (sample-proportion 5σ), intersection within 0.25·union + 3
    (Jaccard and union errors combined). The pair join runs over
    #sources state rows (KB), never the corpus; the exact side is the
    certificate (the SQL oracle's own shape), as in hll_set_algebra."""
    from sketchlib.estimates import kmv_difference, kmv_jaccard, kmv_intersection

    docs = _words(_t(spark, sf_dir, "documents"))
    merged = sketch_aggregate(
        docs,
        ["source"],
        [SketchSpec("kmv", "kmv", "words", {"k": KMV_K, "seed": SEED})],
        fanout="auto",
    )
    st = merged.select("source", "state")
    a = st.select(F.col("source").alias("source_a"), F.col("state").alias("state_a"))
    b = st.select(F.col("source").alias("source_b"), F.col("state").alias("state_b"))
    est = a.join(b, F.col("source_a") < F.col("source_b")).select(
        "source_a",
        "source_b",
        kmv_jaccard("state_a", "state_b").alias("j_est"),
        kmv_intersection("state_a", "state_b").alias("i_est"),
        kmv_difference("state_a", "state_b").alias("d_ab_est"),
        kmv_difference("state_b", "state_a").alias("d_ba_est"),
    )
    sw = docs.select("source", F.explode("words").alias("w")).distinct()
    cnt = sw.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    x, y = sw.alias("x"), sw.alias("y")
    inter = (
        x.join(y, (F.col("x.w") == F.col("y.w")) & (F.col("x.source") < F.col("y.source")))
        .groupBy(F.col("x.source").alias("source_a"), F.col("y.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("inter_words"))
    )
    ca = cnt.select(F.col("source").alias("source_a"), F.col("cnt").alias("cnt_a"))
    cb = cnt.select(F.col("source").alias("source_b"), F.col("cnt").alias("cnt_b"))
    j_bound = 5 * 0.5 / float(KMV_K) ** 0.5
    return (
        inter.join(ca, "source_a")
        .join(cb, "source_b")
        .join(est, ["source_a", "source_b"])
        .withColumn("union_words", F.col("cnt_a") + F.col("cnt_b") - F.col("inter_words"))
        .select(
            "source_a",
            "source_b",
            "inter_words",
            "union_words",
            # cross-multiplied: |J_est·union − inter| ≤ bound·union
            (
                F.abs(F.col("j_est") * F.col("union_words") - F.col("inter_words"))
                <= F.lit(j_bound) * F.col("union_words")
            ).alias("kmv_jaccard_ok"),
            (
                F.abs(F.col("i_est") - F.col("inter_words"))
                <= F.lit(0.25) * F.col("union_words") + F.lit(3.0)
            ).alias("kmv_inter_ok"),
            # set difference (r5): |A\\B| exact = cnt_a - inter; the
            # only-in-A fraction has the same sample-proportion error
            # profile as J, so the same combined bound applies
            (
                F.abs(F.col("d_ab_est") - (F.col("cnt_a") - F.col("inter_words")))
                <= F.lit(0.25) * F.col("union_words") + F.lit(3.0)
            ).alias("kmv_diff_ab_ok"),
            (
                F.abs(F.col("d_ba_est") - (F.col("cnt_b") - F.col("inter_words")))
                <= F.lit(0.25) * F.col("union_words") + F.lit(3.0)
            ).alias("kmv_diff_ba_ok"),
        )
    )


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster labels: connected components over the exact
    3-gram-Jaccard near-dup pairs (J >= 0.5), each doc labeled with its
    cluster's min doc_id. Alternating Large-Star/Small-Star in pure
    DataFrame ops (sketchlib.dedup.connected_components) — the step
    that turns pairwise near-dup output into keep-one-per-cluster
    decisions. Oracle: DuckDB recursive-CTE transitive closure over the
    same exact pairs."""
    from sketchlib.dedup import connected_components

    pairs = q_ngram_jaccard_neardup(spark, sf_dir)
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate scoring: corpus-wide adjacent-pair counts
    (sketchlib.tokenops.pair_counts — the counting half of Sennrich
    BPE), top 40 by (count desc, pair asc). The merge-apply half
    (bpe_merge_step / bpe_train, vectorized Arrow rewrite over token
    arrays) is pytest-verified against a pure-python reference —
    alternating-run merge semantics aren't SQL-expressible."""
    from sketchlib.tokenops import pair_counts

    docs = _words(_t(spark, sf_dir, "documents"))
    return (
        pair_counts(docs, "words")
        .orderBy(F.desc("cnt"), F.asc("t1"), F.asc("t2"))
        .limit(40)
        .select(F.col("t1").alias("w1"), F.col("t2").alias("w2"), "cnt")
    )


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style segment-level dedup (Raffel et al. §2.2): drop every
    5-word segment whose exact text occurred earlier in the corpus,
    reassemble docs from surviving segments. Output pins the exact
    reconstruction via md5(clean_text)."""
    from sketchlib.dedup import segment_dedup

    docs = _words(_t(spark, sf_dir, "documents"))
    out = segment_dedup(docs, "doc_id", "words", seg_words=5)
    return out.select(
        "doc_id",
        "n_segments",
        "n_kept",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_fp"),
    )


def q_source_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (alpha=0.5, scale=3):
    per-source target floor(sqrt(9n)) docs kept by smallest md5(id) —
    the deterministic subset any engine reproduces bit-identically.
    kept_id_sum pins WHICH docs were kept, not just how many."""
    from sketchlib.tokenops import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    kept = temperature_mix(docs, "source", "doc_id", alpha=0.5, scale=3.0)
    kept_stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("kept_id_sum")
    )
    inputs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_input"))
    targets = inputs.withColumn(
        "n_target",
        F.least(F.col("n_input"), F.floor(F.sqrt(F.col("n_input") * F.lit(9.0)))),
    )
    return targets.join(kept_stats, "source", "left").select(
        "source",
        "n_input",
        "n_target",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_id_sum", F.lit(0)).alias("kept_id_sum"),
    )


def q_lm_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped LM quality filter with an integer-exact score:
    reference LM = bigrams of the doc_id%37==0 slice; per doc count
    bigram occurrences unseen in the reference, flag docs with >60%
    unseen (cross-multiplied integer comparison). The float add-k
    log-perplexity twin (tokenops.perplexity_score) is pytest-verified
    against numpy — float sum order isn't hash-comparable."""
    from sketchlib.tokenops import bigram_counts, novelty_signals

    docs = _words(_t(spark, sf_dir, "documents"))
    ref_grams = bigram_counts(docs.filter(F.col("doc_id") % 37 == 0), "words")
    sig = novelty_signals(docs, "doc_id", "words", ref_grams)
    return (
        docs.select("doc_id", "source")
        .join(sig, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("sum_bigrams"),
            F.sum("n_unseen").alias("sum_unseen"),
            F.sum(
                F.when(F.col("n_unseen") * 1000 > 600 * F.col("n_bigrams"), 1).otherwise(0)
            ).alias("n_flagged"),
        )
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk packing: all docs' words concatenated
    in doc_id order, re-chunked into 64-token training blocks
    (tokenops.pack_sequences — two-phase global offset scan, per-doc
    JVM slicing, one groupBy(block) assembly). md5(block text) pins the
    exact content and ordering of every block."""
    from sketchlib.tokenops import pack_sequences

    docs = _words(_t(spark, sf_dir, "documents"))
    blocks = pack_sequences(docs, "doc_id", "words", block_len=64)
    return blocks.select(
        "block_id",
        "n_parts",
        "n_tokens",
        F.md5(F.array_join("tokens", " ").cast("binary")).alias("block_fp"),
        F.aggregate("part_starts", F.lit(0), lambda a, b: a + b)
        .cast("bigint")
        .alias("starts_checksum"),
    )


def q_epoch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + round-robin sharding
    (tokenops.epoch_shuffle_shards): md5(epoch||id) permutation,
    global rank via the two-phase scan, shard = rank % 8. Counts are
    balanced to ±1 by construction; id_checksum pins the exact
    assignment."""
    from sketchlib.tokenops import epoch_shuffle_shards

    docs = _t(spark, sf_dir, "documents")
    sh = epoch_shuffle_shards(docs, "doc_id", n_shards=8, epoch=1)
    return sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


def q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary fit + corpus encode (tokenops.fit_vocab /
    encode_docs): frequency-ranked dense ids via the two-phase global
    scan (count desc, word asc — never a single-partition window),
    min_count=2, vocab capped at 40 types, OOV -> -1. The ids_fp md5
    pins every document's exact id sequence."""
    from sketchlib.tokenops import encode_docs, fit_vocab

    docs = _words(_t(spark, sf_dir, "documents"))
    vocab = fit_vocab(docs, "words", min_count=2, max_size=40)
    enc = encode_docs(docs, "doc_id", "words", vocab, oov_id=-1)
    return enc.select(
        "doc_id",
        "n_tok",
        "n_oov",
        F.md5(
            F.array_join(F.transform("tokens", lambda t: t.cast("string")), " ").cast(
                "binary"
            )
        ).alias("ids_fp"),
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted train/val/test split (textops.hash_split):
    md5-bucket permille assignment, engine- and run-independent so no
    pipeline change can quietly move docs across the train/test wall.
    id_checksum pins exactly WHICH docs landed in each split."""
    from sketchlib.textops import hash_split

    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id", {"train": 900, "val": 50, "test": 50})
    return out.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )


def q_fd_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions mergeable covariance sketch (sketchlib.fd,
    Liberty KDD'13 / Ghashami et al. SICOMP'16) built per label through
    the SAME sketch_aggregate partial+salted-merge path as every other
    kernel. Certificate per label, driver-checked against the exact
    Gram (computed distributedly as per-batch partial Grams — only
    (label, 64x64) rows reach the driver): PSD lower side, the exact
    shrinkage-total upper bound, and the standard accounting
    delta_total <= (||A||_F^2 - ||B||_F^2)/l."""
    import numpy as _np

    from sketchlib.fd import FrequentDirections

    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    merged = sketch_aggregate(
        emb, ["label"], [SketchSpec("fd", "fd", "vec", {"l": 24, "dim": 64})], fanout="auto"
    )

    def partial_grams(batches):
        import pyarrow as _pa

        for b in batches:
            lab = b.column("label").to_numpy(zero_copy_only=False)
            flat = _np.asarray(b.column("vec").flatten(), dtype=_np.float64)
            mat = flat.reshape(len(lab), 64)
            labs, grams, ns = [], [], []
            for lv in _np.unique(lab):
                rows = mat[lab == lv]
                labs.append(int(lv))
                grams.append((rows.T @ rows).tobytes())
                ns.append(rows.shape[0])
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array(labs, type=_pa.int64()),
                    _pa.array(grams, type=_pa.binary()),
                    _pa.array(ns, type=_pa.int64()),
                ],
                names=["label", "gram", "n"],
            )

    # FD build and exact partial Grams are independent passes over the
    # embeddings: overlap them (guide §2.6)
    state_rows, gram_rows = _par(
        lambda: merged.select("label", "state").collect(),
        lambda: emb.mapInArrow(partial_grams, "label long, gram binary, n long").collect(),
    )
    states = {
        r["label"]: FrequentDirections.from_bytes(bytes(r["state"])) for r in state_rows
    }
    exact: dict = {}
    counts: dict = {}
    for r in gram_rows:
        g = _np.frombuffer(bytes(r["gram"]), dtype=_np.float64).reshape(64, 64)
        exact[r["label"]] = exact.get(r["label"], 0) + g
        counts[r["label"]] = counts.get(r["label"], 0) + r["n"]
    out = []
    for lab, fd in states.items():
        G = exact[lab]
        D = G - fd.cov_sketch()
        eig = _np.linalg.eigvalsh(D)
        tol = 1e-6 * max(1.0, fd.fro2)
        froB2 = float(_np.sum(fd.sketch_matrix**2))
        out.append(
            (
                int(lab),
                int(counts[lab]),
                bool(fd.n == counts[lab] and eig.min() >= -tol),
                bool(eig.max() <= fd.delta_total + tol),
                bool(fd.delta_total <= (fd.fro2 - froB2) / fd.l + tol),
            )
        )
    return spark.createDataFrame(
        out,
        "label long, n_vecs long, psd_ok boolean, bound_ok boolean, accounting_ok boolean",
    )


def q_fd_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent Directions principal-subspace recovery certificate
    (r3 verdict item 7: ``principal_directions`` had no driver query).

    Planted low-rank + noise matrix, derived deterministically from the
    embeddings table so it scales with SF: row i = 0.2·x_i (the real
    embedding as the noise floor) + Σ_{r<k} amp_r·coef_r(i)·e_{p_r},
    with coef_r(i) a deterministic xxhash64-seeded uniform in [-1, 1]
    and amplitudes 4.0, 3.6, … well above the noise, so the exact
    top-k eigenvectors sit near the planted basis dims with a wide
    spectral gap. FD (l=24) is built through the standard
    sketch_aggregate partial + salted-merge path; the EXACT
    eigendecomposition comes from distributed partial Grams (only
    64×64 matrices reach the driver). Certificate per direction rank:
    the exact eigenvector's squared projection onto the FD top-k
    subspace ≥ 0.9 (subspace recall), plus the PSD / shrinkage-bound /
    accounting booleans of the covariance certificate."""
    import numpy as _np

    from sketchlib.fd import FrequentDirections

    k, dim = 6, 64
    planted = [3 + 8 * r for r in range(k)]  # spread basis dims
    amps = [4.0 - 0.4 * r for r in range(k)]
    x = F.col("embedding").cast("array<double>")
    coefs = [
        (
            (F.pmod(F.xxhash64(F.col("vec_id"), F.lit(1000 + r)), F.lit(2000001)) - 1000000)
            / 1000000.0
        ).alias(f"__c{r}")
        for r in range(k)
    ]
    emb = _t(spark, sf_dir, "embeddings").select(F.col("vec_id"), x.alias("__x"), *coefs)
    # y[j] = 0.2*x[j] + amp_r*coef_r when j == p_r  (pure JVM transform)
    def _yj(j):
        base = 0.2 * F.element_at(F.col("__x"), j + 1)
        for r, p in enumerate(planted):
            base = base + F.when(j == p, F.lit(amps[r]) * F.col(f"__c{r}")).otherwise(0.0)
        return base

    rows = emb.select(
        "vec_id",
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), _yj).alias("vec"),
    )
    merged = sketch_aggregate(
        rows, [], [SketchSpec("fd", "fd", "vec", {"l": 24, "dim": dim})], fanout="auto"
    )

    def partial_grams(batches):
        import pyarrow as _pa

        for b in batches:
            flat = _np.asarray(b.column("vec").flatten(), dtype=_np.float64)
            mat = flat.reshape(-1, dim)
            yield _pa.RecordBatch.from_arrays(
                [
                    _pa.array([(mat.T @ mat).tobytes()], type=_pa.binary()),
                    _pa.array([mat.shape[0]], type=_pa.int64()),
                ],
                names=["gram", "n"],
            )

    # FD build and exact partial Grams are independent passes over the
    # planted matrix: overlap them (guide §2.6)
    state_rows, gram_rows = _par(
        lambda: merged.select("state").collect(),
        lambda: rows.select("vec").mapInArrow(partial_grams, "gram binary, n long").collect(),
    )
    fd = FrequentDirections.from_bytes(bytes(state_rows[0][0]))
    G = _np.zeros((dim, dim))
    n_vecs = 0
    for r in gram_rows:
        G += _np.frombuffer(bytes(r["gram"]), dtype=_np.float64).reshape(dim, dim)
        n_vecs += int(r["n"])
    evals, evecs = _np.linalg.eigh(G)  # ascending
    exact_top = evecs[:, ::-1][:, :k]  # dim x k, descending eigenvalue
    fd_top = fd.principal_directions(k)  # k x dim
    # squared projection of each exact direction onto the FD subspace
    proj2 = _np.sum((fd_top @ exact_top) ** 2, axis=0)
    D = G - fd.cov_sketch()
    eig = _np.linalg.eigvalsh(D)
    tol = 1e-6 * max(1.0, fd.fro2)
    froB2 = float(_np.sum(fd.sketch_matrix**2))
    psd_ok = bool(fd.n == n_vecs and eig.min() >= -tol)
    bound_ok = bool(eig.max() <= fd.delta_total + tol)
    acct_ok = bool(fd.delta_total <= (fd.fro2 - froB2) / fd.l + tol)
    out = [
        (int(r), int(n_vecs), bool(proj2[r] >= 0.9), psd_ok, bound_ok, acct_ok)
        for r in range(k)
    ]
    return spark.createDataFrame(
        out,
        "rank long, n_vecs long, recall_ok boolean, psd_ok boolean, "
        "bound_ok boolean, accounting_ok boolean",
    )


_DECLARED: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "direct_feed_build": q_direct_feed_build,
    "fd_covariance": q_fd_covariance,
    "fd_directions": q_fd_directions,
    "hash_split": q_hash_split,
    "vocab_encode": q_vocab_encode,
    "epoch_shards": q_epoch_shards,
    "sequence_packing": q_sequence_packing,
    "bpe_pair_counts": q_bpe_pair_counts,
    "segment_dedup": q_segment_dedup,
    "source_mixing": q_source_mixing,
    "lm_novelty": q_lm_novelty,
    "hll_distinct_words_per_source": q_hll_distinct_words_per_source,
    "hll_distinct_users_per_event_type": q_hll_distinct_users_per_event_type,
    "cms_word_freq": q_cms_word_freq,
    "bloom_semijoin_building": q_bloom_semijoin_building,
    "tdigest_quantity_stats": q_tdigest_quantity_stats,
    "kll_event_value_quantiles": q_kll_event_value_quantiles,
    "ddsketch_value_quantiles": q_ddsketch_value_quantiles,
    "topk_words_per_lang": q_topk_words_per_lang,
    "reservoir_sample_size": q_reservoir_sample_size,
    "dedup_exact_stats": q_dedup_exact_stats,
    "text_quality_stats": q_text_quality_stats,
    "ngram_jaccard_neardup": q_ngram_jaccard_neardup,
    "ann_cosine_topk": q_ann_cosine_topk,
    "minhash_lsh_neardup": q_minhash_lsh_neardup,
    "cosine_neardup": q_cosine_neardup,
    "doc_fingerprint": q_doc_fingerprint,
    "token_count_regex": q_token_count_regex,
    "simhash_neardup": q_simhash_neardup,
    "srp_neardup_recall": q_srp_neardup_recall,
    "lossy_heavy_hitters": q_lossy_heavy_hitters,
    "spacesaving_heavy_hitters": q_spacesaving_heavy_hitters,
    "topk_sketch_words": q_topk_sketch_words,
    "countsketch_f2": q_countsketch_f2,
    "topk_resolved_strings": q_topk_resolved_strings,
    "decontamination": q_decontamination,
    "quality_rules": q_quality_rules,
    "stratified_sample": q_stratified_sample,
    "pii_scrub": q_pii_scrub,
    "bloom_len_estimate": q_bloom_len_estimate,
    "tdigest_cdf_quantity": q_tdigest_cdf_quantity,
    "cuckoo_filter_ops": q_cuckoo_filter_ops,
    "quotient_filter_ops": q_quotient_filter_ops,
    "salted_skew_distinct_users": q_salted_skew_distinct_users,
    "streaming_state_equivalence": q_streaming_state_equivalence,
    "ctor_goldens": q_ctor_goldens,
    "windowed_stream_watermark": q_windowed_stream_watermark,
    "streaming_sessions": q_streaming_sessions,
    "ivf_topk_recall": q_ivf_topk_recall,
    "semantic_dedup_recall": q_semantic_dedup_recall,
    "rollup_merge_up": q_rollup_merge_up,
    "media_pipeline": q_media_pipeline,
    "media_decode": q_media_decode,
    "winnow_guarantee": q_winnow_guarantee,
    "simhash_guarantee": q_simhash_guarantee,
    "lang_id_roundtrip": q_lang_id_roundtrip,
    "dup_clusters": q_dup_clusters,
    "hll_set_algebra": q_hll_set_algebra,
    "kmv_source_overlap": q_kmv_source_overlap,
    "curation_pipeline": q_curation_pipeline,
    "repetition_stats": q_repetition_stats,
    "session_windows": q_session_windows,
    "tdigest_weighted_price": q_tdigest_weighted_price,
    "sql_interface": q_sql_interface,
    "streaming_neardup": q_streaming_neardup,
    "pq_topk_recall": q_pq_topk_recall,
    "bloom_antijoin_blocklist": q_bloom_antijoin_blocklist,
    "checkpoint_resume": q_checkpoint_resume,
}

# Correctness-window rotation (VERDICT r4 #1). The external oracle
# check hash-compares the FIRST 50 entries of queries() against the
# DuckDB oracles; with 68 registered queries, 18 fall outside each
# round's window. queries() therefore orders the dict STALEST-FIRST:
# entries whose last recorded hash-match is oldest (or who never had
# one) lead, freshly-verified ones trail, declaration order breaks ties.
# Bump this map from CORRECTNESS_r{N}.json each round: a name that file
# lists takes _LATEST_ROUND = N (drop it from the map), a name it does
# not list keeps its older round. With a 50-wide window over 68 queries
# the 18 that drop out are always 18 of the most recently verified, so
# no entry goes more than one round without a recorded oracle row.
# (Local verification — tools/check_oracles.py — covers ALL queries
# every round regardless; this rotation is about the independent
# record.)
_VERIFIED_ROUND: dict[str, int] = {
    # last recorded hash-match: round 4 (CORRECTNESS_r04.json). These 18
    # rotated out of round 5's window, are absent from
    # CORRECTNESS_r06.json, and lead round 7's window.
    "bloom_len_estimate": 4,
    "ctor_goldens": 4,
    "cuckoo_filter_ops": 4,
    "decontamination": 4,
    "ivf_topk_recall": 4,
    "media_decode": 4,
    "media_pipeline": 4,
    "pii_scrub": 4,
    "quality_rules": 4,
    "quotient_filter_ops": 4,
    "rollup_merge_up": 4,
    "salted_skew_distinct_users": 4,
    "semantic_dedup_recall": 4,
    "stratified_sample": 4,
    "streaming_sessions": 4,
    "streaming_state_equivalence": 4,
    "tdigest_cdf_quantity": 4,
    "windowed_stream_watermark": 4,
    # everything else: hash-matched in round 6 (CORRECTNESS_r06.json,
    # all 50 rows hash_match)
}
_LATEST_ROUND = 6  # default for entries not listed above

_DECL_POS = {name: i for i, name in enumerate(_DECLARED)}
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _DECLARED[name]
    for name in sorted(
        _DECLARED,
        key=lambda n: (_VERIFIED_ROUND.get(n, _LATEST_ROUND), _DECL_POS[n]),
    )
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return {
        "direct_feed_build": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
                   TRUE AS updates_exact,
                   TRUE AS hll_ok,
                   TRUE AS feeds_byte_identical
            FROM events GROUP BY event_type
        """,
        "fd_covariance": """
            SELECT label,
                   CAST(COUNT(*) AS BIGINT) AS n_vecs,
                   TRUE AS psd_ok,
                   TRUE AS bound_ok,
                   TRUE AS accounting_ok
            FROM embeddings GROUP BY label
        """,
        "fd_directions": """
            SELECT CAST(r.i AS BIGINT) AS rank,
                   (SELECT COUNT(*) FROM embeddings) AS n_vecs,
                   TRUE AS recall_ok,
                   TRUE AS psd_ok,
                   TRUE AS bound_ok,
                   TRUE AS accounting_ok
            FROM range(6) r(i)
        """,
        "hash_split": """
            WITH b AS (
                SELECT doc_id, source,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 1000 AS bucket
                FROM documents
            )
            SELECT source,
                   CASE WHEN bucket < 900 THEN 'train'
                        WHEN bucket < 950 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(doc_id) AS BIGINT) AS id_checksum
            FROM b GROUP BY 1, 2
        """,
        "vocab_encode": """
            WITH w AS (
                SELECT doc_id, i AS pos, words[i] AS word
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, len(words) + 1)) AS t(i)
            ),
            c AS (
                SELECT word, COUNT(*) AS cnt FROM w GROUP BY word
                HAVING COUNT(*) >= 2
            ),
            v AS (
                SELECT word,
                       ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) - 1 AS tid
                FROM c
            ),
            v2 AS (SELECT * FROM v WHERE tid < 40),
            e AS (
                SELECT w.doc_id, w.pos, COALESCE(v2.tid, -1) AS tid
                FROM w LEFT JOIN v2 USING (word)
            )
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tok,
                   CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_oov,
                   md5(string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)) AS ids_fp
            FROM e GROUP BY doc_id
        """,
        "epoch_shards": """
            WITH r AS (
                SELECT doc_id, n_chars,
                       ROW_NUMBER() OVER (
                           ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR))
                       ) - 1 AS rank
                FROM documents
            )
            SELECT CAST(rank % 8 AS INTEGER) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(SUM(doc_id) AS BIGINT) AS id_checksum
            FROM r GROUP BY 1
        """,
        "sequence_packing": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words,
                       len(string_split(text, ' ')) AS n
                FROM documents
            ),
            o AS (
                SELECT doc_id, words, n,
                       CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS start
                FROM w WHERE n > 0
            ),
            spans AS (
                SELECT doc_id, words, n, start, b
                FROM o, UNNEST(range(start // 64, (start + n - 1) // 64 + 1)) AS t(b)
            ),
            parts AS (
                SELECT b AS block_id,
                       GREATEST(b * 64, start) AS gs,
                       words[(GREATEST(b * 64, start) - start + 1):
                             (LEAST((b + 1) * 64, start + n) - start)] AS chunk
                FROM spans
            )
            SELECT block_id,
                   CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(len(chunk)) AS BIGINT) AS n_tokens,
                   md5(string_agg(array_to_string(chunk, ' '), ' ' ORDER BY gs))
                       AS block_fp,
                   CAST(SUM(gs - block_id * 64) AS BIGINT) AS starts_checksum
            FROM parts GROUP BY block_id
        """,
        "bpe_pair_counts": """
            WITH p AS (
                SELECT words[i] AS w1, words[i+1] AS w2
                FROM (SELECT string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 1, 0) + 1)) AS t(i)
            )
            SELECT w1, w2, COUNT(*) AS cnt
            FROM p GROUP BY w1, w2
            ORDER BY cnt DESC, w1 ASC, w2 ASC
            LIMIT 40
        """,
        "segment_dedup": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS words FROM documents
            ),
            seg AS (
                SELECT doc_id, i AS seg_idx,
                       array_to_string(words[(i*5+1):(i*5+5)], ' ') AS seg
                FROM w, UNNEST(range(0, (len(words) + 4) // 5)) AS t(i)
            ),
            r AS (
                SELECT doc_id, seg_idx, seg,
                       ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
                FROM seg
            )
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_segments,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   md5(COALESCE(
                       string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx),
                       ''
                   )) AS clean_fp
            FROM r GROUP BY doc_id
        """,
        "source_mixing": """
            WITH counts AS (
                SELECT source, COUNT(*) AS n FROM documents GROUP BY source
            ),
            t AS (
                SELECT source, n,
                       LEAST(n, CAST(FLOOR(SQRT(9.0 * n)) AS BIGINT)) AS target
                FROM counts
            ),
            ranked AS (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rn
                FROM documents
            ),
            kept AS (
                SELECT r.source, r.doc_id
                FROM ranked r JOIN t USING (source)
                WHERE r.rn <= t.target
            )
            SELECT t.source,
                   CAST(t.n AS BIGINT) AS n_input,
                   CAST(t.target AS BIGINT) AS n_target,
                   CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
                   CAST(COALESCE(SUM(k.doc_id), 0) AS BIGINT) AS kept_id_sum
            FROM t LEFT JOIN kept k USING (source)
            GROUP BY t.source, t.n, t.target
        """,
        "lm_novelty": """
            WITH g AS (
                SELECT doc_id, words[i] AS w1, words[i+1] AS w2
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 1, 0) + 1)) AS t(i)
            ),
            ref AS (SELECT DISTINCT w1, w2 FROM g WHERE doc_id % 37 = 0),
            sig AS (
                SELECT g.doc_id, COUNT(*) AS n_bigrams,
                       SUM(CASE WHEN r.w1 IS NULL THEN 1 ELSE 0 END) AS n_unseen
                FROM g LEFT JOIN ref r ON g.w1 = r.w1 AND g.w2 = r.w2
                GROUP BY g.doc_id
            )
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COALESCE(SUM(n_bigrams), 0) AS BIGINT) AS sum_bigrams,
                   CAST(COALESCE(SUM(n_unseen), 0) AS BIGINT) AS sum_unseen,
                   CAST(SUM(CASE WHEN COALESCE(n_unseen, 0) * 1000
                                      > 600 * COALESCE(n_bigrams, 0)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
            FROM documents d LEFT JOIN sig USING (doc_id)
            GROUP BY d.source
        """,
        "hll_distinct_words_per_source": """
            SELECT source,
                   COUNT(DISTINCT w) AS distinct_words,
                   TRUE AS hll_ok
            FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY source
        """,
        "hll_distinct_users_per_event_type": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS distinct_users,
                   TRUE AS hll_ok
            FROM events
            GROUP BY event_type
        """,
        "cms_word_freq": """
            SELECT word, freq, TRUE AS cms_ok
            FROM (
                SELECT w AS word, COUNT(*) AS freq
                FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                GROUP BY w
                ORDER BY freq DESC, word ASC
                LIMIT 50
            )
        """,
        "bloom_semijoin_building": """
            SELECT o_orderkey, o_custkey
            FROM orders
            WHERE o_custkey IN (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            )
        """,
        "tdigest_quantity_stats": """
            SELECT l_returnflag,
                   COUNT(*) AS n_rows,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   TRUE AS q50_ok
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "kll_event_value_quantiles": """
            SELECT event_type,
                   COUNT(*) AS n,
                   TRUE AS q50_ok,
                   TRUE AS q90_ok
            FROM events
            GROUP BY event_type
        """,
        "ddsketch_value_quantiles": """
            SELECT event_type,
                   COUNT(*) AS n,
                   TRUE AS q50_ok,
                   TRUE AS q95_ok
            FROM events
            GROUP BY event_type
        """,
        "topk_words_per_lang": """
            SELECT lang, word, cnt FROM (
                SELECT lang, word, cnt,
                       ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, word ASC) AS rn
                FROM (
                    SELECT lang, w AS word, COUNT(*) AS cnt
                    FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
                    GROUP BY lang, w
                )
            ) WHERE rn <= 10
        """,
        "reservoir_sample_size": """
            SELECT event_type,
                   LEAST(100, COUNT(*)) AS sample_size,
                   COUNT(*) AS seen
            FROM events
            GROUP BY event_type
        """,
        "dedup_exact_stats": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   COUNT(DISTINCT text) AS n_unique_texts,
                   COUNT(*) - COUNT(DISTINCT text) AS n_dup_docs
            FROM documents
            GROUP BY source
        """,
        "text_quality_stats": """
            SELECT source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS total_words,
                   CAST(SUM(n_stop) AS DOUBLE) / SUM(n_words) AS stopword_ratio,
                   CAST(SUM(n_words) AS DOUBLE) / COUNT(*) AS avg_words_per_doc
            FROM (
                SELECT source,
                       len(string_split(text, ' ')) AS n_words,
                       len(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS n_stop
                FROM documents
            )
            GROUP BY source
        """,
        "ngram_jaccard_neardup": """
            WITH sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 2, 0) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ic
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE ic * 2 >= sa.sz + sb.sz - ic
        """,
        "ann_cosine_topk": """
            SELECT query_id, rank, neighbor_id FROM (
                SELECT q.vec_id AS query_id,
                       e.vec_id AS neighbor_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])
                           ) DESC, e.vec_id ASC
                       ) AS rank
                FROM embeddings q, embeddings e
                WHERE q.vec_id < 5
            ) WHERE rank <= 10
        """,
        "cosine_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])
                  ) >= 0.45
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(text) AS fp FROM documents
        """,
        "token_count_regex": r"""
            SELECT source,
                   CAST(SUM(n) AS BIGINT) AS total_tokens,
                   CAST(MAX(n) AS BIGINT) AS max_tokens
            FROM (
                SELECT source,
                       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n
                FROM documents
            )
            GROUP BY source
        """,
        "minhash_lsh_neardup": """
            WITH sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 2, 0) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ic
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE ic * 2 >= sa.sz + sb.sz - ic
        """,
        "srp_neardup_recall": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])
                  ) >= 0.45
        """,
        "lossy_heavy_hitters": """
            WITH wc AS (
                SELECT w AS word, COUNT(*) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                GROUP BY w
            ),
            tot AS (SELECT SUM(cnt) AS n FROM wc)
            SELECT word, cnt, TRUE AS in_lossy, TRUE AS f_ok
            FROM wc, tot
            WHERE cnt * 50 >= n
        """,
        "spacesaving_heavy_hitters": """
            WITH wc AS (
                SELECT w AS word, COUNT(*) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                GROUP BY w
            ),
            tot AS (SELECT SUM(cnt) AS n FROM wc)
            SELECT word, cnt, TRUE AS in_ss, TRUE AS f_ok
            FROM wc, tot
            WHERE cnt * 50 >= n
        """,
        "countsketch_f2": """
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_words,
                   CAST(SUM(cnt * cnt) AS BIGINT) AS f2_exact,
                   TRUE AS f2_ok,
                   TRUE AS points_ok
            FROM (
                SELECT source, w AS word, COUNT(*) AS cnt
                FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w
                      FROM documents)
                GROUP BY source, w
            )
            GROUP BY source
        """,
        "topk_sketch_words": """
            SELECT word, cnt, TRUE AS in_topk, TRUE AS est_ok
            FROM (
                SELECT w AS word, COUNT(*) AS cnt
                FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
                GROUP BY w
                ORDER BY cnt DESC, word ASC
                LIMIT 5
            )
        """,
        "stratified_sample": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn <= 5
        """,
        "pii_scrub": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN i % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS total_emails,
                   CAST(SUM(CASE WHEN i % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS total_phones,
                   TRUE AS all_clean
            FROM range(400) t(i)
        """,
        "quality_rules": """
            WITH w AS (
                SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
                FROM documents
            ),
            sig AS (
                SELECT doc_id,
                       ANY_VALUE(source) AS source,
                       COUNT(*) AS n_words,
                       SUM(length(word)) AS word_chars,
                       SUM(CASE WHEN regexp_matches(word, '[A-Za-z]') THEN 1 ELSE 0 END)
                           AS n_alpha,
                       SUM(CASE WHEN word IN ('the','a','be','to','of','and','that',
                                              'have','with','in') THEN 1 ELSE 0 END)
                           AS n_stop
                FROM w GROUP BY doc_id
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN n_words >= 40 AND n_words <= 10000
                                  AND word_chars >= 4 * n_words
                                  AND word_chars <= 10 * n_words
                                  AND n_alpha * 100 >= 80 * n_words
                                  AND n_stop >= 2
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                   CAST(SUM(word_chars) AS BIGINT) AS total_word_chars,
                   CAST(SUM(n_stop) AS BIGINT) AS total_stopwords
            FROM sig GROUP BY source
        """,
        "decontamination": """
            WITH sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS g
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 2, 0) + 1)) AS t(i)
            ),
            bad AS (
                SELECT DISTINCT a.doc_id
                FROM sh a JOIN sh b ON a.g = b.g AND b.doc_id % 37 = 0
            )
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN bad.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_contaminated
            FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
            GROUP BY d.source
        """,
        "topk_resolved_strings": """
            SELECT 'hot' || CAST(i AS VARCHAR) AS word,
                   CAST(i + 1 AS BIGINT) AS rnk,
                   TRUE AS est_ok
            FROM range(10) t(i)
        """,
        "bloom_len_estimate": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS distinct_users,
                   TRUE AS len_ok
            FROM events
            GROUP BY event_type
        """,
        "tdigest_cdf_quantity": """
            SELECT l_returnflag,
                   COUNT(*) AS n_rows,
                   TRUE AS cdf10_ok,
                   TRUE AS cdf25_ok,
                   TRUE AS cdf40_ok
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "cuckoo_filter_ops": """
            SELECT CAST(n AS BIGINT) AS n_keys,
                   CAST(n AS BIGINT) AS len_after_insert,
                   CAST(0 AS BIGINT) AS fn_inserted,
                   CAST((n + 1) // 2 AS BIGINT) AS n_deleted,
                   TRUE AS deleted_all_present,
                   CAST(n // 2 AS BIGINT) AS len_after_delete,
                   CAST(0 AS BIGINT) AS fn_remaining
            FROM (
                SELECT LEAST(COUNT(DISTINCT c_custkey), 4096) AS n
                FROM customer WHERE c_mktsegment = 'BUILDING'
            )
        """,
        "quotient_filter_ops": """
            SELECT CAST(n AS BIGINT) AS n_keys,
                   CAST(n AS BIGINT) AS len_after_insert,
                   CAST(0 AS BIGINT) AS fn_count,
                   CAST(0 AS BIGINT) AS fp_count
            FROM (
                SELECT LEAST(COUNT(DISTINCT c_custkey), 4096) AS n
                FROM customer WHERE c_mktsegment = 'BUILDING'
            )
        """,
        "salted_skew_distinct_users": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS distinct_users,
                   COUNT(*) AS n_events
            FROM events
            GROUP BY event_type
        """,
        "streaming_state_equivalence": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS distinct_users,
                   TRUE AS stream_matches_batch,
                   TRUE AS hll_ok
            FROM events
            GROUP BY event_type
        """,
        "ivf_topk_recall": """
            SELECT CAST(5 * 10 AS BIGINT) AS n_exact, TRUE AS recall_ok
        """,
        "semantic_dedup_recall": """
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok
            FROM embeddings a, embeddings b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(
                      CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])
                  ) >= 0.9
        """,
        "pq_topk_recall": """
            SELECT CAST(5 * 10 AS BIGINT) AS n_exact, TRUE AS recall_ok
        """,
        "streaming_sessions": """
            WITH m AS (
                SELECT event_type, ts,
                       LAG(ts) OVER (PARTITION BY event_type ORDER BY ts) AS prev
                FROM events
            ),
            s AS (
                SELECT event_type, ts,
                       CASE WHEN prev IS NULL OR ts - prev > INTERVAL 1 HOUR
                            THEN 1 ELSE 0 END AS new_s
                FROM m
            ),
            sid AS (
                SELECT event_type, ts,
                       SUM(new_s) OVER (PARTITION BY event_type ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sess
                FROM s
            ),
            sess AS (
                SELECT event_type, sess, COUNT(*) AS n_events
                FROM sid GROUP BY event_type, sess
            )
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_sessions,
                   CAST(SUM(n_events) AS BIGINT) AS total_events,
                   CAST(MAX(n_events) AS BIGINT) AS max_session_events,
                   TRUE AS stream_ok,
                   TRUE AS hll_ok
            FROM sess GROUP BY event_type
        """,
        "windowed_stream_watermark": """
            SELECT CAST(FLOOR(EPOCH(ts) / 604800) * 604800 AS BIGINT) AS win_start,
                   event_type,
                   COUNT(DISTINCT user_id) AS exact_users,
                   COUNT(*) AS n_events,
                   TRUE AS stream_ok
            FROM events
            GROUP BY 1, 2
        """,
        "simhash_guarantee": """
            SELECT CAST(40 * 3 AS BIGINT) AS intra_pairs,
                   CAST(0 AS BIGINT) AS cross_pairs
        """,
        "winnow_guarantee": """
            SELECT CAST(199 AS BIGINT) AS adjacent_pairs,
                   CAST(0 AS BIGINT) AS nonadjacent_pairs,
                   CAST(200 AS BIGINT) AS docs_fingerprinted
        """,
        "lang_id_roundtrip": """
            SELECT 'lang' || CAST(i AS VARCHAR) AS lang,
                   CAST(100 AS BIGINT) AS n_docs,
                   CAST(100 AS BIGINT) AS n_correct
            FROM range(3) t(i)
        """,
        "media_pipeline": """
            SELECT kind,
                   COUNT(*) AS n_media,
                   COUNT(*) * 4 AS frames_kept,
                   TRUE AS features_ok
            FROM (
                SELECT CASE CAST(i % 3 AS INTEGER)
                       WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
                       END AS kind
                FROM range(300) t(i)
            )
            GROUP BY kind
        """,
        "media_decode": """
            WITH t AS (
                SELECT i,
                       CASE WHEN i % 7 = 3 THEN 'unknown'
                            WHEN i % 2 = 0 THEN 'bmp'
                            ELSE 'wav' END AS fmt
                FROM range(280) r(i)
            )
            SELECT fmt,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN fmt = 'unknown' THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_decoded,
                   TRUE AS checks_ok,
                   TRUE AS resample_ok
            FROM t GROUP BY fmt
        """,
        "rollup_merge_up": """
            SELECT source,
                   COUNT(DISTINCT w) AS distinct_words,
                   TRUE AS rollup_matches_direct
            FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY source
        """,
        "ctor_goldens": """
            SELECT * FROM (VALUES
                ('cms_eps0.01_delta0.1', CAST(272 AS BIGINT), CAST(3 AS BIGINT)),
                ('bloom_n1000_p0.1', CAST(4792 AS BIGINT), CAST(3 AS BIGINT)),
                ('cuckoo4_p0.02_n10000', CAST(16384 AS BIGINT), CAST(9 AS BIGINT)),
                ('quotient_q15_r4', CAST(32768 AS BIGINT), CAST(4 AS BIGINT)),
                ('hll_p14_accessors', CAST(16384 AS BIGINT), CAST(14 AS BIGINT)),
                ('hll_clear_lifecycle', CAST(1 AS BIGINT), CAST(1 AS BIGINT))
            ) AS t(structure, size_param, hash_param)
        """,
        "checkpoint_resume": """
            SELECT event_type,
                   COUNT(DISTINCT user_id) AS distinct_users,
                   TRUE AS resume_matches_direct,
                   TRUE AS hll_ok,
                   TRUE AS lineage_ok
            FROM events GROUP BY event_type
        """,
        "bloom_antijoin_blocklist": """
            SELECT l_returnflag,
                   COUNT(*) AS n_rows,
                   CAST(SUM(l_quantity) AS BIGINT) AS total_qty
            FROM lineitem l
            WHERE NOT EXISTS (
                SELECT 1 FROM part p
                WHERE p.p_size >= 26 AND p.p_partkey = l.l_partkey
            )
            GROUP BY l_returnflag
        """,
        "streaming_neardup": """
            WITH sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 2, 0) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ic
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            )
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE ic * 2 >= sa.sz + sb.sz - ic
        """,
        "sql_interface": """
            SELECT source,
                   COUNT(DISTINCT w) AS distinct_words,
                   TRUE AS hll_ok,
                   TRUE AS kmv_ok,
                   TRUE AS td_min_ok
            FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
            GROUP BY source
        """,
        "tdigest_weighted_price": """
            SELECT l_returnflag,
                   CAST(SUM(l_quantity) AS BIGINT) AS total_weight,
                   TRUE AS wq50_ok
            FROM lineitem GROUP BY l_returnflag
        """,
        "session_windows": """
            WITH m AS (
                SELECT user_id, ts,
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events
            ),
            s AS (
                SELECT user_id, ts,
                       CASE WHEN prev IS NULL OR ts - prev > INTERVAL 6 HOUR
                            THEN 1 ELSE 0 END AS new_s
                FROM m
            ),
            sid AS (
                SELECT user_id,
                       SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sess
                FROM s
            ),
            sess AS (
                SELECT user_id, sess, COUNT(*) AS n_events
                FROM sid GROUP BY user_id, sess
            )
            SELECT user_id,
                   COUNT(*) AS n_sessions,
                   CAST(MAX(n_events) AS BIGINT) AS max_session_events,
                   CAST(SUM(n_events) AS BIGINT) AS total_events,
                   TRUE AS kll_q50_ok,
                   TRUE AS kll_q90_ok
            FROM sess GROUP BY user_id
        """,
        "repetition_stats": """
            WITH g AS (
                SELECT doc_id, words[i] || ' ' || words[i+1] AS gram
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 1, 0) + 1)) AS t(i)
            ),
            pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
            pd AS (SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS max_c FROM pg GROUP BY doc_id)
            SELECT d.source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(max_c) AS BIGINT) AS sum_top_gram,
                   CAST(SUM(n_grams) AS BIGINT) AS sum_grams,
                   CAST(SUM(CASE WHEN max_c * 5 > n_grams THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_repetitive
            FROM documents d JOIN pd USING (doc_id)
            GROUP BY d.source
        """,
        "curation_pipeline": """
            WITH RECURSIVE d AS (
                SELECT doc_id, source, text, string_split(text, ' ') AS words
                FROM documents
            ),
            q AS (
                SELECT doc_id, source, text, words FROM d
                WHERE len(words) >= 40
                  AND 5 * len(list_filter(words, w -> w IN ('the', 'a'))) < len(words)
            ),
            ek AS (
                SELECT doc_id, source, words FROM (
                    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id
                    FROM q
                ) WHERE doc_id = min_id
            ),
            sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM ek, UNNEST(range(1, GREATEST(len(words) - 2, 0) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ic
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT doc_a, doc_b FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE ic * 2 >= sa.sz + sb.sz - ic
            ),
            sym AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION SELECT doc_b, doc_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE s.v <> r.u
            ),
            labels AS (
                SELECT u AS doc_id, LEAST(u, MIN(v)) AS cid FROM reach GROUP BY u
            ),
            fin AS (
                SELECT ek.doc_id, ek.source FROM ek
                LEFT JOIN labels USING (doc_id)
                WHERE labels.doc_id IS NULL OR ek.doc_id = labels.cid
            )
            SELECT i.source,
                   i.n_input,
                   COALESCE(qc.n_quality, 0) AS n_quality,
                   COALESCE(ec.n_exact, 0) AS n_exact,
                   COALESCE(fc.n_final, 0) AS n_final
            FROM (SELECT source, COUNT(*) AS n_input FROM d GROUP BY source) i
            LEFT JOIN (SELECT source, COUNT(*) AS n_quality FROM q GROUP BY source) qc USING (source)
            LEFT JOIN (SELECT source, COUNT(*) AS n_exact FROM ek GROUP BY source) ec USING (source)
            LEFT JOIN (SELECT source, COUNT(*) AS n_final FROM fin GROUP BY source) fc USING (source)
        """,
        "hll_set_algebra": """
            WITH sw AS (
                SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
                FROM documents
            )
            SELECT x.source AS source_a, y.source AS source_b,
                   COUNT(*) AS inter_words,
                   TRUE AS hll_inter_ok
            FROM sw x JOIN sw y ON x.w = y.w AND x.source < y.source
            GROUP BY x.source, y.source
        """,
        "kmv_source_overlap": """
            WITH sw AS (
                SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
                FROM documents
            ),
            cnt AS (SELECT source, COUNT(*) AS cnt FROM sw GROUP BY source),
            inter AS (
                SELECT x.source AS source_a, y.source AS source_b,
                       COUNT(*) AS inter_words
                FROM sw x JOIN sw y ON x.w = y.w AND x.source < y.source
                GROUP BY x.source, y.source
            )
            SELECT i.source_a, i.source_b, i.inter_words,
                   ca.cnt + cb.cnt - i.inter_words AS union_words,
                   TRUE AS kmv_jaccard_ok,
                   TRUE AS kmv_inter_ok,
                   TRUE AS kmv_diff_ab_ok,
                   TRUE AS kmv_diff_ba_ok
            FROM inter i
            JOIN cnt ca ON ca.source = i.source_a
            JOIN cnt cb ON cb.source = i.source_b
        """,
        "dup_clusters": """
            WITH RECURSIVE sh AS (
                SELECT DISTINCT doc_id,
                       words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
                FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
                     UNNEST(range(1, GREATEST(len(words) - 2, 0) + 1)) AS t(i)
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ic
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
                SELECT doc_a, doc_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE ic * 2 >= sa.sz + sb.sz - ic
            ),
            sym AS (
                SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION
                SELECT doc_b, doc_a FROM pairs
            ),
            reach(u, v) AS (
                SELECT u, v FROM sym
                UNION
                SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
                WHERE s.v <> r.u
            )
            SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
            FROM reach GROUP BY u
        """,
        # simhash_neardup runs on the planted closed-form corpus (see
        # q_simhash_neardup): n//6 byte-identical 3-doc clusters over
        # ids [0, 3k) -> exactly the intra-cluster pairs; singleton ids
        # (the contiguous block [3k, n) — offset derives from corpus
        # size, so no collision at any SF) contribute zero pairs
        "simhash_neardup": """
            WITH m AS (
                -- cluster-member ids [0, 3k): doc_id is contiguous
                -- 0..n-1 at every SF, so the table itself supplies the
                -- id domain (no fixed-size range() to outgrow)
                SELECT doc_id AS id FROM documents
                WHERE doc_id < 3 * (SELECT COUNT(*) // 6 FROM documents)
            )
            SELECT a.id AS doc_a, b.id AS doc_b
            FROM m a JOIN m b ON a.id // 3 = b.id // 3 AND a.id < b.id
        """,
    }
