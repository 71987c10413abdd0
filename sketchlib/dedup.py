"""Near-duplicate detection: MinHash + LSH banding with exact verify.

Scale shape (the 100 TB path):
1. shingle + hash JVM-side (``transform`` + ``xxhash64`` — no strings
   ever reach Python),
2. one vectorized Arrow pass turns each doc's shingle-hash array into an
   ``n_hashes`` MinHash signature and ``bands`` band keys (numpy
   ``minimum.reduceat`` over the flattened batch — no per-row Python),
3. the only shuffles move (doc_id, band_key) rows and the candidate
   pairs — never the documents,
4. candidates are *exactly* verified (Jaccard over the shingle-hash
   arrays), so false-positive buckets cost time, never correctness; a
   missed pair is bounded by the standard LSH recall
   ``1 - (1 - J^r)^b``.

MinHash/LSH are public constructions (Broder; Leskovec-Rajaraman-Ullman
ch. 3); not part of the reference, added per the training-data-pipeline
requirement.

Cache lifecycle: the pair-finding functions persist small intermediates
(shingle arrays, signature rows) because the lazy result plan consumes
them several times; the functions cannot unpersist (the caller hasn't
materialized yet). One-shot jobs are unaffected. Every such persist is
registered with :mod:`sketchlib.caches`; a long-lived session looping
over MANY dedup calls should materialize + call
``sketchlib.caches.release_caches()`` between iterations (deterministic,
touches only the library's own caches), or write the intermediate stage
out explicitly (the recommended shape at full scale anyway — see
SCALE.md).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from . import caches
from .hashing import splitmix64

DEFAULT_SEED = 0x5EEDC0DE


def shingle_col(words_col: str, n: int = 3):
    """``array<string>`` of word n-grams (joined with spaces), built with
    JVM expressions only.

    Shape matters: Spark does NOT common-subexpression-eliminate
    across higher-order-function lambda boundaries, so the previous
    ``transform(..., lambda w, i: element_at(words_col, i+j))`` form
    re-evaluated the whole ``words_col`` expression (typically
    ``split(text)``) for every element_at call — 3·L evaluations per
    doc, measured 7× slower on the sf0.1 documents table (4.2 s vs
    0.6 s). This form references ``words_col`` only ``n+1`` times, all
    OUTSIDE lambdas: n index-shifted slices zipped pairwise with
    ``concat_ws`` (identical strings for non-null elements; ``split``
    never yields nulls)."""
    size_expr = F.greatest(F.size(words_col) - F.lit(n - 1), F.lit(0))
    parts = [F.slice(words_col, j + 1, size_expr) for j in range(n)]
    out = parts[0]
    for p in parts[1:]:
        out = F.zip_with(out, p, lambda a, b: F.concat_ws(" ", a, b))
    return out



def shingle_hash_frame(
    df: DataFrame, id_col: str, words_col: str, shingle_n: int = 3
) -> DataFrame:
    """(doc_id, sh): sorted-distinct xxhash64 shingle-hash array per
    doc, empty docs dropped — the shared exact-Jaccard substrate for
    the batch and streaming near-dup paths."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(
            F.array_distinct(
                F.transform(shingle_col(words_col, shingle_n), lambda x: F.xxhash64(x))
            )
        ).alias("sh"),
    ).filter(F.size("sh") > 0)


def jaccard_verify(
    cands: DataFrame, shingles: DataFrame, threshold: float
) -> DataFrame:
    """Exactly verify candidate (doc_a, doc_b) pairs against the
    shingle frame: |A ∩ B| >= threshold * |A ∪ B| on the sorted hash
    arrays. Shared by the batch and streaming paths so the predicate
    can never silently diverge."""
    sa = shingles.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = shingles.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(inter >= F.lit(threshold) * union)
        .select("doc_a", "doc_b")
    )


def _signature_fn(n_hashes: int, bands: int, seed: int, emit_fp: bool = False):
    rows_per_band = n_hashes // bands
    seeds = splitmix64(np.arange(n_hashes, dtype=np.uint64) + np.uint64(seed))

    def fn(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            harr = batch.column("sh")
            lengths = harr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            flat = harr.flatten().to_numpy(zero_copy_only=False).astype(np.uint64)
            keep = lengths > 0
            if not keep.any():
                continue
            starts = (np.cumsum(lengths) - lengths)[keep]
            n_docs = int(keep.sum())
            if emit_fp:
                # exact-duplicate fingerprint of the sorted-distinct
                # shingle-hash SET, fused into the same Arrow pass so
                # rep-collapse never touches the (large) arrays again:
                # wrap-sum + xor + size, each mixed — order-invariant by
                # construction, collision odds ~2^-64 per pair
                with np.errstate(over="ignore"):
                    fp_sum = np.add.reduceat(flat, starts)
                    fp_xor = np.bitwise_xor.reduceat(flat, starts)
                    fp = splitmix64(
                        fp_sum ^ splitmix64(fp_xor ^ lengths[keep].astype(np.uint64))
                    )
            sig = np.empty((n_docs, n_hashes), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for i in range(n_hashes):
                    mixed = splitmix64(flat ^ seeds[i])
                    sig[:, i] = np.minimum.reduceat(mixed, starts)
            # band key = hash of the band's signature slice
            bkeys = np.empty((n_docs, bands), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for b in range(bands):
                    sl = sig[:, b * rows_per_band : (b + 1) * rows_per_band]
                    acc = np.full(n_docs, np.uint64(b) + np.uint64(0x9E3779B9), dtype=np.uint64)
                    for r in range(rows_per_band):
                        acc = splitmix64(acc ^ sl[:, r])
                    bkeys[:, b] = acc
            kept_ids = pa.array(np.asarray(ids)[keep])
            offsets = pa.array(np.arange(0, (n_docs + 1) * bands, bands, dtype=np.int32))
            band_list = pa.ListArray.from_arrays(
                offsets, pa.array(bkeys.reshape(-1).astype(np.int64).view(np.int64))
            )
            if emit_fp:
                yield pa.RecordBatch.from_arrays(
                    [kept_ids, pa.array(fp.view(np.int64)), band_list],
                    names=["doc_id", "fp", "band_keys"],
                )
            else:
                yield pa.RecordBatch.from_arrays(
                    [kept_ids, band_list], names=["doc_id", "band_keys"]
                )

    return fn


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    words_col: str,
    shingle_n: int = 3,
    n_hashes: int = 64,
    bands: int = 32,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """(id, band_keys array<long>[bands]) per doc with >=1 shingle."""
    if n_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide n_hashes ({n_hashes})")
    id_type = df.schema[id_col].dataType
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            F.array_distinct(shingle_col(words_col, shingle_n)), lambda x: F.xxhash64(x)
        ).alias("sh"),
    )
    out_schema = StructType(
        [
            StructField("doc_id", id_type, False),
            StructField("band_keys", ArrayType(LongType()), False),
        ]
    )
    return hashed.mapInArrow(_signature_fn(n_hashes, bands, seed), out_schema)


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    words_col: str,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """(doc_id, sig long): Charikar 64-bit SimHash over word hashes —
    bit b of the signature is the sign of the sum of ±1 votes from each
    word occurrence's hash bit b. One vectorized pass per Arrow batch
    (64 shift/reduceat passes over the flattened batch; no per-row
    Python)."""
    id_type = df.schema[id_col].dataType
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.col(words_col), lambda x: F.xxhash64(x, F.lit(seed))).alias("h"),
    )
    out_schema = StructType(
        [StructField("doc_id", id_type, False), StructField("sig", LongType(), False)]
    )

    def fn(batches):
        for batch in batches:
            harr = batch.column("h")
            lengths = harr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
            keep = lengths > 0
            if not keep.any():
                continue
            flat = harr.flatten().to_numpy(zero_copy_only=False).astype(np.uint64)
            starts = (np.cumsum(lengths) - lengths)[keep]
            n_docs = int(keep.sum())
            sig = np.zeros(n_docs, dtype=np.uint64)
            kept_len = lengths[keep]
            for b in range(64):
                ones = ((flat >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                votes = 2 * np.add.reduceat(ones, starts) - kept_len  # (+1/-1 sum)
                sig |= (votes > 0).astype(np.uint64) << np.uint64(b)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(batch.column("doc_id"))[keep]),
                    pa.array(sig.view(np.int64)),
                ],
                names=["doc_id", "sig"],
            )

    return hashed.mapInArrow(fn, out_schema)


def _cap_bucket_keys(exploded: DataFrame, cap: int) -> DataFrame:
    """Drop (band, key) buckets with more than ``cap`` members — the
    LSH hot-bucket guard. Without it a degenerate key (a cluster of
    near-identical docs that survived exact-dup removal) makes the
    band self-join O(bucket²); at 100 TB a 10⁶-doc cluster is 10¹²
    candidate pairs. Exact duplicates never reach here (they are
    collapsed to one representative first), so dropped keys are logged
    data loss of *near*-dup recall only, bounded and inspectable via
    :func:`lsh_bucket_stats`."""
    if cap is None:
        return exploded
    hot = (
        exploded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > cap)
        .select("band", "key")
    )
    return exploded.join(F.broadcast(hot), ["band", "key"], "left_anti")


def lsh_bucket_stats(exploded: DataFrame, cap: int) -> DataFrame:
    """(n_keys, n_hot_keys, max_bucket): audit how much `cap` drops."""
    return exploded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum((F.col("n") > cap).cast("long")).alias("n_hot_keys"),
        F.max("n").alias("max_bucket"),
    )


def _expand_rep_pairs(rep_pairs: DataFrame, members: DataFrame) -> DataFrame:
    """Expand representative-level near-dup pairs back to all docs.

    ``members``: (doc_id, fp, rep). Exact duplicates share a
    fingerprint, hence a representative, hence *exactly* the rep's
    similarity to everything else — so the expansion is exact, and the
    quadratic cost lives only in the true answer's own size, never in
    LSH candidate generation."""
    la = members.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma"))
    lb = members.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb"))
    cross = (
        rep_pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            F.least("ma", "mb").alias("doc_a"), F.greatest("ma", "mb").alias("doc_b")
        )
    )
    m1 = members.select("fp", F.col("doc_id").alias("doc_a"))
    m2 = members.select("fp", F.col("doc_id").alias("doc_b"))
    intra = (
        m1.join(m2, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    # disjoint by construction: intra pairs share fp, cross pairs don't
    return cross.unionByName(intra)


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    words_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    seed: int = DEFAULT_SEED,
    bucket_cap: int | None = 4096,
    expand_exact_dups: bool = True,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance <= max_hamming.

    Scale hardening: exact duplicates (identical word arrays,
    fingerprint = xxhash64(words)) are collapsed to one representative
    BEFORE banding, and (band, key) buckets above ``bucket_cap`` are
    dropped — see :func:`_cap_bucket_keys`. Candidates via band
    blocking (pigeonhole: distance <= bands-1 guarantees some band
    matches exactly, so rep-level recall is 1.0 whenever
    ``max_hamming < bands`` and no bucket overflows the cap); exact
    hamming verify on candidates; rep pairs expand exactly back to all
    duplicates (identical words ⇒ identical signature)."""
    if 64 % bands:
        raise ValueError(f"bands ({bands}) must divide 64")
    width = 64 // bands
    mask = (1 << width) - 1
    from pyspark import StorageLevel

    docs = df.select(F.col(id_col).alias("doc_id"), F.col(words_col).alias("__w")).filter(
        F.size("__w") > 0
    )
    fps = docs.select("doc_id", F.xxhash64("__w", F.lit(seed)).alias("fp"))
    reps = fps.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    members = fps.join(reps, "fp").select("doc_id", "fp", "rep")
    rep_docs = docs.join(
        members.filter(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id"
    )
    # the 64-pass bit-vote signature feeds the self-join (2 sides) and
    # the cap's count — persist to avoid recomputation per consumer
    sig = caches.register(
        simhash_signatures(rep_docs, "doc_id", "__w", seed).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
        owner="dedup.simhash",
    )
    parts = sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("sig"), b * width).bitwiseAND(F.lit(mask))
                for b in range(bands)
            ])
        ).alias("band", "key"),
    )
    parts = _cap_bucket_keys(parts, bucket_cap)
    x, y = parts.alias("x"), parts.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.sig").alias("sig_a"),
            F.col("y.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    rep_pairs = cands.filter(hamming <= max_hamming).select("doc_a", "doc_b")
    if not expand_exact_dups:
        return rep_pairs
    return _expand_rep_pairs(rep_pairs, members)


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    words_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    n_hashes: int = 64,
    bands: int = 32,
    seed: int = DEFAULT_SEED,
    bucket_cap: int | None = 4096,
    expand_exact_dups: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b) with exact shingle-Jaccard
    >= threshold, found via LSH candidate buckets.

    Scale hardening (the two 100 TB failure modes):
    1. exact duplicates (identical shingle-hash SET, fingerprint =
       xxhash64(sorted distinct hashes)) collapse to one representative
       before banding — a 10⁶-doc identical cluster contributes ONE row
       per band instead of 10¹² candidate pairs; rep-level pairs expand
       exactly afterwards (same shingle set ⇒ same Jaccard to
       everything).
    2. surviving (band, key) buckets above ``bucket_cap`` are dropped
       (:func:`_cap_bucket_keys`), bounding any self-join to
       O(cap²) per key; audit with :func:`lsh_bucket_stats`.

    Candidates are exactly verified, so precision is 1.0; recall is the
    LSH ``1 - (1 - J^r)^b`` at rep level (r=2, b=32 here ⇒ >0.9999 at
    J=0.5).
    """
    from pyspark import StorageLevel

    if n_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide n_hashes ({n_hashes})")
    shingles = shingle_hash_frame(df, id_col, words_col, shingle_n)
    # the shingle arrays feed two consumers (the fused fp+signature
    # Arrow pass, the exact verify) — without a persist Catalyst
    # re-derives this most-expensive expression chain once per consumer
    # per action (measured 20x+ recompute). Spills to disk if it
    # outgrows memory; at full scale you would write this stage out
    # explicitly instead.
    shingles = caches.register(
        shingles.persist(StorageLevel.MEMORY_AND_DISK), owner="dedup.minhash"
    )
    # ONE Arrow pass computes the exact-dup fingerprint AND the minhash
    # band keys for every doc; rep-collapse then filters on these small
    # rows. (The previous shape joined the full shingle ARRAYS against
    # the member table to pick reps before signing — at corpus scale
    # that shuffles every array; signature rows are ~0.5 KB.)
    sigs = shingles.mapInArrow(
        _signature_fn(n_hashes, bands, seed, emit_fp=True),
        StructType(
            [
                StructField("doc_id", df.schema[id_col].dataType, False),
                StructField("fp", LongType(), False),
                StructField("band_keys", ArrayType(LongType()), False),
            ]
        ),
    )
    sigs = caches.register(
        sigs.persist(StorageLevel.MEMORY_AND_DISK), owner="dedup.minhash"
    )
    reps = sigs.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    members = sigs.select("doc_id", "fp").join(reps, "fp").select("doc_id", "fp", "rep")
    rep_keys = sigs.join(reps.select(F.col("rep").alias("doc_id")), "doc_id").select(
        "doc_id", "band_keys"
    )
    exploded = rep_keys.select("doc_id", F.posexplode("band_keys").alias("band", "key"))
    exploded = caches.register(
        _cap_bucket_keys(exploded, bucket_cap).persist(StorageLevel.MEMORY_AND_DISK),
        owner="dedup.minhash",
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    rep_pairs = jaccard_verify(cands, shingles, threshold)
    if not expand_exact_dups:
        return rep_pairs
    return _expand_rep_pairs(rep_pairs, members)


# ---------------------------------------------------------------------------
# Duplicate clustering — connected components over near-dup pair output
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) labels for the undirected graph in ``edges``,
    where ``component`` is the minimum node id in each connected
    component. This is the step that turns pairwise near-dup output
    (minhash/simhash/SRP pairs) into duplicate CLUSTERS so a pipeline
    can keep one representative per cluster.

    Alternating Large-Star / Small-Star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round is two
    groupBy+join passes over the edge list, and the edge set provably
    converges to a star forest in O(log^2 n) rounds (observed 2-4 on
    dedup graphs, whose components are near-cliques). Everything stays
    distributed — per round the driver sees only a (count, hash-sum)
    convergence fingerprint. Lineage is truncated each round: with
    ``checkpoint_dir`` set, via RELIABLE ``checkpoint()`` to that
    directory (survives executor loss — use this on a real cluster);
    otherwise via ``localCheckpoint`` (executor-local blocks, fine for
    single-node/dev).

    Nodes with no edges don't appear in the output (joining singletons
    back is the caller's one-liner, see ``drop_near_duplicates``).
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint() if checkpoint_dir is not None else df.localCheckpoint()

    e = _ckpt(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # materialize the input ONCE: round 1 reads the edge list four
        # times (union of both directions, then two consumers of sym) —
        # without this the upstream pair computation (often an expensive
        # near-dup join) re-runs per consumer
    )

    def edge_digest(df: DataFrame):
        lo, hi = F.least("a", "b"), F.greatest("a", "b")
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact and overflow-proof under ANSI mode
            F.sum(F.xxhash64(lo, hi).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = None
    for _ in range(max_iter):
        # Large-Star: every node u connects its strictly-larger
        # neighbors to m(u) = min(Γ(u) ∪ {u}).
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least("a", "mn").alias("m"))
        )
        e = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # Small-Star: every node u connects its smaller neighbors and
        # itself to the min of those neighbors.
        down = e.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        mins = down.groupBy("a").agg(F.min("b").alias("m"))
        stars = down.join(mins, "a")
        e = _ckpt(
            stars.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        cur = edge_digest(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    # converged: e is a star forest (child -> component min); roots
    # label themselves
    return (
        e.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .union(e.select(F.col("b").alias("node"), F.col("b").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Keep one representative (the min id) per duplicate cluster:
    ``docs`` minus every non-representative member of each connected
    component of ``pairs``. Singletons (no near-dup edge) pass through
    untouched. The anti-join side holds only cluster members — tiny
    next to the corpus — so Spark broadcasts it when it fits.
    ``checkpoint_dir``: reliable-checkpoint directory for the CC loop
    (see :func:`connected_components`)."""
    cc = connected_components(pairs, src, dst, checkpoint_dir=checkpoint_dir)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# ------------------------------------------------- segment-level dedup


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    words_col: str = "words",
    seg_words: int = 5,
) -> DataFrame:
    """C4-style segment-level exact deduplication (Raffel et al., JMLR
    2020 §2.2 dedup three-sentence spans; applied here to fixed
    ``seg_words``-word segments because the corpus has no sentence
    delimiters).

    Splits each doc into non-overlapping ``seg_words``-word segments,
    keeps only the globally FIRST occurrence of each distinct segment
    text (ordered by (id, position) — deterministic in any engine),
    and reassembles each doc from its surviving segments in order.

    Returns ``(id, n_segments, n_kept, clean_text)`` — one row per
    input doc; a doc whose every segment was seen earlier comes back
    with ``n_kept = 0`` and an empty ``clean_text``.

    Scale shape: the only wide ops are one shuffle on the segment text
    (the first-occurrence window; at 100 TB hash the segment to a
    64-bit key first and group on that) and one groupBy(id) to
    reassemble. Documents never move whole — only (id, seg_idx,
    segment) rows.
    """
    seq = F.col(words_col)
    n_segs = F.ceil(F.size(seq) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.struct(
            i.alias("seg_idx"),
            F.array_join(
                F.slice(seq, i * seg_words + 1, seg_words), " "
            ).alias("seg"),
        ),
    )
    exploded = docs.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(F.when(F.size(seq) > 0, segs)).alias("s"),
    ).select("__id", "s.seg_idx", "s.seg")

    from pyspark.sql import Window

    w = Window.partitionBy("seg").orderBy("__id", "seg_idx")
    ranked = exploded.withColumn(
        "__keep", F.row_number().over(w) == 1
    )
    return (
        ranked.groupBy("__id")
        .agg(
            F.sum(F.when(F.col("seg").isNotNull(), 1).otherwise(0)).alias("n_segments"),
            F.sum(F.when(F.col("__keep") & F.col("seg").isNotNull(), 1).otherwise(0)).alias(
                "n_kept"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep") & F.col("seg").isNotNull(),
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("__id").alias(id_col), "n_segments", "n_kept", "clean_text")
    )
