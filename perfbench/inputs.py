"""Seeded, single-process input generator with an exact-answer manifest.

Everything a workload reads is derived from ``(seed, size)``:

- ``seq/part-NNNNN.parquet``: the ``sequences`` corpus, written through
  :func:`sketchlib.gen.ref_batch` over a seed-offset doc-id range (the
  same closed-form generator the library's own tests use, so the skewed
  60/20/10/10 source split and the u³ token skew carry over).
- ``nd/part-NNNNN.parquet``: the near-duplicate document stream
  ``(doc_id, words array<string>)``: word arrays cut from the same
  generator, plus planted near-duplicates ("echo" docs with a few words
  replaced) whose exact 3-shingle Jaccard values straddle 0.5.
- ``manifest.json`` + ``exact.npz``: exact answers computed from the
  generated arrays (never from sketchlib): per-source distinct-token
  counts and token frequencies, per-doc ``n_tok`` and source (for exact
  quantiles), per-doc words, and the planted pairs with their Jaccard.

Generated inputs are cached under ``<work>/inputs/<size>-<hash>-seed<seed>``;
the manifest is written last, so a half-written entry is regenerated.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sketchlib.gen import VOCAB, ref_batch

SOURCES = ("web", "books", "code", "wiki")
SHINGLE_N = 3  # neardup_stream_writer's default shingle size
MAX_CACHED = 12  # inputs kept on disk; older (seed, size) entries are evicted


@dataclass(frozen=True)
class Size:
    n_files: int  # corpus part files
    docs_per_file: int
    stream_files: int  # part files one stream_ingest pass ingests
    probes: int  # membership / point-query probe rows
    shards: int  # build_groups: groups = 4 sources x shards
    nd_files: int  # near-dup stream files (one trigger each)
    nd_docs_per_file: int  # original docs per near-dup file
    nd_max_words: int
    kernel_files: int  # corpus files the Spark-free microbenchmarks read


SIZES = {
    "bench": Size(
        n_files=48, docs_per_file=1000, stream_files=4, probes=400_000,
        shards=32, nd_files=2, nd_docs_per_file=160, nd_max_words=48,
        kernel_files=12,
    ),
    "tiny": Size(
        n_files=6, docs_per_file=60, stream_files=3, probes=20_000,
        shards=4, nd_files=2, nd_docs_per_file=24, nd_max_words=32,
        kernel_files=2,
    ),
}


def id_base(seed: int) -> int:
    """First corpus doc id for ``seed`` (distinct seeds, distinct docs)."""
    return (int(seed) % 1_000_003) * 1_000_000


def shingles(words) -> set:
    return {" ".join(words[j : j + SHINGLE_N]) for j in range(len(words) - SHINGLE_N + 1)}


def jaccard(a, b) -> float:
    sa, sb = shingles(a), shingles(b)
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


class Inputs:
    """A generated input set: paths plus the exact-answer manifest."""

    def __init__(self, root: str):
        self.root = root
        self.seq_dir = os.path.join(root, "seq")
        self.nd_dir = os.path.join(root, "nd")
        with open(os.path.join(root, "manifest.json")) as f:
            self.manifest = json.load(f)
        with np.load(os.path.join(root, "exact.npz")) as z:
            self.exact = {k: z[k] for k in z.files}
        self.size = Size(**self.manifest["size"])
        self.words = self.manifest["nd_words"]  # doc_id -> words
        self.planted = [tuple(p) for p in self.manifest["planted"]]  # (a, b, J)

    @property
    def write_s(self) -> float:
        return float(self.manifest["write_s"])

    def seq_files(self, n: int | None = None) -> list[str]:
        n = self.size.n_files if n is None else n
        return [os.path.join(self.seq_dir, f"part-{f:05d}.parquet") for f in range(n)]

    def nd_files(self) -> list[str]:
        return [
            os.path.join(self.nd_dir, f"part-{f:05d}.parquet")
            for f in range(self.size.nd_files)
        ]

    def token_freq(self, first_files: int | None = None) -> np.ndarray:
        """(4, VOCAB) exact token counts per source, over every corpus
        file or over the first ``stream_files`` (the stream subset)."""
        if first_files is None or first_files == self.size.n_files:
            return self.exact["freq"]
        if first_files == self.size.stream_files:
            return self.exact["stream_freq"]
        raise ValueError(f"no exact frequencies for the first {first_files} files")

    def n_tok_by_source(self, first_files: int | None = None) -> dict:
        """source -> sorted exact n_tok values (over the first files)."""
        keep = np.ones(len(self.exact["n_tok"]), dtype=bool)
        if first_files is not None:
            keep = self.exact["file_idx"] < first_files
        out = {}
        for si, s in enumerate(SOURCES):
            sel = keep & (self.exact["src"] == si)
            out[s] = np.sort(self.exact["n_tok"][sel])
        return out

    def check_rows(self, file_index: int = 0) -> bool:
        """Per-row token-array equality of a written part file against
        ``ref_batch`` (the north rule's per-row invariant)."""
        per = self.size.docs_per_file
        first = self.manifest["id_base"] + file_index * per
        want = ref_batch(np.arange(first, first + per, dtype=np.int64))
        got = pq.read_table(self.seq_files()[file_index])
        return all(
            got.column(c).combine_chunks().equals(want.column(c))
            for c in ("doc_id", "tokens", "n_tok", "source")
        )


def _gen_seq(size: Size, base: int, seq_dir: str):
    os.makedirs(seq_dir)
    per = size.docs_per_file
    freq = np.zeros((len(SOURCES), VOCAB), dtype=np.int64)
    stream_freq = np.zeros_like(freq)
    n_tok, src, file_idx = [], [], []
    src_index = {s: i for i, s in enumerate(SOURCES)}
    for f in range(size.n_files):
        ids = np.arange(base + f * per, base + (f + 1) * per, dtype=np.int64)
        batch = ref_batch(ids)
        pq.write_table(
            pa.Table.from_batches([batch]),
            os.path.join(seq_dir, f"part-{f:05d}.parquet"),
        )
        lengths = batch.column("n_tok").to_numpy()
        s_doc = np.array([src_index[s] for s in batch.column("source").to_pylist()])
        toks = batch.column("tokens").flatten().to_numpy()
        s_tok = np.repeat(s_doc, lengths)
        file_freq = np.bincount(
            s_tok * VOCAB + toks, minlength=len(SOURCES) * VOCAB
        ).reshape(len(SOURCES), VOCAB)
        freq += file_freq
        if f < size.stream_files:
            stream_freq += file_freq
        n_tok.append(lengths)
        src.append(s_doc)
        file_idx.append(np.full(per, f, dtype=np.int32))
    return freq, stream_freq, np.concatenate(n_tok), np.concatenate(src), np.concatenate(file_idx)


def _gen_neardup(size: Size, base: int, seed: int, nd_dir: str):
    """Near-dup stream: file f holds its own originals plus echoes of
    originals from file f (same trigger) and file f-1 (cross-trigger)."""
    os.makedirs(nd_dir)
    rng = np.random.default_rng([int(seed), 0x4E44])
    per = size.nd_docs_per_file
    words: dict = {}
    planted = []
    originals: list[list[str]] = [[] for _ in range(size.nd_files)]
    nd_base = base + 500_000
    for f in range(size.nd_files):
        ids = np.arange(nd_base + f * per, nd_base + (f + 1) * per, dtype=np.int64)
        batch = ref_batch(ids)
        toks = batch.column("tokens").to_pylist()
        for doc_id, t in zip(batch.column("doc_id").to_pylist(), toks):
            words[doc_id] = [f"w{x}" for x in t[: size.nd_max_words]]
            originals[f].append(doc_id)
    files = [list(o) for o in originals]
    for f in range(size.nd_files):
        for k, doc_id in enumerate(originals[f]):
            if k % 3:
                continue  # every third original gets an echo
            w = list(words[doc_id])
            # 1..len/5 replaced positions: exact Jaccard spans ~0.25-0.95
            n_rep = int(rng.integers(1, max(2, len(w) // 5) + 1))
            for j, pos in enumerate(rng.choice(len(w), size=n_rep, replace=False)):
                w[pos] = f"x{doc_id}-{j}"
            echo = f"{doc_id}-echo"
            words[echo] = w
            target = f + 1 if (k // 3) % 2 and f + 1 < size.nd_files else f
            files[target].append(echo)
            planted.append((doc_id, echo, jaccard(words[doc_id], w)))
    for f, ids in enumerate(files):
        order = rng.permutation(len(ids))
        ids = [ids[i] for i in order]
        pq.write_table(
            pa.table(
                {"doc_id": pa.array(ids, pa.string()),
                 "words": pa.array([words[i] for i in ids], pa.list_(pa.string()))}
            ),
            os.path.join(nd_dir, f"part-{f:05d}.parquet"),
        )
    return words, planted


def _evict(cache_dir: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, e) for e in os.listdir(cache_dir)
        if os.path.join(cache_dir, e) != keep
    ]
    entries.sort(key=os.path.getmtime)
    for e in entries[: max(0, len(entries) - (MAX_CACHED - 1))]:
        shutil.rmtree(e, ignore_errors=True)


def get_inputs(work_dir: str, seed: int, size_name: str) -> tuple[Inputs, bool]:
    """Generate (or reuse) the inputs for ``(seed, size_name)``.
    Returns the input set and whether it was generated by this call."""
    size = SIZES[size_name]
    cache_dir = os.path.join(work_dir, "inputs")
    # the key covers every size field, so a resized input never reuses a cache
    key = hashlib.sha1(json.dumps(size.__dict__, sort_keys=True).encode()).hexdigest()[:10]
    root = os.path.join(cache_dir, f"{size_name}-{key}-seed{int(seed)}")
    if os.path.exists(os.path.join(root, "manifest.json")):
        os.utime(root)
        return Inputs(root), False
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    t0 = time.perf_counter()
    base = id_base(seed)
    freq, stream_freq, n_tok, src, file_idx = _gen_seq(size, base, os.path.join(root, "seq"))
    words, planted = _gen_neardup(size, base, seed, os.path.join(root, "nd"))
    np.savez(
        os.path.join(root, "exact.npz"),
        freq=freq, stream_freq=stream_freq, n_tok=n_tok, src=src, file_idx=file_idx,
    )
    manifest = {
        "seed": int(seed),
        "size_name": size_name,
        "size": size.__dict__,
        "id_base": base,
        "distinct": {s: int((freq[i] > 0).sum()) for i, s in enumerate(SOURCES)},
        "tokens": {s: int(freq[i].sum()) for i, s in enumerate(SOURCES)},
        "nd_words": words,
        "planted": planted,
        "write_s": time.perf_counter() - t0,
    }
    with open(os.path.join(root, "manifest.json.tmp"), "w") as f:
        json.dump(manifest, f)
    os.replace(os.path.join(root, "manifest.json.tmp"), os.path.join(root, "manifest.json"))
    _evict(cache_dir, root)
    return Inputs(root), True
