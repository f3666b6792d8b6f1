"""Seeded input generator for the benchmark.

Writes ``documents.parquet`` and ``embeddings.parquet`` in the schema of the
registry's testbed tables (``sources.readers.load_table`` reads them), so the
queries run unchanged against a generated directory.

The shape follows the testbed: documents draw 10-100 tokens from a 30-word
vocabulary, ``lang`` is skewed toward ``en``, and a fixed 5% of documents
are near-duplicates (an earlier document's text plus ``" dup"``). ``source``
runs in blocks of consecutive ids: a fixed quarter of the neighbours
(i, i+1) and half of the pairs (i, i+2) change source. p1 labels its train
pairs (i, i+1) and its test pairs (i, i+2) by same source, so both labels
occur in fixed shares whatever the seed. Embeddings are 64-d unit vectors with a
weak 10-label cluster structure. The ``copies`` form replicates every row
with offset ids, as the repository's 10x stress replica does: each document
copy gains a ``" repl{k}"`` token, each vector copy is identical, so every
near-duplicate cluster grows ``copies``-fold.

The seed changes the text, the vectors, which documents are near-duplicates,
where the source blocks break and the row order in the files. Row counts, the duplicate share and the
replication factor do not depend on it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
MARKER = "_PERFBENCH_INPUTS.json"
ID_OFFSET = 10_000_000  # per-copy id offset, the stress replica's value

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DUP_SHARE = 0.05
SOURCE_BREAK_SHARE = 0.25  # share of neighbours (i, i+1) whose source differs
EMB_DIM = 64
EMB_LABELS = 10


def _sources(rng: np.random.Generator, n: int) -> list[str]:
    """Source per id 0..n-1: blocks of at least two consecutive ids, with
    exactly ``n * SOURCE_BREAK_SHARE`` breaks at seeded places in 2..n-2.

    A break at b means ids b-1 and b differ. Two breaks are never adjacent,
    so each one splits exactly two of the pairs (i, i+2), and neighbouring
    blocks always get different sources."""
    k = int(n * SOURCE_BREAK_SHARE)
    # Stars and bars: k sorted draws from n-2-k slots, the j-th shifted by j,
    # gives k breaks in 2..n-2 at least two apart.
    slots = np.sort(rng.choice(n - 2 - k, size=k, replace=False))
    breaks = np.zeros(n, dtype=np.int64)
    breaks[2 + slots + np.arange(k)] = 1
    return [f"src{b % N_SOURCES}" for b in np.cumsum(breaks)]


def _documents(rng: np.random.Generator, n: int, copies: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    # A fixed number of near-duplicates, each copying an earlier document.
    for i in np.sort(rng.choice(np.arange(1, n), size=int(n * DUP_SHARE), replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    sources = _sources(rng, n)
    ids = np.arange(n, dtype=np.int64)
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for k in range(copies):
        suffix = f" repl{k}" if copies > 1 else ""
        cols["doc_id"].extend((ids + k * ID_OFFSET).tolist())
        cols["text"].extend(t + suffix for t in texts)
        cols["lang"].extend(langs.tolist())
        cols["source"].extend(sources)
    cols["n_chars"] = [len(t) for t in cols["text"]]
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, copies: int) -> pa.Table:
    centers = rng.standard_normal((EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, size=n)
    vecs = rng.standard_normal((n, EMB_DIM)) + 0.35 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ids = np.concatenate([np.arange(n, dtype=np.int64) + k * ID_OFFSET for k in range(copies)])
    flat = np.tile(vecs, (copies, 1)).reshape(-1)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat, pa.float32()), EMB_DIM)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(np.tile(labels, copies).astype(np.int32), pa.int32()),
        }
    )


def _shuffled(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _fingerprint() -> str:
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def spec_marker(seed: int, spec: dict) -> dict:
    """What a generated directory must have been built from to be reused."""
    return {
        "generator_version": GENERATOR_VERSION,
        "generator_sha": _fingerprint(),
        "seed": seed,
        "spec": spec,
    }


def ensure_inputs(out_dir: str, seed: int, spec: dict) -> tuple[dict, float]:
    """Build (or reuse) the inputs of ``spec`` for ``seed`` in ``out_dir``.

    ``spec`` holds ``docs``/``doc_copies`` and ``vecs``/``vec_copies``.
    Returns (row counts per table, generation seconds; 0.0 on reuse). The
    marker records the seed, the spec and a hash of this file, so inputs
    from another seed or an older generator are rebuilt, never reused.
    """
    want = spec_marker(seed, spec)
    marker = os.path.join(out_dir, MARKER)
    if os.path.exists(marker):
        with open(marker) as fh:
            have = json.load(fh)
        if have.get("build") == want:
            return have["rows"], 0.0
    t0 = time.perf_counter()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, spec["docs"], spec["doc_copies"]),
        "embeddings": _embeddings(rng, spec["vecs"], spec["vec_copies"]),
    }
    rows = {}
    for name, table in tables.items():
        if table.num_rows == 0:
            continue
        pq.write_table(_shuffled(rng, table), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    with open(marker, "w") as fh:
        json.dump({"build": want, "rows": rows}, fh)
    return rows, time.perf_counter() - t0
