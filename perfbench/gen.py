"""Seeded input generation for the benchmark workloads.

Everything here is pure Python/numpy/pyarrow (no Spark): one seed gives
byte-identical inputs, another seed gives different ones. The corpus
generator reproduces the distribution of the engine's sf0.1
``documents``/``embeddings`` fixtures (30-word vocabulary, 10-99 words per
document, ``src{doc_id % 20}`` sources, ~41 % English, 5 % near-duplicates
that copy an earlier document and append `` dup``, a few exact copies,
unit-norm 64-d float32 vectors with labels 0-9), at a size chosen by the
workload. The seed mutates the text and shuffles the stored row order.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002
EMB_DIM = 64

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
ARRIVAL_SCHEMA = pa.schema([("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())])
EMB_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def corpus_rows(seed: int, n_docs: int) -> list[dict]:
    """Documents ``0..n_docs-1`` in doc_id order."""
    rng = random.Random(f"docs:{seed}")
    texts: list[str] = []
    rows = []
    for doc_id in range(n_docs):
        roll = rng.random()
        if doc_id > 0 and roll < NEAR_DUP_SHARE:
            text = texts[rng.randrange(doc_id)] + " dup"
        elif doc_id > 0 and roll < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            text = texts[rng.randrange(doc_id)]
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 99)))
        texts.append(text)
        rows.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
                "source": f"src{doc_id % 20}",
                "n_chars": len(text),
            }
        )
    return rows


def embedding_rows(seed: int, n_vecs: int) -> list[dict]:
    rng = np.random.default_rng([seed, 7])
    vecs = rng.standard_normal((n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, n_vecs)
    return [
        {"vec_id": i, "embedding": vecs[i].tolist(), "label": int(labels[i])}
        for i in range(n_vecs)
    ]


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def write_corpus(seed: int, n_docs: int, n_vecs: int, sf_dir: str) -> list[dict]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (rows in a
    seeded shuffled order) into ``sf_dir``; returns the documents in
    doc_id order."""
    docs = corpus_rows(seed, n_docs)
    shuffled = list(docs)
    random.Random(f"order:{seed}").shuffle(shuffled)
    _write(shuffled, DOC_SCHEMA, os.path.join(sf_dir, "documents.parquet"))
    vecs = embedding_rows(seed, n_vecs)
    random.Random(f"vorder:{seed}").shuffle(vecs)
    _write(vecs, EMB_SCHEMA, os.path.join(sf_dir, "embeddings.parquet"))
    return docs


def write_arrivals(docs: list[dict], sizes: list[int], out_dir: str) -> list[str]:
    """Split ``docs`` (in doc_id order) into consecutive arrival files of
    ``sizes`` documents each, ``(doc_id, source, text)`` parquet named
    ``part-NNN.parquet``; returns their paths in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    paths, start = [], 0
    for i, n in enumerate(sizes):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        rows = [{c: d[c] for c in ARRIVAL_SCHEMA.names} for d in docs[start : start + n]]
        pq.write_table(pa.Table.from_pylist(rows, schema=ARRIVAL_SCHEMA), path)
        paths.append(path)
        start += n
    return paths


def pull_keys(seed: int, sizes: list[int]) -> list[tuple[int, list[int]]]:
    """A fresh ``o_orderkey`` set for every pull of the given sizes,
    disjoint from every other pull's. Returns ``[(size, sorted keys)]``."""
    rng = random.Random(f"keys:{seed}")
    keys = rng.sample(range(1, 50_000_000), sum(sizes))
    out, start = [], 0
    for n in sizes:
        out.append((n, sorted(keys[start : start + n])))
        start += n
    return out
