"""Seeded input generators and their expected answers.

Everything here is numpy in one process, so one seed always gives the
same bytes. The engine only ever sees the files these functions write.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- wordcount

WC_FILES = 16
WC_TOKENS = 4_000_000
WC_VOCAB = 250_000
WC_ZIPF_S = 1.05


def _word(i: int) -> str:
    """Bijective base-26 spelling of i: frequent (low) ranks get short words."""
    s = []
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s.append(chr(97 + r))
    return "".join(reversed(s))


def wordcount_corpus(seed: int, out_dir: str) -> dict:
    """Write a Zipfian text corpus as WC_FILES files under out_dir.

    Returns the file paths, total bytes, line count and the expected
    word counts (from np.unique over the generated token ids).
    """
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, WC_VOCAB + 1, dtype=np.float64)
    p = ranks**-WC_ZIPF_S
    p /= p.sum()
    # a seeded permutation decouples word length from frequency rank
    word_of = rng.permutation(WC_VOCAB)
    ids = word_of[rng.choice(WC_VOCAB, size=WC_TOKENS, p=p)]
    vocab = np.array([_word(i) for i in range(WC_VOCAB)], dtype=object)
    # separators: a line break every 6..24 tokens, otherwise a space or,
    # now and then, a tab (the tokenizer's whole whitespace class)
    seps = np.where(rng.random(WC_TOKENS) < 0.02, "\t", " ").astype(object)
    breaks = np.cumsum(rng.integers(6, 25, size=WC_TOKENS // 6))
    seps[breaks[breaks < WC_TOKENS]] = "\n"
    seps[-1] = "\n"
    os.makedirs(out_dir, exist_ok=True)
    paths, total, lines = [], 0, 0
    bounds = np.linspace(0, WC_TOKENS, WC_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        seps[hi - 1] = "\n"
        parts = np.empty(2 * (hi - lo), dtype=object)
        parts[0::2] = vocab[ids[lo:hi]]
        parts[1::2] = seps[lo:hi]
        data = "".join(parts.tolist()).encode()
        path = os.path.join(out_dir, f"part-{f:02d}.txt")
        with open(path, "wb") as fh:
            fh.write(data)
        paths.append(path)
        total += len(data)
        lines += data.count(b"\n")
    uniq, counts = np.unique(ids, return_counts=True)
    expected = dict(zip(vocab[uniq].tolist(), counts.tolist()))
    return {"paths": paths, "bytes": total, "records": lines, "expected": expected}


# ------------------------------------------------------------------ funnel

FUNNEL_DOCS = 500
FUNNEL_EMB = 200
EMB_DIM = 64
FUNNEL_LANGS = ["en", "de", "fr", "es", "zh"]
FUNNEL_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# sf0.1's vocabulary: 28 content words plus two Gopher stopwords
FUNNEL_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg "
    "key query scan batch the a"
).split()


def funnel_inputs(seed: int, out_dir: str) -> dict:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding float[64], label), shaped like sf0.1:
    10..100-token docs in 5 languages over a 30-word vocabulary.

    The seed picks the content, never the structure: the doc lengths,
    the language mix, the repetitive docs and the planted near-copies
    (every 10th doc copies a distinct earlier original and adds one
    token; every 20th embedding is a near-copy of a distinct earlier
    one) are fixed, so every seed gives the funnel the same shape of
    work."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(FUNNEL_VOCAB, dtype=object)
    texts: list = [None] * FUNNEL_DOCS
    copies = np.arange(10, FUNNEL_DOCS, 10)
    originals = np.setdiff1d(np.arange(FUNNEL_DOCS), copies)
    lengths = rng.permutation(np.linspace(10, 100, len(originals)).astype(int))
    for i, n in zip(originals, lengths):
        if i % 13 == 0:  # repetitive doc: three words looped
            words = vocab[rng.integers(0, len(vocab), size=3)][np.arange(n) % 3]
        else:
            words = vocab[rng.integers(0, len(vocab), size=n)]
        texts[i] = " ".join(words.tolist())
    sources: list = []
    for c in copies:
        sources.append(int(rng.choice(np.setdiff1d(originals[originals < c], sources))))
        texts[c] = texts[sources[-1]] + " dup"
    langs = np.repeat(FUNNEL_LANGS, np.round(np.array(FUNNEL_LANG_P) * FUNNEL_DOCS).astype(int))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(FUNNEL_DOCS), pa.int64()),
            "text": texts,
            "lang": rng.permutation(langs[:FUNNEL_DOCS]).tolist(),
            "source": [f"src{i % 20}" for i in range(FUNNEL_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    x = _unit(rng.normal(size=(FUNNEL_EMB, EMB_DIM)))
    dup = np.arange(20, FUNNEL_EMB, 20)
    src: list = []
    for d in dup:
        src.append(int(rng.choice(np.setdiff1d(np.arange(d), np.concatenate([dup, src])))))
    x[dup] = _unit(x[src] + 0.1 * rng.normal(size=(len(dup), EMB_DIM)))
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(FUNNEL_EMB), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(np.arange(FUNNEL_EMB) % 10, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    doc_path = os.path.join(out_dir, "documents.parquet")
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(docs, doc_path)
    pq.write_table(emb, emb_path)
    nbytes = sum(len(t.encode()) for t in texts) + x.size * 4
    return {"docs": doc_path, "emb": emb_path, "bytes": nbytes, "records": FUNNEL_DOCS}


def funnel_expected(doc_path: str, emb_path: str) -> list[tuple]:
    """Funnel audit rows from one DuckDB replay of the oracle SQL."""
    import duckdb

    from parallel_map_reduce_spark.operators.curation_pipeline import (
        pipeline_curate_corpus_oracle_sql,
    )

    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{doc_path}')")
        con.execute(f"CREATE TABLE embeddings AS SELECT * FROM read_parquet('{emb_path}')")
        rows = con.execute(pipeline_curate_corpus_oracle_sql()).fetchall()
    finally:
        con.close()
    return sorted(tuple(r) for r in rows)


# ------------------------------------------------------------ vector store

VEC_BUILD = 800
VEC_BATCHES = 2
VEC_BATCH = 80
VEC_CELLS = 16
VEC_THRESHOLD = 0.95


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def store_vectors(seed: int, out_dir: str) -> dict:
    """64-d vectors in VEC_CELLS equal, well-separated clusters (members
    sit at cosine ~0.5 from each other, far below VEC_THRESHOLD):
    VEC_BUILD to build the index from, then VEC_BATCHES ingest batches of
    VEC_BATCH. Each batch plants 12 near-copies (cosine > 0.99) of stored
    vectors and 10 of other rows of the same batch, so admission finds
    cross and in-batch duplicates; the seed picks content, not counts."""
    rng = np.random.default_rng([seed, 3])
    n = VEC_BUILD + VEC_BATCHES * VEC_BATCH
    centers = rng.normal(size=(VEC_CELLS, EMB_DIM))
    x = _unit(centers[np.arange(n) % VEC_CELLS] + rng.normal(size=(n, EMB_DIM)))
    for b in range(VEC_BATCHES):
        lo = VEC_BUILD + b * VEC_BATCH
        picks = rng.permutation(VEC_BATCH)
        cross, inner, src = lo + picks[:12], lo + picks[12:22], lo + picks[22:32]
        x[cross] = _unit(x[rng.choice(VEC_BUILD, len(cross), replace=False)] + 0.01 * rng.normal(size=(len(cross), EMB_DIM)))
        x[inner] = _unit(x[src] + 0.01 * rng.normal(size=(len(inner), EMB_DIM)))
    x = x.astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "vectors.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(x), pa.list_(pa.float32())),
            }
        ),
        path,
    )
    return {"path": path, "x": x}
