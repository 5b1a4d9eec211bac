"""Seeded inputs: clustered vectors from the package's own generator and
a word-level text corpus with planted near-duplicates.

The same seed gives the same inputs.  The program under test receives
only these generated frames and files."""

from __future__ import annotations

import numpy as np
import pandas as pd

from vectordb_retrieval_spark.sources.random_gen import clustered_vectors

DIM = 128
# base, query and ingest rows draw from independent Philox streams of
# the same mixture, so queries and appended rows land near base rows
BASE_STREAM, QUERY_STREAM, INGEST_STREAM = 0, 1, 2


def vectors(spark, n: int, seed: int, stream: int, id_col: str = "id", first_id: int = 0):
    """(id_col, vec) DataFrame of ``n`` clustered 128-d vectors."""
    df = clustered_vectors(spark, n, DIM, seed=seed, stream=stream, id_col=id_col)
    if first_id:
        df = df.withColumn(id_col, df[id_col] + first_id)
    return df


def to_numpy(df, id_col: str) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.toPandas()
    order = np.argsort(pdf[id_col].to_numpy())
    ids = pdf[id_col].to_numpy(dtype=np.int64)[order]
    mat = np.vstack(pdf["vec"].to_numpy())[order].astype(np.float32)
    return ids, mat


def unit_rows(mat: np.ndarray) -> np.ndarray:
    mat = mat.astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.where(norms == 0, 1.0, norms)


def exact_topk_cosine(base_unit: np.ndarray, base_ids: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """(n_q, k) ids of the exact cosine top-k: the benchmark's own
    reference, independent of the engine."""
    scores = unit_rows(queries) @ base_unit.T
    part = np.argpartition(-scores, k, axis=1)[:, :k]
    top = np.take_along_axis(scores, part, axis=1)
    order = np.argsort(-top, axis=1, kind="stable")
    return base_ids[np.take_along_axis(part, order, axis=1)]


def text_corpus(seed: int, n_docs: int, words_per_doc: int = 40, vocab_size: int = 5000, dup_every: int = 10):
    """(pandas frame of doc_id/text, sorted planted duplicate ids).

    Every ``dup_every``-th doc is a near-duplicate: a copy of the doc
    five ids earlier with one word replaced (word 3-shingle Jaccard
    about 0.85).  Other docs draw words uniformly from a seeded
    vocabulary, so unplanted pairs share almost no shingles."""
    rng = np.random.default_rng([seed, 7])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < vocab_size:
        word = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if word not in seen:
            seen.add(word)
            vocab.append(word)
    words = np.array(vocab)
    idx = rng.integers(0, vocab_size, size=(n_docs, words_per_doc))
    planted = np.arange(dup_every - 1, n_docs, dup_every)
    idx[planted] = idx[planted - 5]
    pos = rng.integers(0, words_per_doc, size=len(planted))
    idx[planted, pos] = (idx[planted, pos] + rng.integers(1, vocab_size, size=len(planted))) % vocab_size
    text = [" ".join(row) for row in words[idx]]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": text}), planted
