"""Seeded corpus replica for the benchmark.

The base inputs are the repository's sf0.01 test tables, kept byte for
byte under perfbench/data/sf0.01/ (see TESTDATA.md for how they were made).
`replica(base_dir, out_dir, factor, seed)` copies a base directory and
replaces documents/embeddings with `factor` seeded copies: inside one copy
every document and vector keeps its neighbours (texts are rewritten through
a per-copy word bijection that keeps word lengths, vectors through a
per-copy signed permutation of dimensions, which keeps cosines), while
across copies the vocabularies and the dimension layouts differ, so
near-duplicates do not match across copies.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# kept as they are in every copy, like the program's own stopword handling
STOPWORDS = {"a", "the"}
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def _embedding_cols(ids, vecs, labels):
    dim = vecs.shape[1]
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(ids),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def _pseudo_vocab(rng, vocab, taken):
    """A bijection vocab -> fresh words of the same length; stopwords stay."""
    out = {}
    for w in vocab:
        if w in STOPWORDS:
            out[w] = w
            continue
        while True:
            c = "".join(rng.choice(LETTERS, len(w)))
            if c not in taken:
                break
        taken.add(c)
        out[w] = c
    return out


def replica(base_dir, out_dir, factor, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(base_dir):
        if f.endswith(".parquet") and f not in ("documents.parquet", "embeddings.parquet"):
            shutil.copyfile(os.path.join(base_dir, f), os.path.join(out_dir, f))
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet")).to_pydict()
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.array(emb.column("label").to_pylist(), dtype=np.int32)
    n, dim = len(docs["doc_id"]), vecs.shape[1]
    vocab = sorted({w for t in docs["text"] for w in t.split(" ")})
    taken = set(vocab)
    texts, ids, cvecs = [], [], []
    for k in range(factor):
        m = _pseudo_vocab(rng, vocab, taken)
        texts += [" ".join(m[w] for w in t.split(" ")) for t in docs["text"]]
        signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), dim)
        cvecs.append(vecs[:, rng.permutation(dim)] * signs)
        ids.append(np.arange(n, dtype=np.int64) + k * n)
    ids = np.concatenate(ids)
    _write(out_dir, "documents", {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(docs["lang"] * factor),
        "source": pa.array(docs["source"] * factor),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    _write(out_dir, "embeddings", _embedding_cols(ids, np.concatenate(cvecs), np.tile(labels, factor)))
