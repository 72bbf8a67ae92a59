"""Input generators for the benchmark. Both are deterministic in their seed.

``tables``  ``documents`` and ``embeddings`` in the column layout the
            engine's ``Tables`` loaders read (FIXTURES.md), at a scale
            factor: max(500, 50000 * sf) documents of 10-100 words from a
            30-word vocabulary, source ``src<doc_id % 20>``, ~5% of them
            copies of another document with the marker word ``dup``
            inserted and 8 per 5000 exact copies; max(500, 20000 * sf)
            random unit-length 64-d float embeddings with labels 0-9. These
            follow the fixture tables' distributions; llm_curation runs on
            them.
``corpus``  a review corpus in the ``documents.parquet`` shape for the
            word-count pipeline: ``docs`` documents of ``doc_tokens`` tokens
            drawn from a Zipf-distributed vocabulary of ``words`` distinct
            words. Every word occurs at least once, so the distinct-word
            and token counts are exact whatever the seed.
"""
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = np.array(("spark window merge table column vector stream value "
                      "data small join filter big group hash customer sort "
                      "order slow line part fast row the agg key query a scan "
                      "batch").split())
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _documents(path, rng, texts):
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}),
        path)


def tables(out, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    texts = [" ".join(rng.choice(DOC_WORDS, rng.integers(10, 101)))
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        words = texts[rng.integers(0, n_doc)].split(" ")
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        texts[i] = " ".join(words)
    for _ in range(max(1, n_doc * 8 // 5000)):
        a, b = rng.choice(n_doc, 2, replace=False)
        texts[b] = texts[a]
    _documents(f"{out}/documents.parquet", rng, texts)
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))}),
        f"{out}/embeddings.parquet")


def corpus(out, seed, docs, doc_tokens, words):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    letters = np.array(list(string.ascii_lowercase))
    vocab = set()
    while len(vocab) < words:
        k = words - len(vocab)
        chars = rng.choice(letters, (k, 10))
        vocab.update("".join(r[:n]) for r, n in zip(chars, rng.integers(3, 11, k)))
    vocab = np.array(sorted(vocab)[:words])
    rng.shuffle(vocab)
    total = docs * doc_tokens
    ranks = np.empty(0, dtype=np.int64)
    while len(ranks) < total - words:
        more = rng.zipf(1.1, total - words - len(ranks)) - 1
        ranks = np.concatenate([ranks, more[more < words]])
    ids = np.concatenate([np.arange(words), ranks])
    rng.shuffle(ids)
    toks = vocab[ids].reshape(docs, doc_tokens)
    _documents(f"{out}/documents.parquet", rng, [" ".join(row) for row in toks])
    with open(f"{out}/stats.json", "w") as f:
        json.dump({"docs": docs, "tokens": total, "words": words}, f)
