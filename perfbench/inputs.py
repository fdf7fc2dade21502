"""Seeded input generation for the perfbench workloads.

The corpus imitates the shape of graft's sf0.1 `documents` table: a
30-word technical vocabulary drawn uniformly, 10-100 tokens per
document, five languages (en ~41%), twenty sources assigned by
`doc_id % 20`, and ~5% near-duplicates (an earlier document plus the
token `dup`). Larger corpora replicate that base the way
`graft.tools.ScaleUp` does: `doc_id + k * 10_000_000` and the lowercase
alphabet rotated by `k`, so replicas share shape but not tokens.

Everything is a function of the seed; the program only ever sees the
parquet files written here.
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
BASE_DOCS = 5000
REPLICA_STRIDE = 10_000_000
LOWER = "abcdefghijklmnopqrstuvwxyz"


def _rotation(k):
    s = k % 26
    return str.maketrans(LOWER, LOWER[s:] + LOWER[:s])


def base_corpus(rng, n=BASE_DOCS):
    """(doc_id, text, lang, source) rows of one sf0.1-shaped base corpus."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    is_dup = rng.random(n) < 0.05
    texts, off = [], 0
    for i in range(n):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[off:off + lengths[i]]))
        off += lengths[i]
    return [(i, texts[i], LANGS[langs[i]], f"src{i % 20}") for i in range(n)]


def replicated(base, replicas):
    rows = []
    for k in range(replicas):
        rot = _rotation(k)
        rows.extend((d + k * REPLICA_STRIDE, t.translate(rot), lang, src)
                    for d, t, lang, src in base)
    return rows


def write_documents(rows, path, seq=False):
    """The `documents` table; with seq, each row's position in `rows`
    rides along as `seq`."""
    ids, texts, langs, srcs = zip(*rows)
    cols = {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    if seq:
        cols["seq"] = pa.array(range(len(rows)), pa.int64())
    pq.write_table(pa.table(cols), path)


def write_jsonl(rows, path):
    """The raw documents as JSON lines: doc_id, text, lang, source."""
    with open(path, "w") as f:
        for d, t, lang, src in rows:
            f.write(json.dumps({"doc_id": d, "text": t, "lang": lang, "source": src}) + "\n")


def _query_texts(rng, n, replicas):
    """Zipf-drawn query texts over the replicated vocabulary: 1-12
    tokens, ~10% of tokens off-vocabulary."""
    vocab = np.array([w.translate(_rotation(k)) for k in range(replicas) for w in VOCAB])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    ranked = vocab[rng.permutation(len(vocab))]
    lengths = rng.integers(1, 13, n)
    total = int(lengths.sum())
    toks = ranked[rng.choice(len(vocab), total, p=p / p.sum())].astype(object)
    letters = np.array(list(LOWER))
    for t in np.flatnonzero(rng.random(total) < 0.10):
        toks[t] = "".join(letters[rng.integers(0, 26, int(rng.integers(5, 10)))])
    ends = np.cumsum(lengths)
    return [" ".join(toks[e - k:e]) for e, k in zip(ends, lengths)]


def write_batch_queries(rng, batches, size, replicas, path):
    """(batch, query_id, query_text); ~1 in 8 queries repeats an earlier
    query of its own batch."""
    texts = _query_texts(rng, batches * size, replicas)
    b_col, id_col, t_col = [], [], []
    for b in range(batches):
        batch = texts[b * size:(b + 1) * size]
        for i in range(1, size):
            if rng.random() < 1 / 8:
                batch[i] = batch[int(rng.integers(0, i))]
        for i, t in enumerate(batch):
            b_col.append(b)
            id_col.append(b * size + i)
            t_col.append(t)
    pq.write_table(pa.table({
        "batch": pa.array(b_col, pa.int32()),
        "query_id": pa.array(id_col, pa.int64()),
        "query_text": pa.array(t_col, pa.string()),
    }), path)


def write_point_queries(rng, n, path):
    """(query_id, query_text, min_logit, lang); every 4th query carries a
    filter, alternating a logit floor and a language."""
    texts = _query_texts(rng, n, 1)
    min_logit = [0.5 if i % 8 == 3 else None for i in range(n)]
    lang = [LANGS[int(rng.integers(0, len(LANGS)))] if i % 8 == 7 else None
            for i in range(n)]
    pq.write_table(pa.table({
        "query_id": pa.array(range(n), pa.int64()),
        "query_text": pa.array(texts, pa.string()),
        "min_logit": pa.array(min_logit, pa.float64()),
        "lang": pa.array(lang, pa.string()),
    }), path)
