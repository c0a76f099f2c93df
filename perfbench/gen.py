"""Seeded input generator for the graft benchmark.

Everything graft sees in a benchmark run comes from here: the same seed
gives byte-identical parquet files, JSON request sequences and change
feeds; another seed gives other ones.

The corpus has the shape of the sf0.1 test corpus (`documents`: doc_id,
text, lang, source, n_chars over a 30-word vocabulary with 10..100 words
per document and 5% near-duplicates ending in " dup"; `embeddings`:
64-dim unit vectors with a 0..9 label).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64
SOURCES = 20


def _texts(rng, n):
    """n document texts; 5% are an earlier-drawn text plus ' dup'."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=(n, 100))
    texts = [" ".join(VOCAB[w] for w in words[i, :lens[i]]) for i in range(n)]
    dups = rng.random(n) < 0.05
    if dups.all():
        dups[:] = False
    originals = np.flatnonzero(~dups)
    src = rng.choice(originals, size=n)
    return [texts[src[i]] + " dup" if dups[i] else texts[i] for i in range(n)]


def _unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _emb_column(vecs):
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, DIM, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def documents_table(ids, texts, langs):
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in ids], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings_table(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, type=pa.int64()),
        "embedding": _emb_column(vecs),
        "label": pa.array(labels, type=pa.int32()),
    })


def base_corpus(rng, n_docs, n_vecs):
    texts = _texts(rng, n_docs)
    langs = [LANGS[i] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    vecs = _unit_vectors(rng, n_vecs)
    labels = rng.integers(0, 10, size=n_vecs)
    return texts, langs, vecs, labels


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_corpus(out, seed, n_docs, n_vecs):
    """`documents` and `embeddings` parquet files under `out`."""
    rng = np.random.default_rng([seed, 1])
    texts, langs, vecs, labels = base_corpus(rng, n_docs, n_vecs)
    _write(documents_table(list(range(n_docs)), texts, langs), f"{out}/documents.parquet")
    _write(embeddings_table(list(range(n_vecs)), vecs, labels), f"{out}/embeddings.parquet")


def write_requests(out, seed, names, n):
    """The serve request sequence: blocks of one seeded permutation of
    `names` each, so every query is drawn uniformly and the mix over any
    prefix of whole blocks is exact."""
    rng = np.random.default_rng([seed, 2])
    seq = []
    while len(seq) < n:
        seq.extend(names[i] for i in rng.permutation(len(names)))
    with open(out, "w") as f:
        json.dump(seq[:n], f)


def watermark(n):
    """The feed watermark of ids 0..n-1: the last-decile split
    PersistedIndex.idWatermark computes (max - (max - min) / 10)."""
    return (n - 1) - (n - 1) // 10


def _feed(rng, n, n_batches, batch, mix, window, payload):
    """One family's change feed over ids 0..n-1: `n_batches` batches of
    `batch` changes with distinct ids per batch, in the op proportions
    `mix` ({"a", "u", "d"} weights). This is the stand-in feed of
    graft.operators.CdcRules restricted to its crawl window, with the
    seed choosing the ids: re-crawls (updates, deletes) touch base ids in
    (split - window, split], appends take the ids above the watermark in
    order. A deleted id is never touched again."""
    split = watermark(n)
    live = list(range(max(0, split - window + 1), split + 1))
    next_id = split + 1
    total = sum(mix.values())
    n_u = round(batch * mix["u"] / total)
    n_d = round(batch * mix["d"] / total)
    batches = []
    for _ in range(n_batches):
        picks = rng.choice(len(live), size=n_u + n_d, replace=False)
        touched = [live[i] for i in picks]
        rows = [(i, "u") for i in touched[:n_u]] + [(i, "d") for i in touched[n_u:]]
        rows += [(next_id + k, "a") for k in range(batch - n_u - n_d)]
        next_id += batch - n_u - n_d
        dead = set(touched[n_u:])
        live = [i for i in live if i not in dead]
        order = rng.permutation(len(rows))
        batches.append([(rows[k][0], rows[k][1],
                          payload(rng) if rows[k][1] != "d" else None) for k in order])
    return batches


def write_feeds(out, seed, n_docs, n_vecs, n_batches, doc_batch, vec_batch, mix, window):
    """Postings (text) and IVF (embedding) change feeds, one parquet file
    per micro-batch; returns their change and payload-byte counts (a
    change's payload is its 8-byte id, 1-byte op and payload bytes)."""
    rng = np.random.default_rng([seed, 3])

    def text(r):
        return _texts(r, 1)[0]

    def vec(r):
        return _unit_vectors(r, 1)[0]

    docs = _feed(rng, n_docs, n_batches, doc_batch, mix, window, text)
    vecs = _feed(rng, n_vecs, n_batches, vec_batch, mix, window, vec)
    meta = {"batches": n_batches}
    for b, rows in enumerate(docs):
        _write(pa.table({
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "op": pa.array([r[1] for r in rows], type=pa.string()),
            "payload": pa.array([r[2] for r in rows], type=pa.string()),
        }), f"{out}/postings/batch-{b:04d}.parquet")
        meta[f"postings.changes.{b}"] = len(rows)
        meta[f"postings.payload_bytes.{b}"] = sum(
            9 + (len(r[2].encode()) if r[2] is not None else 0) for r in rows)
    for b, rows in enumerate(vecs):
        _write(pa.table({
            "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "op": pa.array([r[1] for r in rows], type=pa.string()),
            "payload": pa.array(
                [None if r[2] is None else r[2].tolist() for r in rows],
                type=pa.list_(pa.float32())),
        }), f"{out}/ivf/batch-{b:04d}.parquet")
        meta[f"ivf.changes.{b}"] = len(rows)
        meta[f"ivf.payload_bytes.{b}"] = sum(
            9 + (4 * DIM if r[2] is not None else 0) for r in rows)
    return meta
