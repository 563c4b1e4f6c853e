"""Seeded input generator for the perfbench workloads.

Writes `documents`, `embeddings` and `events`, each as
`<name>.parquet` in one directory. Row counts are sf0.1's times
`scale`; the same seed and scale give byte-identical files. No
workload reads the TPC-H-style tables.

The source material is sf0.1's own: its 30-word vocabulary, its
document-length range (10 to 100 words), its 20 round-robin sources
and language mix, 64-dimensional unit-norm float embeddings with ten
labels, and its event stream (5 event types, 1500 users per 100k
events over 30 days, `{"k": n}` props). On top of that the generator
plants near-duplicate clusters of bounded size in the documents and
the embeddings, at a stated duplicate rate: a planted member is an
exact copy of its cluster's base, or a copy with one token replaced
(one small perturbation for a vector).

Keys are unique (`doc_id`, `vec_id`, `event_id` are 0..n-1) and
`n_chars = length(text)` holds for every document.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DIM = 64
N_LABELS = 10

# sf0.1 row counts
SF01_DOCS = 5000
SF01_VECS = 2000
SF01_EVENTS = 100000
SF01_USERS = 1500

DUP_RATE = 0.05      # share of rows that are planted copies
MAX_CLUSTER = 4      # planted cluster size bound (base + copies)

TABLES = ("documents", "embeddings", "events")


def _clusters(rng, n):
    """Planted clusters as (base, [members]) over row positions 0..n-1.

    Members are distinct rows that are neither a base nor another
    cluster's member; their count is round(DUP_RATE * n)."""
    want = int(round(DUP_RATE * n))
    perm = rng.permutation(n)
    out, used = [], 0
    while want > 0 and used + 2 <= n:
        size = int(rng.integers(2, MAX_CLUSTER + 1))
        copies = min(size - 1, want, n - used - 1)
        base = int(perm[used])
        members = [int(x) for x in perm[used + 1:used + 1 + copies]]
        out.append((base, members))
        used += 1 + copies
        want -= copies
    return out


def documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    toks = [list(vocab[words[offsets[i]:offsets[i + 1]]]) for i in range(n)]
    for base, members in _clusters(rng, n):
        for k, m in enumerate(members):
            t = list(toks[base])
            if k % 2 == 1:   # every other copy is a one-token edit
                pos = int(rng.integers(0, len(t)))
                t[pos] = VOCAB[(VOCAB.index(t[pos]) + 1) % len(VOCAB)]
            toks[m] = t
    text = [" ".join(t) for t in toks]
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(list(lang), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def embeddings(rng, n):
    x = rng.standard_normal((n, DIM))
    for base, members in _clusters(rng, n):
        for m in members:
            x[m] = x[base] + 0.01 * rng.standard_normal(DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    vec = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": vec.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_LABELS, n).astype(np.int32)),
    })


def events(rng, n, users):
    span_us = 30 * 86400 * 1_000_000
    gaps = rng.exponential(span_us / n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.minimum(np.cumsum(gaps), span_us - 1).astype("timedelta64[us]")
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(
            list(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k], pa.string()),
    })


def generate(out_dir, seed, scale=1.0, tables=TABLES):
    """Write `tables` at sf0.1 × `scale` for `seed`; return a summary of
    what was written (rows, bytes, duplicate rate)."""
    os.makedirs(out_dir, exist_ok=True)

    def rows(n):
        return max(int(round(n * scale)), 1)

    # one independent stream per table, so a table's bytes do not
    # depend on which other tables are generated
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))
    make = {
        "documents": lambda r: documents(r, rows(SF01_DOCS)),
        "embeddings": lambda r: embeddings(r, rows(SF01_VECS)),
        "events": lambda r: events(r, rows(SF01_EVENTS), rows(SF01_USERS)),
    }
    built = {name: make[name](np.random.default_rng(streams[name])) for name in tables}
    summary = {"seed": seed, "scale": scale, "dup_rate": DUP_RATE,
               "max_cluster": MAX_CLUSTER, "tables": {}}
    for name, tbl in built.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        summary["tables"][name] = {"rows": tbl.num_rows,
                                   "bytes": os.path.getsize(path)}
    summary["docs"] = summary["tables"].get("documents", {}).get("rows", 0)
    summary["bytes"] = sum(t["bytes"] for t in summary["tables"].values())
    return summary
