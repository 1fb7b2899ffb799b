#!/usr/bin/env python3
"""Deterministic input tables for the benchmark.

Writes an sf0.1-shaped base (events, documents, embeddings) from a FIXED
internal seed, then derives the 10x replica with the repository's
unmodified `tools/gen_scale.py`, then cuts the replica's events into
time-ordered ingest batches. The benchmark's `--seed` never reaches this
file: it only chooses statements, query order, batch offsets and read
keys over these fixed tables, so a run's inputs are a pure function of
its seed.

usage: gen_data.py <repo_root> <out_dir>
Layout of <out_dir>:
  base/{events,documents,embeddings}.parquet   sf0.1 shape
  x10/{events,documents,embeddings}.parquet/   10x replica (gen_scale.py)
  batches/bNNN/events.parquet                  ~50k-row time-ordered slices
"""
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
N_EVENTS = 100_000
N_DOCS = 5_000
N_DUP_DOCS = 250
N_VECS = 2_000
DIM = 64
BATCH_ROWS = 50_000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def events(rng):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(start + rng.integers(0, span, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def documents(rng):
    texts = []
    for _ in range(N_DOCS):
        n = int(rng.integers(10, 101))
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n)))
    # planted near-duplicates: a copy of an earlier document plus one token
    for slot in rng.choice(np.arange(N_DOCS // 2, N_DOCS), N_DUP_DOCS, replace=False):
        texts[slot] = texts[int(rng.integers(0, N_DOCS // 2))] + " dup"
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in langs]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng):
    v = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(v.tolist(), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS, dtype=np.int32)),
    })


def batches(x10_events, out):
    t = pq.read_table(x10_events).sort_by([("ts", "ascending"), ("event_id", "ascending")])
    for i, off in enumerate(range(0, t.num_rows, BATCH_ROWS)):
        d = f"{out}/b{i:03d}"
        os.makedirs(d, exist_ok=True)
        pq.write_table(t.slice(off, BATCH_ROWS), f"{d}/events.parquet")


def main():
    repo, out = sys.argv[1], sys.argv[2]
    rng = np.random.default_rng(DATA_SEED)
    base = f"{out}/base"
    os.makedirs(base, exist_ok=True)
    for name, make in (("events", events), ("documents", documents),
                       ("embeddings", embeddings)):
        pq.write_table(make(rng), f"{base}/{name}.parquet")
    subprocess.run([sys.executable, f"{repo}/tools/gen_scale.py", base, f"{out}/x10",
                    "10", "events,documents,embeddings"], check=True,
                   stdout=sys.stderr)
    batches(f"{out}/x10/events.parquet", f"{out}/batches")


if __name__ == "__main__":
    main()
