#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the three tables the benchmark's queries read (events, documents,
embeddings) as parquet directories under --out, in the schema the engine's
scale directories use, at a tenth of the sf0.1 row counts.

The table *content* is fixed: it is drawn from BASE_SEED, so every seed
sees the same rows. The --seed chooses the row order of every table and
how it is split into part files.

--kind corpus4x replaces the documents by 4 decorrelated copies the way
graft.tools.Amplify.docsDistinct makes them: copy i shifts doc_id by
i * (max(doc_id) + 1), tags every token with "_000".."_003" so copies
share no shingles, and keeps each source row's n_chars. The copy is made
here rather than by calling Amplify so that the inputs do not depend on
the engine under test: a change to Amplify cannot change what the
benchmark measures or invalidate its references.

A manifest.json records the row counts, the file split, the generation time
and a content key: a digest of each table's rows as read back from the
written files, independent of row order and file split. Equal keys mean
equal table contents, whatever the seed.

Usage: gen.py --kind base|corpus4x --seed N --out DIR
"""
import argparse
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
# Row counts of the engine's sf0.1 scale directory, and the share of them
# the benchmark generates.
SF01_ROWS = {"events": 100_000, "documents": 5_000, "embeddings": 2_000}
SCALE = 0.1
VOCAB = ("a the big small fast slow data table row column key value query "
         "join group order sort filter scan hash merge window stream batch "
         "spark vector agg customer part line").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DIM = 64


def events_table(n, rng):
    us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def document_texts(n, rng):
    """Random-vocabulary documents; every 20th (offset 11) is a near-dup of
    an earlier document with a trailing "dup" token, and a few are exact
    copies, so the dedup tiers have work to find."""
    texts = []
    for i in range(n):
        if i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i % 500 == 257:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return texts


def documents_table(n, rng):
    texts = document_texts(n, rng)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(n, rng):
    v = rng.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def corpus4x(docs, copies=4):
    offset = pc.max(docs.column("doc_id")).as_py() + 1
    texts = docs.column("text").to_pylist()
    parts = []
    for i in range(copies):
        tagged = [" ".join(f"{w}_{i:03d}" for w in t.split(" ")) for t in texts]
        parts.append(pa.table({
            "doc_id": pc.add(docs.column("doc_id"), i * offset),
            "text": pa.array(tagged),
            "lang": docs.column("lang"),
            "source": docs.column("source"),
            "n_chars": docs.column("n_chars"),
        }))
    return pa.concat_tables(parts)


def table_digest(path):
    """Order-independent digest of a written table: the sorted digests of
    its rows, each row read back from the part files."""
    rows = pq.read_table(path).to_pylist()
    keys = sorted(hashlib.sha256(json.dumps(r, sort_keys=True, default=str).encode()).digest()
                  for r in rows)
    return hashlib.sha256(b"".join(keys)).hexdigest()


def write_split(table, path, rng, nfiles=4):
    """Seeded row order and file split: the rows in a seeded permutation,
    cut into `nfiles` part files of seeded sizes, each within about 15% of
    n / nfiles so that no seed gets a badly skewed scan."""
    n = table.num_rows
    table = table.take(pa.array(rng.permutation(n)))
    sizes = np.floor(rng.dirichlet([50.0] * nfiles) * n).astype(int)
    sizes[-1] = n - sizes[:-1].sum()
    os.makedirs(path)
    start = 0
    for k, size in enumerate(sizes):
        pq.write_table(table.slice(start, size), os.path.join(path, f"part-{k:05d}.parquet"))
        start += size
    return [int(x) for x in sizes]


def generate(kind, seed, out):
    t0 = time.time()
    base = np.random.default_rng(BASE_SEED)
    rows = {k: int(round(v * SCALE)) for k, v in SF01_ROWS.items()}
    tables = {
        "events": events_table(rows["events"], base),
        "documents": documents_table(rows["documents"], base),
        "embeddings": embeddings_table(rows["embeddings"], base),
    }
    if kind == "corpus4x":
        tables["documents"] = corpus4x(tables["documents"])
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    split_rng = np.random.default_rng([seed, 1])
    files = {name: write_split(t, os.path.join(tmp, f"{name}.parquet"), split_rng)
             for name, t in sorted(tables.items())}
    key = hashlib.sha256(json.dumps(
        {name: table_digest(os.path.join(tmp, f"{name}.parquet")) for name in sorted(tables)}
    ).encode()).hexdigest()[:16]
    manifest = {
        "kind": kind, "seed": seed, "content_key": key,
        "rows": {k: t.num_rows for k, t in tables.items()},
        "files": files, "gen_s": time.time() - t0,
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=["base", "corpus4x"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.kind, a.seed, a.out)))


if __name__ == "__main__":
    main()
