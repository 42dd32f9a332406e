#!/usr/bin/env python3
"""Generate the 10x scale-proof dataset (VERDICT r7 "Next round #1").

Takes /root/testdata/sf0.1 (read-only) and writes /root/repo/scaledata/sf1
with the big tables replicated 10x plus DELIBERATE pathologies that the
engine's skew caps claim to survive but have never been load-tested against:

  documents  5,000 -> 52,000   10 replicas with distinct doc_ids + fresh word
                               salt per replica (so replicas are NOT trivial
                               exact dupes), PLUS a 2,000-doc boilerplate
                               cluster: one base text with a tiny rotating
                               suffix -> thousands of near-identical docs
                               sharing almost all shingles. This is the hot
                               MinHash/SimHash band bucket and the hot
                               posting list that q27's 20-doc bucket cap,
                               q28's boilerplate-band pruning and q29's
                               DF_CAP are designed for.
  events   100,000 -> 1,000,000  10 replicas, distinct event_ids, ts jittered
                               per replica; in replicas 1-9, 20% of rows are
                               remapped to user_id=424242 -> one user holds
                               ~18% of all events (sessionization / window
                               partition skew).
  embeddings 2,000 -> 21,000   10 replicas (noise-perturbed so they are not
                               bit-dupes), PLUS a 1,000-vector dense cluster
                               around one base vector (hot LSH bucket / hot
                               IVF cell).
  lineitem/orders   -> 10x     key-offset replicas (o_orderkey/l_orderkey
                               shifted together so the join holds) for the
                               relational tier's scaling point.
  region nation customer supplier part   copied verbatim (dimensions).

No oracle runs against this data — correctness stays pinned at sf0.01/0.1;
this dataset exists to measure time growth and flush out cap failures.
Deterministic: seeded numpy, no wall-clock dependence.

Run: python3 tools/gen_scale.py        (writes scaledata/sf1/*.parquet)
Dev-only tool, like tools/gen_fixtures.py.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(__file__), "..", "scaledata", "sf1")
REPLICAS = 10
HOT_USER = 424242
HOT_FRACTION = 0.20          # of each replica >0
BOILERPLATE_DOCS = 2000
DENSE_VECS = 1000
rng = np.random.default_rng(8)

WORDS = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "hash", "slow", "group", "query", "agg",
         "table", "vector", "shard", "merge"]


def write(name, table):
    # graft reads each table with a declared schema (Tables.schema), pinned
    # to the sf0.1 files by TableSchemaSpec; a drifted sf1 table would fail
    # at the scan, so it fails here instead, before anything is written
    src = pq.read_schema(os.path.join(SRC, f"{name}.parquet"))
    assert table.schema.equals(src), \
        f"{name}: schema\n{table.schema}\ndiffers from {SRC}:\n{src}"
    os.makedirs(OUT, exist_ok=True)
    pq.write_table(table, os.path.join(OUT, f"{name}.parquet"))
    print(f"scaledata/sf1/{name}.parquet rows={table.num_rows}")


def copy(name):
    write(name, pq.read_table(os.path.join(SRC, f"{name}.parquet")))


def documents():
    base = pq.read_table(os.path.join(SRC, "documents.parquet"))
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    srcs = base.column("source").to_pylist()
    n = len(texts)
    out = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}

    for r in range(REPLICAS):
        # Fresh 2-word salt per (replica, doc): replicas share most of each
        # doc's shingles with the original but are not exact dupes, so the
        # exact-dedup queries keep realistic selectivity at 10x.
        salts = rng.integers(0, len(WORDS), size=(n, 2))
        for i in range(n):
            t = texts[i] if r == 0 else (
                f"{texts[i]} {WORDS[salts[i][0]]} {WORDS[salts[i][1]]} r{r}")
            out["doc_id"].append(r * 1_000_000 + i)
            out["text"].append(t)
            out["lang"].append(langs[i])
            out["source"].append(srcs[i])
            out["n_chars"].append(len(t))

    # The boilerplate cluster: near-identical long docs, rotating suffix.
    boiler = " ".join(texts[0].split() * 3)  # ~3x doc 0, one hot shingle set
    for i in range(BOILERPLATE_DOCS):
        t = f"{boiler} {WORDS[i % 7]} {i % 13}"
        out["doc_id"].append(90_000_000 + i)
        out["text"].append(t)
        out["lang"].append("en")
        out["source"].append("boilerplate")
        out["n_chars"].append(len(t))

    write("documents", pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "text": pa.array(out["text"], pa.string()),
        "lang": pa.array(out["lang"], pa.string()),
        "source": pa.array(out["source"], pa.string()),
        "n_chars": pa.array(out["n_chars"], pa.int64()),
    }))


def events():
    base = pq.read_table(os.path.join(SRC, "events.parquet"))
    n = base.num_rows
    parts = []
    for r in range(REPLICAS):
        ids = pc.add(base.column("event_id"), r * 10_000_000)
        # per-replica jitter keeps ts distinct without moving the window
        # span (sessions/windows see 10x density, not a longer timeline)
        ts = pc.add(base.column("ts").cast(pa.int64()), r * 137) \
            .cast(pa.timestamp("us"))
        uid = base.column("user_id").to_numpy().copy()
        if r > 0:
            hot = rng.random(n) < HOT_FRACTION
            uid[hot] = HOT_USER
        parts.append(pa.table({
            "event_id": ids, "ts": ts,
            "user_id": pa.array(uid, pa.int64()),
            "event_type": base.column("event_type"),
            "value": base.column("value"),
            "props": base.column("props"),
        }))
    write("events", pa.concat_tables(parts))


def embeddings():
    base = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    vecs = np.array(base.column("embedding").to_pylist(), dtype=np.float32)
    labels = base.column("label").to_numpy()
    n, dim = vecs.shape
    out_id, out_vec, out_lab = [], [], []
    for r in range(REPLICAS):
        v = vecs if r == 0 else vecs + rng.normal(0, 0.01, vecs.shape) \
            .astype(np.float32)
        out_id.extend((r * 1_000_000 + np.arange(n)).tolist())
        out_vec.extend(v.tolist())
        out_lab.extend(labels.tolist())
    dense = vecs[0] + rng.normal(0, 0.001, (DENSE_VECS, dim)) \
        .astype(np.float32)
    out_id.extend((90_000_000 + np.arange(DENSE_VECS)).tolist())
    out_vec.extend(dense.tolist())
    out_lab.extend([int(labels[0])] * DENSE_VECS)
    write("embeddings", pa.table({
        "vec_id": pa.array(out_id, pa.int64()),
        "embedding": pa.array(out_vec, pa.list_(pa.float32())),
        "label": pa.array(out_lab, pa.int32()),
    }))


def keyed_replicate(name, key_cols, uniq_cols=()):
    """Replicate a fact table with all order-keys shifted per replica so the
    orders<->lineitem join is preserved across replicas."""
    base = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
    off = 100_000_000
    parts = []
    for r in range(REPLICAS):
        cols = {}
        for c in base.column_names:
            if c in key_cols or c in uniq_cols:
                cols[c] = pc.add(base.column(c), r * off)
            else:
                cols[c] = base.column(c)
        parts.append(pa.table(cols))
    write(name, pa.concat_tables(parts))


def main():
    documents()
    events()
    embeddings()
    keyed_replicate("orders", {"o_orderkey"})
    keyed_replicate("lineitem", {"l_orderkey"})
    for t in ("region", "nation", "customer", "supplier", "part"):
        copy(t)


if __name__ == "__main__":
    main()
