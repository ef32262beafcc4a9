"""Seeded corpus for the analytics_batch workload, shaped like the
package's test tables (sources/tables.py): an ``events`` stream, a
``documents`` corpus with near-duplicates, and unit-norm ``embeddings``.
Sizes match the 0.01 scale factor: 10^4 events, 500 documents, 500
vectors."""

from __future__ import annotations

import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAYS_30_US = 30 * 86_400 * 10**6
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
N_EVENTS = 10_000
N_DOCS = 500
N_VECS, DIM = 500, 64
LANGS = (("en", 0.44), ("zh", 0.15), ("de", 0.14), ("es", 0.14), ("fr", 0.13))


def events(rng: random.Random) -> pa.Table:
    n = N_EVENTS
    ts = sorted(EPOCH_US + rng.randrange(DAYS_30_US) for _ in range(n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in range(n)], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "value": [max(0.01, round(rng.expovariate(1 / 50), 2)) for _ in range(n)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n)],
    })


def documents(rng: random.Random) -> pa.Table:
    """Random word texts of 10-99 words; every 20th is an earlier document
    plus a trailing token (near-duplicates for the dedup queries)."""
    n = N_DOCS
    texts = []
    for i in range(n):
        if i % 20 == 19:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99))))
    langs, weights = zip(*LANGS)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choices(langs, weights)[0] for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: random.Random) -> pa.Table:
    """Unit-norm Gaussian vectors with random labels 0-9; every 20th is a
    slightly perturbed copy of an earlier vector."""
    n, dim = N_VECS, DIM
    vecs = []
    for i in range(n):
        if i % 20 == 19:
            v = [x + rng.gauss(0, 0.01) for x in vecs[rng.randrange(i)]]
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n)], pa.int32()),
    })


def write(seed: int, out_dir: str) -> str:
    """Write events/documents/embeddings parquet into ``out_dir``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
