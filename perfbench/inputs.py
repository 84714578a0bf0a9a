"""Seeded input tables in the testdata parquet schemas.

``events``, ``documents`` and ``embeddings`` are written exactly as the
testdata generator writes them (same column names, types and value
shapes), so every catalog lane reads them unchanged. Measured once on
the sf0.1 testdata tables (100k events, 5k documents, 2k embeddings),
with what each generator keeps and what it changes:

- ``events``: unique ``ts`` over 30 days, ``event_id`` in ``ts`` order
  (no row arrives out of order), ``user_id`` near uniform over 1500
  users (the most active user has 0.10% of the rows). Kept: the order
  and the ``ts`` shape. Changed: ``user_id`` is Zipf-skewed (exponent
  set per workload) to give the per-user lanes hot keys;
- ``documents``: 10-100 tokens from a 30-word vocabulary, 4.9% of them
  an earlier document's text plus a trailing `` dup`` token. Kept as
  is, with the near-duplicate share set per workload;
- ``embeddings``: isotropic unit vectors in 64 dimensions (a label's
  mean vector has norm 0.07, the median nearest-neighbour cosine is
  0.41) with 10 random labels and no near-duplicate pair (none above
  cosine 0.99). Kept: the isotropic shape. Changed: a share of vectors
  (set per workload) are near-duplicates of an earlier one.

Generated tables are cached per (sizes, seed, this file's text) in the
work directory, so generation never runs inside a timed or set-up
region and a changed generator never reuses old tables.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# token vocabulary and categorical domains of the testdata tables
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_USERS = 1500
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
T0 = datetime(2024, 1, 1)
SPAN_US = 30 * 86400 * 10**6


def events(rng: np.random.Generator, n: int, *, zipf_s: float) -> pa.Table:
    """Click events over 30 days in ``ts`` order. ``user_id`` follows a
    Zipf law with exponent ``zipf_s`` over a shuffled id space. Event
    times are unique, so "latest per key" has no ties."""
    offs = np.sort(rng.integers(0, SPAN_US - n, n)) + np.arange(n)
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    p = ranks**-zipf_s
    users = rng.permutation(N_USERS)[rng.choice(N_USERS, n, p=p / p.sum())]
    ts = np.datetime64(T0, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents(rng: np.random.Generator, n: int, *, dup_share: float) -> pa.Table:
    """Word-salad documents of 10-100 tokens; ``dup_share`` of them repeat
    an earlier document's text with a trailing ``dup`` token."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words.tolist()))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, *, dup_share: float) -> pa.Table:
    """Isotropic unit-norm float32 vectors with random labels;
    ``dup_share`` of them are a copy of an earlier vector plus noise of
    norm ~0.01 (cosine ~0.9999 to their original)."""
    x = rng.normal(size=(n, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    dup = rng.random(n) < dup_share
    dup[:10] = False
    for i in np.flatnonzero(dup):
        j = int(rng.integers(0, i))
        x[i] = x[j] / np.linalg.norm(x[j]) + rng.normal(size=EMB_DIM) * (
            0.01 / np.sqrt(EMB_DIM)
        )
        labels[i] = labels[j]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
                flat,
            ),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def build(spec: dict, seed: int, cache_root: str) -> str:
    """Write the tables ``spec`` names for ``seed`` (once) and return
    their directory. ``spec`` maps table name -> generator kwargs."""
    key = json.dumps(spec, sort_keys=True)
    with open(__file__, "rb") as f:
        code = f.read()
    tag = f"{hashlib.md5(key.encode() + code).hexdigest()[:12]}-{seed}"
    out = os.path.join(cache_root, tag)
    done = os.path.join(out, "_SPEC.json")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    gens = {"events": events, "documents": documents, "embeddings": embeddings}
    for i, (name, kw) in enumerate(sorted(spec.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(gens[name](rng, **kw), os.path.join(out, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(key)
    return out

