"""Seeded inputs for the three workloads.

Each table has a fixed *shape* and seeded *values*:

- The shape comes from ``BASE_SEED`` and the size: tick timestamps,
  symbols and users; document lengths, languages, sources and which
  documents are exact or near copies of which; embedding labels and base
  directions. Row counts therefore never depend on ``--seed``.
- The run seed salts three things, the way ``graft.DataGen`` varies its
  replicas: the tick price jitter (prices stay at 2 decimals), the word
  order of each document family (copies share their original's order, so
  near-duplicates stay near-duplicates), and the embedding jitter.

The shape follows the repository's ``sf0.1`` test tables: five symbols with
~26 s between ticks, 1500 users, ``{"k": n}`` props; 10-100 words over a
30-word vocabulary, 20 sources, 41% English, 0.16% exact and 5%
near-duplicate documents (a copy with the token ``dup`` inserted near its
end); 64-dimensional unit float32 vectors with 10 labels.
"""
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
SYMBOLS = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMBED_DIM = 64
START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
MEAN_GAP_US = 26_000_000


def _rng(*salt):
    return np.random.default_rng([BASE_SEED, *salt])


def events(n, seed, dup_rate=0.0):
    """Ticks in time order. ``dup_rate`` re-sends that share of messages
    verbatim right after the original (an at-least-once feed), so a
    streaming dedup has work; the re-sent rows keep their event_id."""
    r = _rng(1, n)
    gaps = np.maximum(1, r.exponential(MEAN_GAP_US, n)).astype(np.int64)
    ts = START_US + np.cumsum(gaps)
    sym = r.integers(0, len(SYMBOLS), n)
    user = r.integers(0, 1500, n)
    k = r.integers(0, 100, n)
    base = np.clip(r.exponential(50.0, n), 0.5, 560.0)
    jitter = np.random.default_rng([BASE_SEED, 2, seed]).uniform(-0.01, 0.01, n)
    value = np.maximum(0.01, np.round(base * (1.0 + jitter), 2))
    idx = np.arange(n)
    if dup_rate > 0:
        resent = np.flatnonzero(r.random(n) < dup_rate)
        idx = np.sort(np.concatenate([idx, resent]), kind="stable")
    return pa.table({
        "event_id": pa.array(idx, pa.int64()),
        "ts": pa.array(ts[idx], pa.timestamp("us")),
        "user_id": pa.array(user[idx], pa.int64()),
        "event_type": pa.array([SYMBOLS[i] for i in sym[idx]], pa.string()),
        "value": pa.array(value[idx], pa.float64()),
        "props": pa.array([f'{{"k": {v}}}' for v in k[idx]], pa.string()),
    })


def documents(n, seed):
    r = _rng(3, n)
    lengths = r.integers(10, 101, n)
    words = [r.integers(0, len(VOCAB), m) for m in lengths]
    lang = r.choice(len(LANGS), n, p=LANG_P)
    # copy plan: family root of every doc (itself unless it is a copy)
    root = np.arange(n)
    kind = r.random(n)
    earlier = (r.random(n) * np.arange(n)).astype(np.int64)
    exact = (kind < 0.0016) & (root > 0)
    near = (kind >= 0.0016) & (kind < 0.0516) & (root > 0)
    root[exact | near] = earlier[exact | near]
    while np.any(root != root[root]):  # copies of copies join the first root
        root = root[root]
    dup_at = r.uniform(0.83, 1.0, n)
    shuf = np.random.default_rng([BASE_SEED, 4, seed])
    family = {}  # root -> its seeded word order; copies reuse it
    texts = [None] * n
    for i in range(n):
        fam = root[i]
        if fam == i:
            w = words[i]
            family[i] = [VOCAB[j] for j in w[shuf.permutation(len(w))]]
        toks = family[fam]
        if near[i]:
            pos = int(dup_at[i] * len(toks))
            toks = toks[:pos] + ["dup"] + toks[pos:]
        texts[i] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(n, seed):
    r = _rng(6, n)
    base = r.standard_normal((n, EMBED_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    label = r.integers(0, 10, n).astype(np.int32)
    noise = np.random.default_rng([BASE_SEED, 7, seed]).uniform(-1, 1, (n, EMBED_DIM))
    v = base + 0.1 / np.sqrt(EMBED_DIM) * noise
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel(), pa.float32()), EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _ts_text(us):
    s, frac = divmod(int(us), 1_000_000)
    return np.datetime_as_string(np.datetime64(s, "s"), unit="s").replace("T", " ") + f".{frac:06d}"


def message_lines(tbl):
    """One JSON message per tick, in ``StreamPipelines.toJsonFeed``'s shape."""
    cols = tbl.to_pydict()
    ts_us = tbl.column("ts").cast(pa.int64()).to_pylist()
    out = []
    for i in range(tbl.num_rows):
        out.append(json.dumps({
            "event_id": cols["event_id"][i], "ts": _ts_text(ts_us[i]),
            "user_id": cols["user_id"][i], "event_type": cols["event_type"][i],
            "value": cols["value"][i], "props": cols["props"][i],
        }, separators=(",", ":")))
    return out


def write_feed(tbl, out_dir, n_files):
    """Split the message stream into ``n_files`` files in time order, with
    strictly increasing modification times so a file source takes them in
    that order."""
    out_dir.mkdir(parents=True)
    lines = message_lines(tbl)
    bounds = np.linspace(0, len(lines), n_files + 1).astype(int)
    now = time.time()
    for f in range(n_files):
        path = out_dir / f"part-{f:05d}.json"
        path.write_text("\n".join(lines[bounds[f]:bounds[f + 1]]) + "\n")
        os.utime(path, (now - n_files + f, now - n_files + f))


def write_table(tbl, path):
    pq.write_table(tbl, path)
