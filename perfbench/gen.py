"""Seeded input tables for the benchmark workloads.

Writes parquet files shaped like the repository's test data (see
FIXTURES.md, section B): ``events``, ``documents`` and ``embeddings``.
The same seed always gives byte-identical tables.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
VOCAB = np.array([
    "row", "the", "query", "stream", "value", "hash", "batch", "sort", "data",
    "big", "filter", "dup", "fast", "spark", "line", "small", "customer",
    "group", "key", "agg", "scan", "slow", "table", "part", "a", "merge",
    "window", "order", "column", "join", "vector"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.44, 0.14, 0.14, 0.13, 0.15])
DAYS = 30
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def events(seed, n):
    """``n`` events over 30 days, event_id in event-time order."""
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, DAYS * 86_400_000_000, n)) + START_US
    users = max(150, n * 15 // 1000)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k]),
    })


def documents(seed, n):
    """``n`` word-salad documents; about a fifth are exact or edited
    copies of an earlier document, so every duplicate check has hits."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.2:
            words = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n, dim=64):
    """``n`` vectors loosely around 10 labelled centres (vec_id ==
    doc_id); about a tenth are tiny perturbations of an earlier vector,
    the only pairs above the semantic-duplicate cosine floor."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(0.0, 0.03, (10, dim))
    label = rng.integers(0, 10, n)
    vecs = centres[label] + rng.normal(0.0, 0.1, (n, dim))
    for i in range(10, n):
        if rng.random() < 0.1:
            j = rng.integers(0, i)
            vecs[i] = vecs[j] + rng.normal(0.0, 0.002, dim)
            label[i] = label[j]
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


ENVELOPE_TYPE = {"purchase": "tariff_switch", "signup": "user_login",
                 "click": "incentive_claim", "view": "bill_payment",
                 "error": "energy_consumed"}


def envelopes(table):
    """The events as reference-shaped JSONL envelopes (FIXTURES.md A.1),
    mapped as graft.StreamBench maps them, in event_id order."""
    cols = table.to_pydict()
    out = []
    for eid, ts, uid, et, v in zip(cols["event_id"], cols["ts"], cols["user_id"],
                                   cols["event_type"], cols["value"]):
        payload = {"customer_id": f"CUST{uid}", "session_id": eid % 100000,
                   "channel": "web_portal"}
        if et in ("purchase", "click"):
            payload["tariff_type"] = "green" if v >= 100 else "basic"
        if et == "error":
            payload["energy_consumed"] = v
        if et in ("purchase", "view"):
            payload["payment_amount"] = v
        out.append(json.dumps({"event_type": ENVELOPE_TYPE[et],
                               "event_time": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                               "payload": payload}, separators=(",", ":")))
    return out


def write(out_dir, seed, n_events=0, n_docs=0, n_vecs=0, jsonl=False):
    os.makedirs(out_dir, exist_ok=True)
    if n_events:
        ev = events(seed, n_events)
        pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
        if jsonl:
            with open(os.path.join(out_dir, "events.jsonl"), "w") as f:
                f.write("\n".join(envelopes(ev)) + "\n")
    if n_docs:
        pq.write_table(documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    if n_vecs:
        pq.write_table(embeddings(seed, n_vecs), os.path.join(out_dir, "embeddings.parquet"))
