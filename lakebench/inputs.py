"""Seeded input generation for the lakebench workloads.

Every table is drawn from numpy generators seeded by (seed, table), so one
seed always gives the same bytes. The tables are written as parquet under
<scratch>/inputs; the program reads them, and so does the DuckDB checker.
`params.properties` there tells the JVM the sizes it needs. The medallion
workloads get only the event stream: the JVM adapts it to the seven raw
bronze sources with the program's own adapter (`Medallion.bronzeSources`).
"""

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.datetime(2024, 1, 1)
EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000

# The shape of the generated sf0.1 `events` table, as measured there:
# 100,000 events over 30 days (3,277-3,383 a day, p10-p90), 1,500 users
# drawn uniformly (56-78 events a user, p10-p90), 100 products (`props`
# {"k": n}) drawn uniformly, the five event types at 20% each, timestamps
# uniform over the day, and `value` in whole cents with mean 49.87,
# median 34.77 and standard deviation 49.56 (an exponential of mean 50).
BASE = dict(events=100_000, days=30, users=1_500, products=100, mean_value=50.0)

# The rounding probe: one fixed customer (even id, so it has a session
# row) with 14 purchases totalling 1,526.35 on a day of its own, before
# the seeded stream starts. Its average order value is exactly 109.025, a
# half-cent tie, whose double quotient 1526.35 / 14 is 109.02499999999999.
# Its rows do not depend on the seed.
PROBE_USER = 999_999_998
PROBE_DAY = dt.datetime(2023, 12, 1)
PROBE_VALUES = [109.00] * 13 + [109.35]

SIZES = {
    # the sf0.1 event stream doubled by a key-shifted copy: 200k events,
    # 3k users, 100 products
    "batch_refresh": dict(copies=2),
    # the sf0.1 event stream; set-up bootstraps 26 of its 30 days, then
    # each later day is one wave (~3.3k events)
    "wave_refresh": dict(copies=1, boot_days=26),
    # 6000 documents (400 near-duplicate families x 5, three suffixed copies),
    # 6000 64-d vectors (2000 around 24 centers, three sign-flipped copies),
    # 64 ad-hoc queries in 8 batches of 8
    "llm_curation": dict(families=400, per_family=5, copies=3, vectors=2000, centers=24,
                         vec_copies=3, query_batches=8, batch_size=8),
}

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
VOCAB = ("batch part spark line column order small sort fast value scan a hash slow group "
         "agg filter query big key window row table stream merge data join vector customer "
         "the index page cache shard plan task file log commit delta").split()


def _rng(seed, table):
    return np.random.default_rng([seed, table])


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def events(seed, copies, base=BASE):
    """The event stream (event_id, ts, user_id, event_type, value, props):
    one seeded stream in the sf0.1 shape, then `copies` - 1 copies of it
    with event and user ids shifted by the stream's size (as ScaleSoak
    scales the generated tables), then the probe customer's purchases."""
    r = _rng(seed, 1)
    n = base["events"]
    ts = _us(START) + r.integers(0, base["days"] * DAY_US, n)
    user = r.integers(0, base["users"], n)
    etype = EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n)]
    cents = np.round(r.exponential(base["mean_value"] * 100, n)).astype(np.int64)
    product = r.integers(0, base["products"], n)
    k = np.repeat(np.arange(copies), n)
    probe_ts = [_us(PROBE_DAY) + 10 * 3_600_000_000 + i * 60_000_000
                for i in range(len(PROBE_VALUES))]
    m = len(PROBE_VALUES)
    return {
        "event_id": np.concatenate([np.tile(np.arange(n), copies) + k * n,
                                    n * copies + np.arange(m)]).astype(np.int64),
        "ts": np.concatenate([np.tile(ts, copies), probe_ts]).astype(np.int64),
        "user_id": np.concatenate([np.tile(user, copies) + k * base["users"],
                                   [PROBE_USER] * m]).astype(np.int64),
        "event_type": np.concatenate([np.tile(etype, copies), ["purchase"] * m]),
        "value": np.concatenate([np.tile(cents, copies) / 100.0, PROBE_VALUES]),
        "product": np.concatenate([np.tile(product, copies), [0] * m]).astype(np.int64),
    }


def events_table(ev):
    return pa.table({
        "event_id": pa.array(ev["event_id"]),
        "ts": pa.array(ev["ts"], pa.timestamp("us")),  # UTC wall time
        "user_id": pa.array(ev["user_id"]),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"]),
        "props": pa.array([f'{{"k": {k}}}' for k in ev["product"]]),
    })


def documents(seed, families, per_family, copies):
    """(doc_id, text): each family's template of 12-60 tokens, copied
    `per_family` times with about one token in twelve replaced, then
    `copies` copies of that base whose tokens carry a per-copy suffix."""
    r = _rng(seed, 2)
    v = len(VOCAB)
    texts = []
    for f in range(families):
        tmpl = r.integers(0, v, r.integers(12, 61))
        for _ in range(per_family):
            toks = tmpl.copy()
            edit = r.integers(0, 12, len(toks)) == 0
            toks[edit] = r.integers(0, v, edit.sum())
            texts.append([VOCAB[t] for t in toks])
    out = [" ".join(t) if c == 0 else " ".join(f"{w}_c{c}" for w in t)
           for c in range(copies) for t in texts]
    return pa.table({"doc_id": pa.array(np.arange(len(out), dtype=np.int64)),
                     "text": pa.array(out)})


def embeddings(seed, n, centers, copies):
    """(vec_id, embedding float[64], label): `n` vectors around seeded
    centers, then copies whose components flip sign by a per-copy
    pattern (orthogonal: same geometry within a copy, decorrelated
    across copies)."""
    r = _rng(seed, 3)
    c = r.uniform(-1, 1, (centers, 64))
    label = r.integers(0, centers, n)
    base = c[label] + r.uniform(-1, 1, (n, 64)) * 0.35
    signs = np.where(r.integers(0, 2, (copies, 64)) == 0, 1.0, -1.0)
    signs[0] = 1.0
    vecs = np.concatenate([base * signs[k] for k in range(copies)]).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n * copies, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.tile(label, copies).astype(np.int32)),
    }), vecs


def queries(seed, vecs, n):
    """(query_id, qe float[64]): small perturbations of seeded corpus vectors."""
    r = _rng(seed, 4)
    pick = r.integers(0, len(vecs), n)
    qe = (vecs[pick] + r.integers(-100, 101, (n, 64)) / 1000.0).astype(np.float32)
    return pa.table({"query_id": pa.array(np.arange(n, dtype=np.int64)),
                     "qe": pa.array(list(qe), pa.list_(pa.float32()))})


def write(workload, seed, scratch):
    """Write the workload's inputs under <scratch>/inputs; returns the
    parameters the JVM reads."""
    return _write(workload, seed, os.path.join(scratch, "inputs"), SIZES[workload])


def _write(workload, seed, d, sizes, base=BASE):
    os.makedirs(d)
    p = dict(sizes)
    if workload in ("batch_refresh", "wave_refresh"):
        ev = events(seed, p["copies"], base)
        pq.write_table(events_table(ev), os.path.join(d, "events.parquet"))
        p["events"] = base["events"] * p["copies"]
        p["days"] = base["days"]
        p["probe_day"] = PROBE_DAY.date().isoformat()
    else:
        pq.write_table(documents(seed, p["families"], p["per_family"], p["copies"]),
                       os.path.join(d, "documents.parquet"))
        emb, vecs = embeddings(seed, p["vectors"], p["centers"], p["vec_copies"])
        pq.write_table(emb, os.path.join(d, "embeddings.parquet"))
        pq.write_table(queries(seed, vecs, p["query_batches"] * p["batch_size"]),
                       os.path.join(d, "queries.parquet"))
        p["docs"] = p["families"] * p["per_family"] * p["copies"]
    with open(os.path.join(d, "params.properties"), "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in sorted(p.items()))
    return p
