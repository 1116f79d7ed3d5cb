"""Seeded input generation for the benchmark workloads.

Every table mirrors the shape of the sf0.1 test tables (row counts, key
domains, value ranges and schemas). Each workload has a fixed base part,
drawn from BASE_SEED, and a part drawn from the run's --seed:

  serve   base: 2,000-item catalog, 20,000 parts, 1,500 users' feature rows
                and seen items.  seed: the Zipf request sequence.
  eval    base: 150,000 orders and 600,000 line items.  seed: a permutation
                of the 15,000 customer ids and a ship-date jitter of
                -3..+3 days per line item.
  corpus  base: 5,000 documents.  seed: the planted duplicate share
                (8-12 %) and which documents are copied and how.
  stream  base: none.  seed: the backlog and the live bursts.

Keeping the bulk of each input fixed keeps the work per run nearly equal
across seeds, so the run-to-run spread measures the program, not the input.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
# 2024-02-01T00:00:00Z: the serving "now" and the base of generated event times
NOW_S = 1706745600
DIM = 64
N_ITEMS = 2000
N_PARTS = 20000
N_USERS = 1500
N_CUSTOMERS = 15000
N_ORDERS = 150000
N_LINEITEMS = 600000
N_DOCS = 5000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
PART_WORDS = (["large", "small", "hot", "blue", "red", "green", "steel", "tiny"],
              ["ring", "bolt", "anvil", "widget", "gear", "nut", "spring", "valve"])
# serve: feature-view TTL and the re-rank weights (one per embedding lane)
TTL_S = 30 * 86400
WEIGHTS = [((j * 37) % 19 - 9) / 10.0 for j in range(DIM)]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _ts(seconds):
    """Epoch seconds (float or int array) -> pyarrow timestamp[us] array."""
    us = np.round(np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    return pa.array(us, type=pa.timestamp("us"))


def zipf_ranks(rng, n_keys, size, s=1.1):
    """`size` draws from a Zipf(s) law over `n_keys` keys, with the key of
    each popularity rank chosen by a seeded permutation."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    p /= p.sum()
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=p)]


def gen_serve(out, seed):
    base = np.random.default_rng(BASE_SEED)
    items = base.normal(0.0, 0.1, size=(N_ITEMS, DIM)).astype(np.float32)
    _write(f"{out}/items.parquet", {
        "vec_id": pa.array(np.arange(N_ITEMS, dtype=np.int64)),
        "embedding": pa.array(list(items), type=pa.list_(pa.float32())),
        "label": pa.array(base.integers(0, 10, N_ITEMS, dtype=np.int32))})
    a = base.integers(0, len(PART_WORDS[0]), N_PARTS)
    b = base.integers(0, len(PART_WORDS[1]), N_PARTS)
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(N_PARTS, dtype=np.int64)),
        "p_name": pa.array([f"{PART_WORDS[0][i]} {PART_WORDS[1][j]}"
                            for i, j in zip(a, b)])})
    # 1-3 feature rows per user; the user vector leans toward one item
    per_user = base.integers(1, 4, N_USERS)
    uid = np.repeat(np.arange(N_USERS, dtype=np.int64), per_user)
    n = len(uid)
    anchor = items[base.integers(0, N_ITEMS, n)]
    uvec = (anchor + base.normal(0.0, 0.05, size=(n, DIM))).astype(np.float32)
    _write(f"{out}/user_features.parquet", {
        "user_id": pa.array(uid),
        "ts": _ts(NOW_S - base.integers(60, 20 * 86400, n)),
        "event_id": pa.array(base.permutation(n).astype(np.int64)),
        "embedding": pa.array(list(uvec), type=pa.list_(pa.float32()))})
    n_seen = N_USERS * 20
    _write(f"{out}/seen.parquet", {
        "user_id": pa.array(base.integers(0, N_USERS, n_seen).astype(np.int64)),
        "item_id": pa.array(zipf_ranks(base, N_ITEMS, n_seen, 0.8).astype(np.int64)),
        "ts": _ts(NOW_S - base.integers(60, 60 * 86400, n_seen))})
    rng = np.random.default_rng(seed)
    reqs = zipf_ranks(rng, N_USERS, 4000)
    with open(f"{out}/requests.txt", "w") as f:
        f.write("\n".join(str(int(u)) for u in reqs) + "\n")
    with open(f"{out}/serve.json", "w") as f:
        json.dump({"now_s": NOW_S, "ttl_s": TTL_S, "k": 100, "n": 10,
                   "weights": WEIGHTS}, f)


def gen_eval(out, seed):
    base = np.random.default_rng(BASE_SEED)
    day = 86400
    d0 = 788918400  # 1995-01-01
    o_custkey = base.integers(0, N_CUSTOMERS, N_ORDERS)
    o_orderdate = d0 + base.integers(0, 2405, N_ORDERS) * day
    l_orderkey = base.integers(0, N_ORDERS, N_LINEITEMS)
    l_partkey = base.integers(0, N_PARTS, N_LINEITEMS)
    l_quantity = base.integers(1, 51, N_LINEITEMS).astype(np.float64)
    ship_day = base.integers(1, 2499, N_LINEITEMS)
    rng = np.random.default_rng(seed)
    cust_perm = rng.permutation(N_CUSTOMERS)
    ship_day = ship_day + rng.integers(-3, 4, N_LINEITEMS)
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(cust_perm[o_custkey].astype(np.int64)),
        "o_orderdate": _ts(o_orderdate)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(l_orderkey.astype(np.int64)),
        "l_partkey": pa.array(l_partkey.astype(np.int64)),
        "l_quantity": pa.array(l_quantity),
        "l_shipdate": _ts(d0 + ship_day * day)})


def _vocab(rng, n):
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "da",
           "fe", "gi", "ho", "ju", "pe", "qi", "xa", "yo", "wu", "be"]
    words = set()
    while len(words) < n:
        k = rng.integers(2, 4)
        words.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def gen_corpus(out, seed):
    base = np.random.default_rng(BASE_SEED)
    vocab = np.array(_vocab(base, 3000))
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.0
    p /= p.sum()
    lens = base.integers(8, 91, N_DOCS)
    toks = [list(vocab[base.choice(len(vocab), size=k, p=p)]) for k in lens]
    lang = list(base.choice(LANGS, size=N_DOCS, p=LANG_P))
    source = [f"src{i % 20}" for i in base.permutation(N_DOCS)]
    rng = np.random.default_rng(seed)
    share = 0.08 + 0.04 * rng.random()
    n_dup = int(round(share * N_DOCS))
    long_docs = np.flatnonzero(lens >= 30)
    texts = [" ".join(t) for t in toks]
    for i in range(n_dup):
        src = int(long_docs[rng.integers(0, len(long_docs))])
        t = list(toks[src])
        kind = rng.integers(0, 3)
        if kind == 0:  # exact duplicate up to case and whitespace
            text = "  ".join(t).upper()
        else:  # near duplicate: ~5 % of tokens replaced
            for j in rng.choice(len(t), size=max(1, len(t) // 20), replace=False):
                t[j] = vocab[rng.integers(0, len(vocab))]
            text = " ".join(t)
        texts.append(text)
        lang.append(lang[src])
        source.append(source[src])
    n = len(texts)
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    return share


def gen_stream(out, seed, seconds):
    """Backlog events (event times in the past, for the drain phase) and
    a live schedule of bursts separated by idle gaps. Live events carry no
    timestamp: the generator stamps each with its creation time."""
    rng = np.random.default_rng(seed)
    n_backlog = 20000
    t0 = NOW_S - 3 * 3600
    bts = np.sort(t0 + rng.random(n_backlog) * 7200)
    _write(f"{out}/backlog.parquet", {
        "event_id": pa.array(np.arange(n_backlog, dtype=np.int64)),
        "ts": _ts(bts),
        "user_id": pa.array(zipf_ranks(rng, N_USERS, n_backlog).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_backlog)),
        "value": pa.array(np.round(rng.random(n_backlog) * 500, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_backlog)])})
    # bursts of 200 events every 2 s; a burst lasts ~0.2 s, so each idle
    # gap (~1.8 s) is far longer than a trigger of the default trigger
    burst, period_ms, spread_ms = 200, 2000, 200
    n_bursts = max(1, int(seconds * 1000 // period_ms))
    rows = []
    eid = n_backlog
    for b in range(n_bursts):
        offs = np.sort(rng.random(burst) * spread_ms)
        users = zipf_ranks(rng, N_USERS, burst)
        kinds = rng.choice(EVENT_TYPES, burst)
        vals = np.round(rng.random(burst) * 500, 2)
        for o, u, k, v in zip(offs, users, kinds, vals):
            rows.append(f"{eid},{b * period_ms + o:.3f},{int(u)},{k},{v:.2f}")
            eid += 1
    with open(f"{out}/live.csv", "w") as f:
        f.write("\n".join(rows) + "\n")
    return n_backlog, len(rows)


def generate(workload, out, seed, seconds):
    os.makedirs(out, exist_ok=True)
    info = {"workload": workload, "seed": seed}
    if workload == "serve":
        gen_serve(out, seed)
    elif workload == "eval":
        gen_eval(out, seed)
    elif workload == "corpus":
        info["dup_share"] = gen_corpus(out, seed)
    elif workload == "stream":
        info["backlog"], info["live"] = gen_stream(out, seed, seconds)
    else:
        raise ValueError(f"unknown workload {workload}")
    return info
