"""Output checks (run after the timed region) and the stream workload's
derived figures."""
import json
import os
import re

import numpy as np
import pyarrow.parquet as pq

import stats

SAMPLE = 25


def check(workload, res, inp, out, seed):
    """Returns (correct, attempted, failed, notes)."""
    if workload == "serve":
        return check_serve(res, inp, seed)
    if workload in ("eval", "corpus"):
        return check_oracle(workload, res, inp, out)
    return check_stream(res)


def _ops(res):
    lat = res["latency_ms"] + res.get("traced_latency_ms", [])
    failed = res.get("failed_ops", 0) + res.get("traced_failed_ops", 0)
    return len(lat) + failed, failed


def check_serve(res, inp, seed):
    """A seeded sample of responses against an independent brute-force
    cosine top-k, seen-item exclusion and linear re-rank in numpy."""
    cfg = json.load(open(f"{inp}/serve.json"))
    items = pq.read_table(f"{inp}/items.parquet").to_pydict()
    iv = np.array(items["embedding"], dtype=np.float64)
    ids = np.array(items["vec_id"])
    inorm = iv / np.linalg.norm(iv, axis=1, keepdims=True)
    rerank = iv @ np.array(cfg["weights"])
    names = dict(zip(*pq.read_table(f"{inp}/part.parquet").to_pydict().values()))
    uf = pq.read_table(f"{inp}/user_features.parquet").to_pandas()
    now = np.datetime64(cfg["now_s"], "s")
    ttl = np.timedelta64(cfg["ttl_s"], "s")
    uf = uf[(uf.ts <= now) & (uf.ts >= now - ttl)]
    latest = uf.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)
    uvec = dict(zip(latest.user_id, latest.embedding))
    seen = pq.read_table(f"{inp}/seen.parquet").to_pandas()
    seen_by = seen.groupby("user_id").item_id.apply(set).to_dict()
    rng = np.random.default_rng(seed)
    resp = res["responses"]
    picks = rng.choice(len(resp), size=min(SAMPLE, len(resp)), replace=False)
    bad = []
    for i in picks:
        u, rows = resp[i]["user"], resp[i]["rows"]
        want = []
        if u in uvec:
            q = np.array(uvec[u], dtype=np.float64)
            cos = inorm @ (q / np.linalg.norm(q))
            order = sorted(range(len(ids)), key=lambda j: (-cos[j], ids[j]))[:cfg["k"]]
            cand = [j for j in order if ids[j] not in seen_by.get(u, set())]
            cand.sort(key=lambda j: (-rerank[j], ids[j]))
            want = [(int(ids[j]), cos[j], rerank[j], names[int(ids[j])])
                    for j in cand[:cfg["n"]]]
        got = [(r[1], r[2], r[3], r[4]) for r in rows]
        same = len(got) == len(want) and all(
            g[0] == w[0] and g[3] == w[3] and abs(g[1] - w[1]) < 1e-5
            and abs(g[2] - w[2]) < 1e-9 * max(1.0, abs(w[2]))
            for g, w in zip(got, want))
        if not same:
            bad.append(u)
    attempted, failed = _ops(res)
    notes = [f"serve check: {len(picks) - len(bad)}/{len(picks)} sampled responses match"]
    return not bad and failed == 0, attempted, failed, notes


def materialized(sql):
    """The oracle with each non-recursive CTE marked AS MATERIALIZED.
    An evaluation hint only: DuckDB otherwise re-evaluates a CTE at every
    reference, which makes the corpus oracle take ~30 s. The result is the
    same query's."""
    return re.sub(r"(?m)(^|,\s*|WITH RECURSIVE\s+)([a-z_][a-z_0-9]*) AS \(",
                  lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def check_oracle(workload, res, inp, out):
    """The registry's DuckDB oracle over the same generated inputs,
    compared as the repository's tools/check.py does: columns by name,
    rows sorted, exact values and dtypes."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={len(os.sched_getaffinity(0))}")
    for f in os.listdir(inp):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inp}/{f}')")
    sql = open(f"{out}/oracle.sql").read()
    ddf = con.execute(materialized(sql)).df()
    sdf = pq.read_table(f"{out}/result.parquet").to_pandas()
    attempted, failed = _ops(res)
    msg = compare(sdf, ddf)
    notes = [f"{workload} oracle: {msg or 'match'} ({len(sdf)} rows)"]
    return msg is None and failed == 0, attempted, failed, notes


def compare(sdf, ddf):
    sdf = sdf[sorted(sdf.columns)]
    ddf = ddf[sorted(ddf.columns)]
    if list(sdf.columns) != list(ddf.columns):
        return f"columns differ: {list(sdf.columns)} vs {list(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"row count {len(sdf)} vs {len(ddf)}"
    cols = list(sdf.columns)
    sdf = sdf.sort_values(by=cols).reset_index(drop=True)
    ddf = ddf.sort_values(by=cols).reset_index(drop=True)
    for c in cols:
        a, b = sdf[c], ddf[c]
        if str(a.dtype) != str(b.dtype):
            return f"column {c} dtype {a.dtype} vs {b.dtype}"
        eq = (a.isna() & b.isna()) | (a == b)
        if not eq.all():
            i = int((~eq).idxmax())
            return f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def candidates_per_result(res):
    """Similarity candidates retrieved per result returned (serve)."""
    spans = res.get("spans", [])
    cand = sum(s["rows"] for s in spans if s["name"] == "ops.similarity")
    last = {}
    for s in spans:
        if s["parent"] == -1 and (s["op"] not in last or s["id"] > last[s["op"]]["id"]):
            last[s["op"]] = s
    results = sum(s["rows"] for s in last.values())
    return cand / results if cand and results else 0.0


# ---- stream ---------------------------------------------------------------

def _live(res):
    """(due_ms, offset) of every live event."""
    return [(due, off) for _, due, _, off in res["events"]]


def _committed(res):
    return [(b["start_offset"], b["end_offset"],
             b["start_ms"] + b["durations"].get("triggerExecution", 0))
            for b in res["batches"]]


def stream_freshness(res):
    """Freshness of the live events; the backlog is measured by the drain
    rate instead."""
    return stats.freshness(_live(res), _committed(res))


def stream_censored(res):
    """Ages at the end of the run of the events never made visible: lower
    bounds on their freshness."""
    committed = _committed(res)
    end = max([t for _, _, t in committed] + [e[2] for e in res["events"]])
    return [end - due for due, off in _live(res)
            if not any(s < off <= e for s, e, _ in committed)]


def stream_drain(res):
    """Backlog events per second, from the drain start to the end of the
    micro-batch that committed the backlog."""
    done = [t for s, e, t in _committed(res) if s < res["backlog_offset"] <= e]
    if not done:
        return 0.0
    return res["backlog"] / ((min(done) - res["drain_start_ms"]) / 1000.0)


def check_stream(res):
    _, live_missing = stream_freshness(res)
    backlog_missing = 0 if stream_drain(res) else res["backlog"]
    batches_failed = len(res["failures"])
    attempted = res["backlog"] + len(res["events"]) + len(res["batches"]) + batches_failed
    failed = backlog_missing + live_missing + batches_failed
    notes = [f"stream: {f['location']} {f['error'][:160]}" for f in res["failures"]]
    notes.append(f"stream check: {res['check_missing_rows']} of "
                 f"{res['check_expected_rows']} expected store rows missing, "
                 f"{res['check_extra_rows']} unexpected")
    ok = res["check_missing_rows"] == 0 and res["check_extra_rows"] == 0
    return ok and failed == 0, attempted, failed, notes


def stream_layers(res):
    b = res["batches"]

    def med(key):
        v = [x["durations"].get(key, 0) for x in b]
        return stats.median(v) if v else 0.0
    late = stats.lateness([(due, sent) for _, due, sent, _ in res["events"]])
    data = [x for x in b if x["rows"] > 0]
    return {
        "streaming.trigger_ms": {"value": med("triggerExecution"), "unit": "ms"},
        "streaming.add_batch_ms": {"value": med("addBatch"), "unit": "ms"},
        "streaming.planning_ms": {"value": med("queryPlanning"), "unit": "ms"},
        "streaming.wal_ms": {"value": med("walCommit"), "unit": "ms"},
        "streaming.commit_ms": {"value": med("commitOffsets"), "unit": "ms"},
        "streaming.state_rows": {"value": max((x["state_rows"] for x in b), default=0), "unit": "count"},
        "streaming.state_mb": {"value": max((x["state_bytes"] for x in b), default=0) / 2**20, "unit": "MB"},
        "streaming.batches_failed": {"value": len(res["failures"]), "unit": "count"},
        "streaming.nodata_batches": {"value": len(b) - len(data), "unit": "count"},
        "ops.featurestore.buckets_rewritten_frac": {
            "value": stats.median([x["buckets"] / 64.0 for x in data]) if data else 0.0,
            "unit": "ratio"},
        "loadgen.late_p99_ms": {"value": stats.percentile(late, 99) or 0.0, "unit": "ms"},
        "loadgen.sent": {"value": len(res["events"]), "unit": "count"},
    }
