#!/usr/bin/env python3
"""Summarize the full-registry two-decade sweep: per-query sf10/sf1 ratios,
totals, medians, and the >3x tail, from target/bench_fullreg_{sf1,sf10}.json
(written by tools/sf_fullreg_sweep.sh). Dev-only reporting tool.

--isolate: every query whose in-leg ratio exceeds ISOLATE_THRESHOLD (10x)
is re-measured in a FRESH JVM per scale (tools/runjava.sh graft.Bench
<sfdir> <query>, single run to match the sweep estimator) and the report
gains an isolated_ratio column. Rationale (BENCH_SF10.md round-10
methodology note): a long single-JVM sweep ages — cached plans/broadcasts
pile up and ContextCleaner lags — so an in-leg >10x row can be leg-context
inflation rather than the query's own scaling (d_token_jaccard measured
24.6x in-leg vs 6.4x isolated on one build). The isolated number is the
one to read for algorithmic scaling.
"""
import json
import os
import subprocess
import sys

ISOLATE_THRESHOLD = 10.0


def isolated_time(sfdir, query):
    """Time one query in a fresh JVM (single run, matching the sweep's
    estimator). Returns seconds or None on failure. Reads the full-precision
    target/bench_full.json the run writes, NOT the compact stdout line whose
    values are rounded to 0.01s (sub-10ms queries would round to 0.00 and
    be dropped by truthiness checks downstream)."""
    env = dict(os.environ, SPARK_GRAFT_BENCH_RUNS="1")
    try:
        subprocess.run(
            ["tools/runjava.sh", "graft.Bench", sfdir, query],
            capture_output=True, text=True, env=env, cwd="/root/repo",
            timeout=7200)
        full = json.load(open("/root/repo/target/bench_full.json"))
        return full["queries"].get(query)
    except Exception as e:  # dev tool: report, don't abort the sweep report
        print(f"  [isolate] {query} @ {sfdir} failed: {e}", file=sys.stderr)
        return None


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    isolate = "--isolate" in sys.argv
    base = args[0] if args else "target"
    sf1_dir = args[1] if len(args) > 1 else "target/sf1"
    sf10_dir = args[2] if len(args) > 2 else "target/sf10"
    a = json.load(open(f"{base}/bench_fullreg_sf1.json"))
    b = json.load(open(f"{base}/bench_fullreg_sf10.json"))
    qa, qb = a["queries"], b["queries"]
    shared = sorted(set(qa) & set(qb))
    only_a = sorted(set(qa) - set(qb))
    only_b = sorted(set(qb) - set(qa))
    rows = [(n, qa[n], qb[n], qb[n] / qa[n] if qa[n] > 0 else float("inf"))
            for n in shared]
    rows.sort(key=lambda r: -r[3])
    tot1 = sum(qa[n] for n in shared)
    tot10 = sum(qb[n] for n in shared)
    rats = sorted(r[3] for r in rows)
    med = rats[len(rats) // 2]
    print(f"shared queries: {len(shared)}  sf1 total {tot1:.1f}s  "
          f"sf10 total {tot10:.1f}s  ratio {tot10/tot1:.2f}x  median {med:.2f}x")
    # load_avg is absent from pre-r10 bench JSONs; don't abort the report
    la1, la10 = a.get("load_avg"), b.get("load_avg")
    fmt_la = lambda v: f"{v:.1f}" if isinstance(v, (int, float)) else "n/a"
    print(f"failed sf1: {a.get('failed')}  failed sf10: {b.get('failed')}  "
          f"load sf1 {fmt_la(la1)} sf10 {fmt_la(la10)}  "
          f"hygiene {a.get('hygiene', 'none')}")
    over3 = [r for r in rows if r[3] > 3]
    print(f">3x: {len(over3)}   >10x: {len([r for r in rows if r[3] > 10])}")

    iso = {}
    if isolate:
        flagged = [r for r in rows if r[3] > ISOLATE_THRESHOLD]
        print(f"[isolate] re-measuring {len(flagged)} queries >"
              f"{ISOLATE_THRESHOLD:.0f}x in fresh JVMs "
              f"({sf1_dir} / {sf10_dir}) ...")
        for n, _, _, _ in flagged:
            t1 = isolated_time(sf1_dir, n)
            t10 = isolated_time(sf10_dir, n)
            # `is not None`, not truthiness: a legitimate 0.0s isolated
            # measurement must not silently vanish from the iso columns
            if t1 is not None and t10 is not None and t1 > 0:
                iso[n] = (t1, t10, t10 / t1)
            elif t1 is not None and t10 is not None:
                iso[n] = (t1, t10, float("inf"))

    hdr = f"{'query':34s} {'sf1':>8s} {'sf10':>9s} {'ratio':>7s}"
    if isolate:
        hdr += f" {'iso_sf1':>8s} {'iso_sf10':>9s} {'iso_ratio':>9s}"
    print(hdr)
    # print the top 30 by ratio, plus EVERY row with an isolated re-measure
    # (computing an isolated number and then not displaying it wastes a JVM)
    shown = rows[:30] + [r for r in rows[30:] if r[0] in iso]
    for n, t1, t10, r in shown:
        line = f"{n:34s} {t1:8.2f} {t10:9.2f} {r:6.1f}x"
        if n in iso:
            i1, i10, ir = iso[n]
            line += f" {i1:8.2f} {i10:9.2f} {ir:8.1f}x"
        print(line)
    if only_a or only_b:
        print("only-sf1:", only_a, " only-sf10:", only_b)


if __name__ == "__main__":
    main()
