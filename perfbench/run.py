#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve|eval|corpus|stream \\
      --seed N --seconds S --trace 0|1

Builds the program with the benchmark's Spark process (once per source
state), writes the seeded inputs, runs the workload in one Spark JVM at
local[nproc], checks its outputs, and prints
{"correct", "attempted", "failed", "metrics"} as the last line of stdout.
--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170
# A fixed heap, young generation and collector: with them the resident set
# follows the data the program retains, not the collector's region choices
# (with G1 the runs' VmHWM spread by ~20 %).
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# layers with spans on the workloads of BENCHMARK.json
LAYERS = ["sources", "ops.featurestore", "ops.relational", "ops.similarity",
          "ops.dedup", "ops.text", "ops.inference", "eval", "query"]
LAYER_METRICS = [("calls", "count"), ("plan_ms", "ms"), ("plan_jobs", "count"),
                 ("exec_ms", "ms"), ("self_ms", "ms"), ("jobs", "count"),
                 ("tasks", "count"), ("cpu_s", "s"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"), ("rows_out", "count")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha1()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark's Spark process; return the
    runtime classpath. Skipped when the sources are unchanged."""
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            timeout=850)
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and "scala" in ln), None)
    if cp is None:
        fail(f"no classpath in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn768m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main"]
           + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"Spark process timed out, see {log}")
    return p.returncode


def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(w, res, setup_s):
    """The end-to-end metrics, mapped onto each workload's operation."""
    if w == "stream":
        # an event never made visible ranks beyond every percentile; it
        # enters at its age when the run ended, a lower bound
        fresh, _ = checks.stream_freshness(res)
        cens = checks.stream_censored(res)
        p50 = stats.percentile_censored(fresh, cens, 50)
        tail = stats.percentile_censored(fresh, cens, 95)
        drain = checks.stream_drain(res)
        ops = drain
    else:
        lat = res["latency_ms"]
        failed = res.get("failed_ops", 0)
        p50 = stats.percentile(lat, 50, failed)
        tail = stats.percentile(lat, 90, failed)
        ops = len(lat) / (sum(lat) / 1000.0) if lat else 0.0
    return {
        "p50_ms": metric(p50, "ms"),
        "tail_ms": metric(tail, "ms"),
        "ops_per_s": metric(ops, "1/s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
    }


def per_layer(w, res, cores):
    lat = res.get("traced_latency_ms") or []
    # per traced operation; for stream, per committed micro-batch
    ops = max(1, len(res["batches"]) if w == "stream" else len(lat))
    wall_ms = res["wall_ms"] if w == "stream" else sum(lat) or 1.0
    spans = res.get("spans", [])
    groups = res.get("groups", {})
    run_ids = set(res.get("run_ids", []))
    span_groups = {g: c for g, c in groups.items() if stats.span_of_group(g)[0] is not None}
    stream_groups = {g: c for g, c in groups.items() if g in run_ids}
    layers = stats.attribute(spans, span_groups)
    if stream_groups:
        layers["streaming"] = stats.attribute([], stream_groups)["unattributed"]
    counted = {**span_groups, **stream_groups}
    out = {}
    names = LAYERS + (["streaming"] if w == "stream" else [])
    for L in names:
        vals = layers.get(L, {})
        for m, unit in LAYER_METRICS:
            out[f"{L}.{m}"] = metric(vals.get(m, 0) / ops, unit)
    # the tracer's own row counts (group "trace") occupy cores too
    busy = list(counted.values()) + [groups.get("trace", {})]
    tot = {k: sum(c.get(k, 0) for c in busy) for k in stats.COUNTERS}
    leaks = res.get("leaks", [])
    out.update({
        "spark.jobs_per_op": metric(sum(c["jobs"] for c in counted.values()) / ops, "count"),
        "spark.core_util": metric(tot["run_ms"] / (wall_ms * cores), "ratio"),
        "spark.sched_delay_ms": metric(tot["sched_delay_ms"] / ops, "ms"),
        "spark.gc_s": metric(tot["gc_ms"] / 1000.0 / ops, "s"),
        "spark.task_retries": metric(tot["retries"], "count"),
        "spark.persisted_mb_peak": metric(max((x["mb"] for x in leaks), default=0.0), "MB"),
        "spark.persisted_rdds_left": metric(
            stats.median([x["rdds"] for x in leaks]) if leaks else 0, "count"),
        "ops.featurestore.store_files": metric(res.get("store_files", 0), "count"),
        "ops.featurestore.store_mb": metric(res.get("store_mb", 0.0), "MB"),
        "ops.similarity.candidates_per_result": metric(
            checks.candidates_per_result(res), "ratio"),
    })
    plain = res["latency_ms"] if w != "stream" else []
    self_ns = sum(stats.self_times(spans).values())
    out["trace.span_cover_frac"] = metric(self_ns / 1e6 / wall_ms if lat else 0.0, "ratio")
    if w == "stream":
        out.update(checks.stream_layers(res))
    else:
        out["trace.overhead_frac"] = metric(
            stats.median(lat) / stats.median(plain) - 1.0 if lat and plain else 0.0,
            "ratio")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["serve", "eval", "corpus", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not here; "
             "run from the root of a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark distribution whose jars to build with")
    cp = build()
    # set-up time starts after the (cached) build: JVM start, session,
    # inputs, store builds and warm-up
    t_setup = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, out, work = (os.path.join(run_dir, d) for d in ("input", "out", "work"))
    for d in (inp, out, work):
        os.makedirs(d)
    info = gen.generate(a.workload, inp, a.seed, a.seconds)
    cores = len(os.sched_getaffinity(0))
    rc = run_jvm(cp, ["--workload", a.workload, "--input", inp, "--work", work,
                      "--out", out, "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--cores", str(cores)], run_dir)
    try:
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
    except (OSError, ValueError):
        fail(f"Spark process exited {rc} without a result, see {run_dir}/jvm.log")
    if "error" in res:
        fail(f"workload failed: {res['error']}")
    setup_s = res["first_op_ms"] / 1000.0 - t_setup
    marks = {k: round(v / 1000.0 - t_setup, 2) for k, v in res.get("marks", {}).items()}
    print(f"perfbench: set-up phases (s after start) {json.dumps(marks)}")
    ok, attempted, failed, notes = checks.check(a.workload, res, inp, out, a.seed)
    if a.trace:
        ok = ok and res.get("trace_equal", True)
    for n in notes:
        print(f"perfbench: {n}")
    print(f"perfbench: inputs {json.dumps(info)}")
    metrics = (per_layer(a.workload, res, cores) if a.trace
               else end_to_end(a.workload, res, setup_s))
    print(json.dumps({"correct": bool(ok), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
