"""The benchmark's arithmetic: percentiles, span self time, job-group
attribution and open-loop lateness. Kept free of I/O so that
tests/test_stats.py can pin each rule on hand-made inputs."""
import math

INF = float("inf")


def percentile(values, q, failed=0):
    """Nearest-rank q-th percentile (0 < q <= 100) of `values`, where each
    of `failed` further samples ranks above every value (an operation that
    never completed is beyond every percentile). Returns INF when the rank
    falls on a failed sample and None when there are no samples at all."""
    n = len(values) + failed
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    ordered = sorted(values)
    return ordered[rank - 1] if rank <= len(ordered) else INF


def percentile_censored(values, censored, q):
    """Nearest-rank q-th percentile where each `censored` sample (a lower
    bound, such as the age at the end of the run of an event that never
    became visible) ranks above every completed value."""
    ordered = sorted(values) + sorted(censored)
    if not ordered:
        return None
    return ordered[max(1, math.ceil(q / 100.0 * len(ordered))) - 1]


def median(values):
    """Middle value, or the mean of the two middle values."""
    s = sorted(values)
    if not s:
        return None
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def covered(intervals, lo, hi):
    """Length of the union of `intervals` (start, end) clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """{span id: duration minus the part of its interval that its child
    spans cover}. Spans are dicts with id, parent, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def span_of_group(group):
    """Job group "s<id>.plan" / "s<id>.exec" -> (span id, phase); any other
    group -> (None, None)."""
    if group and group.startswith("s") and "." in group:
        sid, phase = group[1:].split(".", 1)
        if sid.isdigit() and phase in ("plan", "exec"):
            return int(sid), phase
    return None, None


COUNTERS = ("jobs", "tasks", "run_ms", "cpu_ns", "shuffle_bytes",
            "spill_bytes", "gc_ms", "sched_delay_ms", "retries")


def attribute(spans, groups):
    """Sum the listener's per-group counters into per-layer totals.

    `spans`: dicts with id, name (the layer), parent, start, end (ns),
    plan_end (ns) and rows. `groups`: {job group: {counter: value}}.
    Returns {layer: {calls, plan_ms, plan_jobs, exec_ms, self_ms, jobs,
    tasks, cpu_s, shuffle_mb, spill_mb, rows_out, run_ms, gc_ms,
    sched_delay_ms, retries}}; groups that belong to no span are summed
    under the layer "unattributed"."""
    by_id = {s["id"]: s for s in spans}
    self_ns = self_times(spans)
    layers = {}

    def layer(name):
        return layers.setdefault(name, {
            "calls": 0, "plan_ms": 0.0, "plan_jobs": 0, "exec_ms": 0.0,
            "self_ms": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0,
            "shuffle_mb": 0.0, "spill_mb": 0.0, "rows_out": 0, "run_ms": 0.0,
            "gc_ms": 0.0, "sched_delay_ms": 0.0, "retries": 0})

    for s in spans:
        L = layer(s["name"])
        L["calls"] += 1
        L["plan_ms"] += (s["plan_end"] - s["start"]) / 1e6
        L["exec_ms"] += (s["end"] - s["plan_end"]) / 1e6
        L["self_ms"] += self_ns[s["id"]] / 1e6
        L["rows_out"] += s.get("rows", 0)
    for g, c in groups.items():
        sid, phase = span_of_group(g)
        name = by_id[sid]["name"] if sid in by_id else "unattributed"
        L = layer(name)
        if phase == "plan":
            L["plan_jobs"] += c.get("jobs", 0)
        L["jobs"] += c.get("jobs", 0)
        L["tasks"] += c.get("tasks", 0)
        L["cpu_s"] += c.get("cpu_ns", 0) / 1e9
        L["shuffle_mb"] += c.get("shuffle_bytes", 0) / 2**20
        L["spill_mb"] += c.get("spill_bytes", 0) / 2**20
        L["run_ms"] += c.get("run_ms", 0)
        L["gc_ms"] += c.get("gc_ms", 0)
        L["sched_delay_ms"] += c.get("sched_delay_ms", 0)
        L["retries"] += c.get("retries", 0)
    return layers


def lateness(schedule):
    """Open-loop generator lateness: for (due, sent) pairs, how long after
    its due time each send happened (never negative)."""
    return [max(0.0, sent - due) for due, sent in schedule]


def freshness(events, batches):
    """Event-to-visible time for an open-loop stream.

    `events`: (due_ms, offset) pairs: when the event was due to be sent
    and the source offset it was added at. `batches`: (start_offset,
    end_offset, end_ms) for each committed micro-batch; a batch makes
    visible the offsets in (start_offset, end_offset]. Returns (values,
    failed): the freshness of each event that became visible, and the
    count of events no committed batch covered."""
    done = sorted((e, s, t) for s, e, t in batches)
    values, failed = [], 0
    for due, off in events:
        hit = next((t for e, s, t in done if s < off <= e), None)
        if hit is None:
            failed += 1
        else:
            values.append(hit - due)
    return values, failed
