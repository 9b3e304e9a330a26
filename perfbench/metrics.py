"""Arithmetic that turns the JVM's raw record into the benchmark's metrics.

Kept apart from run.py so it can be unit-tested (test_metrics.py):
interval unions, driver gap, self time, job-to-span attribution, tail
percentiles and failure fractions.
"""

import json
import os
import statistics

# Calls timed per workload, in the order the flow makes them. A workload
# that never makes a call reports 0 for all of its counters.
CALLS = [
    "catalog.fromJdbc",
    "topology.classify",
    "graph.GraphBuilder.build",
    "graph.HeteroGraph.save",
    "learn.TrainLR.train",
    "serve.ModelStore.save",
    "graph.HeteroGraph.load",
    "serve.ModelStore.load",
    "serve.Recommend.recommend",
    "graph.Analytics.pageRankFixed",
    "graph.Analytics.connectedComponentsBounded",
    "graph.Analytics.kCoreBounded",
    "graph.Analytics.labelPropagation",
    "graph.Analytics.bfsBounded",
    "graph.Analytics.ssspBounded",
    "ext.Dedup.dedupGroups",
]
# Per-request units for the serving call, whole-call units elsewhere.
PER_REQUEST = "serve.Recommend.recommend"
STATS = ["wall_s", "self_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "gap_s"]
REQUEST_STATS = ["wall_ms", "self_ms", "jobs", "tasks", "cpu_ms", "shuffle_kb", "gap_ms"]
TRAIN_PHASES = ["propagate", "fit", "valMetrics"]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def gap(span_start, span_end, job_intervals):
    """Driver time of a span: its wall minus the union of its jobs'
    intervals, each clipped to the span."""
    clipped = [(max(s, span_start), min(e, span_end)) for s, e in job_intervals]
    return (span_end - span_start) - union_length(clipped)


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    start, end = span
    covered = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(covered)


def tail_percentile(samples, min_beyond=10):
    """The highest of the standard percentiles with at least `min_beyond`
    samples above it. Returns (percentile, value, sample count); with too
    few samples for any of them, the maximum is reported as percentile
    100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        # nearest-rank percentile: the value at rank ceil(p/100 * n), in
        # integer arithmetic (99.9 / 100 * 20000 is 19980.000000000004)
        tenths = round(p * 10)
        rank = max(1, -(-tenths * n // 1000))
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n
    return 100.0, xs[-1], n


def failed_frac(attempted, failed):
    """Failed operations over attempted ones."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError("failed outside 0..attempted")
    return failed / attempted


def median(xs):
    return statistics.median(xs) if xs else 0.0


def attribute_jobs(spans, jobs):
    """Assign each job to the innermost span open at its start.

    spans: list of dicts with id, parent, start, end (same clock as jobs)
    jobs: list of dicts with start, end, ...
    Returns {span id: [job, ...]}. A job that starts outside every span
    is left out. Among spans open at a job's start, the innermost is the
    one that opened last.
    """
    out = {}
    for job in jobs:
        best = None
        for s in spans:
            if s["start"] <= job["start"] < s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out.setdefault(best["id"], []).append(job)
    return out


def span_stats(raw):
    """Per-call counters for every traced span in the raw record.

    Returns {call name: [stats dict per traced call]}; each stats dict has
    wall, self, jobs, tasks, cpu, shuffle, gap (seconds and bytes) for the
    call and everything under it."""
    spans = [
        {"id": s[0], "parent": s[1], "name": s[2], "op": s[3],
         "start": s[4] / 1e9, "end": s[5] / 1e9}
        for s in raw.get("spans", []) if s[5] >= 0
    ]
    jobs = [
        {"id": j[0], "start": j[1] / 1e3, "end": (j[2] if j[2] >= 0 else j[1]) / 1e3,
         "tasks": j[3], "cpu_ns": j[4], "shuffle_bytes": j[5],
         "succeeded": j[6] if len(j) > 6 else True}
        for j in raw.get("jobs", [])
    ]
    owned = attribute_jobs(spans, jobs)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(s):
        yield s
        for c in children.get(s["id"], []):
            yield from subtree(c)

    phases = {}
    for sid, label, sec in raw.get("phases", []):
        phases.setdefault(sid, {})[label] = phases.setdefault(sid, {}).get(label, 0.0) + sec
    facts = {}
    for sid, key, val in raw.get("facts", []):
        facts.setdefault(sid, {})[key] = val

    out = {}
    for s in spans:
        js = [j for t in subtree(s) for j in owned.get(t["id"], [])]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        wall = s["end"] - s["start"]
        st = {
            "wall": wall,
            "self": self_time((s["start"], s["end"]), kids),
            "jobs": len(js),
            "unsucceeded_jobs": sum(1 for j in js if not j["succeeded"]),
            "tasks": sum(j["tasks"] for j in js),
            "cpu": sum(j["cpu_ns"] for j in js) / 1e9,
            "shuffle": sum(j["shuffle_bytes"] for j in js),
            "gap": gap(s["start"], s["end"], [(j["start"], j["end"]) for j in js]),
            "op": s["op"],
            "phases": phases.get(s["id"], {}),
            "facts": facts.get(s["id"], {}),
        }
        if st["phases"]:
            # phase children carry durations only: self = wall - their sum
            st["self"] = wall - sum(st["phases"].values())
        out.setdefault(s["name"], []).append(st)
    return out


def end_to_end(raw):
    """The untraced operations' figures: setup, latency, rate, memory."""
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls_ms = [o["wall_ns"] / 1e6 for o in ops]
    pct, tail, n = tail_percentile(walls_ms)
    total_s = sum(o["wall_ns"] for o in ops) / 1e9
    # the tail and the rate are reported beside the metrics, not as ones:
    # a run holds too few operations for any percentile to have ten
    # samples beyond it, and with one client the rate is 1 / mean latency
    return {
        "setup_s": (raw["setup_s"], "s"),
        "op_p50_ms": (median(walls_ms), "ms"),
        "held_mb": (raw["held_bytes"] / 2**20, "MB"),
    }, {"tail_ms": tail, "tail_percentile": pct, "samples": n,
        "ops_per_s": len(ops) / total_s,
        # held_mb split: the benchmark's own pinned inputs and the program's
        "bench_held_mb": raw.get("bench_held_bytes", 0) / 2**20,
        "program_held_mb": (raw["held_bytes"] - raw.get("bench_held_bytes", 0)) / 2**20}


def per_layer(raw):
    """Medians over traced calls of every counter of every call, plus the
    training phases, fit iterations and the tracing overhead. Calls made
    in set-up (op < 0) count only for calls the timed phase never makes."""
    stats = span_stats(raw)
    m = {}
    for call in CALLS:
        calls = stats.get(call, [])
        # timed operations only, unless the call is made only in set-up
        calls = [c for c in calls if c["op"] >= 0] or calls
        per_req = call == PER_REQUEST
        names = REQUEST_STATS if per_req else STATS
        scale_t = 1e3 if per_req else 1.0
        scale_b = 2**10 if per_req else 2**20
        vals = {
            names[0]: ([c["wall"] * scale_t for c in calls], "ms" if per_req else "s"),
            names[1]: ([c["self"] * scale_t for c in calls], "ms" if per_req else "s"),
            names[2]: ([c["jobs"] for c in calls], "count"),
            names[3]: ([c["tasks"] for c in calls], "count"),
            names[4]: ([c["cpu"] * scale_t for c in calls], "ms" if per_req else "s"),
            names[5]: ([c["shuffle"] / scale_b for c in calls], "KB" if per_req else "MB"),
            names[6]: ([c["gap"] * scale_t for c in calls], "ms" if per_req else "s"),
        }
        for stat, (xs, unit) in vals.items():
            m[f"{call}.{stat}"] = (median(xs), unit)
    train = [c for c in stats.get("learn.TrainLR.train", []) if c["op"] >= 0] or \
        stats.get("learn.TrainLR.train", [])
    for ph in TRAIN_PHASES:
        m[f"learn.TrainLR.train.{ph}.wall_s"] = (
            median([c["phases"].get(ph, 0.0) for c in train]), "s")
    m["learn.TrainLR.train.fit_iters"] = (
        median([c["facts"].get("fit_iters", 0.0) for c in train]), "count")
    traced = [o["wall_ns"] for o in raw["ops"] if o["traced"]]
    plain = [o["wall_ns"] for o in raw["ops"] if not o["traced"]]
    m["trace_overhead_pct"] = (
        100.0 * (median(traced) / median(plain) - 1.0) if traced and plain else 0.0, "%")
    return m


def compare_answers(want, got, tol, path="answers"):
    """Differences between pinned and produced answers: strings, integers
    and booleans must match exactly, floats within tol["abs"] plus
    tol["rel"] times the pinned value."""
    if isinstance(want, dict):
        if not isinstance(got, dict):
            return [f"{path}: not an object"]
        out = []
        for k in sorted(want):
            if k not in got:
                out.append(f"{path}.{k}: missing")
            else:
                out += compare_answers(want[k], got[k], tol, f"{path}.{k}")
        return out
    if isinstance(want, list):
        if not isinstance(got, list) or len(got) != len(want):
            return [f"{path}: length {len(got) if isinstance(got, list) else '-'} != {len(want)}"]
        out = []
        for i, (w, g) in enumerate(zip(want, got)):
            out += compare_answers(w, g, tol, f"{path}[{i}]")
        return out
    if isinstance(want, float) and isinstance(got, (int, float)) and not isinstance(got, bool):
        if abs(got - want) <= tol["abs"] + tol["rel"] * abs(want):
            return []
        return [f"{path}: {got!r} != {want!r}"]
    if want != got or type(want) is not type(got):
        return [f"{path}: {got!r} != {want!r}"]
    return []


def write_pins(path, workload, answers, tol=None):
    """Record `answers` as the pinned answers of `workload`."""
    pins = {"seed": 42, "tolerance": tol or {"abs": 1e-6, "rel": 1e-6}, "answers": {}}
    if os.path.exists(path):
        with open(path) as fh:
            pins = json.load(fh)
    pins["answers"][workload] = answers
    with open(path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def stability(raw):
    """For each traced call: the distinct values of its exact counters
    over all traced calls in the record, and how many calls there were."""
    out = {}
    for call, calls in span_stats(raw).items():
        out[call] = {
            "calls": len(calls),
            "jobs": sorted({c["jobs"] for c in calls}),
            "tasks": sorted({c["tasks"] for c in calls}),
            "shuffle_bytes": sorted({c["shuffle"] for c in calls}),
            "unsucceeded_jobs": sorted({c["unsucceeded_jobs"] for c in calls}),
        }
    return out
