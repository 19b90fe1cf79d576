"""The benchmark's arithmetic: percentiles, span self time, the
package -> layer map, stream file -> batch -> latency mapping and the
per-layer table. Pure functions plus readers of Spark's checkpoint logs,
so all of it is covered by tests/test_metrics.py."""
import json
import math
import os
import statistics

TAIL_MIN = 10          # samples that must lie beyond a reported percentile


# ---------------------------------------------------------------- percentiles

def nearest_rank(values, p):
    """The p-th percentile by the nearest-rank rule (p in (0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50), tail=TAIL_MIN):
    """Highest candidate percentile with at least `tail` samples beyond it,
    or None when n is too small for any."""
    for p in candidates:
        if beyond(n, p) >= tail:
            return p
    return None


# ------------------------------------------------------------------- intervals

def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it covered by its children}.

    Children are clipped to their parent; overlapping children count once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_length([(max(a, c["start_ms"]), min(b, c["end_ms"]))
                                for c in kids.get(s["id"], [])])
        out[s["id"]] = (b - a) - covered
    return out


def driver_only_ms(start_ms, end_ms, task_intervals):
    """Wall time in [start, end) during which no task was running."""
    covered = union_length([(max(start_ms, s), min(end_ms, e)) for s, e in task_intervals])
    return (end_ms - start_ms) - covered


# ----------------------------------------------------------------------- layers

def layer_of(cls):
    """A layer is the package of the class whose function a span timed:
    graft.<layer>.<Class> -> <layer>; anything outside graft -> 'other'."""
    parts = cls.split(".")
    if len(parts) >= 3 and parts[0] == "graft":
        return parts[1]
    return "other"


def action_of(span_name):
    """'job/action.run' -> 'job/action'."""
    return span_name.rsplit(".", 1)[0]


ACTOR_LAYERS = ("source", "sql", "validation", "ml", "sink", "streaming", "transform",
                "utils", "plans", "other")
LAYERS = ("pipeline", "core") + ACTOR_LAYERS


def execution_layers(ex, cores):
    """Per-layer metrics of one traced execution record (see Harness)."""
    tr = ex["trace"]
    spans = tr["spans"]
    selfs = self_times(spans)
    layer = {s["id"]: layer_of(s["cls"]) for s in spans}
    wall_ms = ex["wall_ns"] / 1e6
    start = ex["start_ms"]
    m = {}
    build = [s for s in spans if layer[s["id"]] == "pipeline"]
    m["pipeline.build_ms"] = sum(selfs[s["id"]] for s in build)
    m["pipeline.actions"] = len({action_of(s["name"]) for s in spans
                                 if layer[s["id"]] in ACTOR_LAYERS})
    self_by_layer = {}
    for s in spans:
        self_by_layer[layer[s["id"]]] = self_by_layer.get(layer[s["id"]], 0.0) + selfs[s["id"]]
    for L in LAYERS[1:]:
        m[f"{L}.self_ms"] = self_by_layer.get(L, 0.0)
    # jobs launched outside any actor call count toward graft.core
    jobs_by_layer = {}
    for j in tr["jobs"]:
        L = layer.get(j["span"], "core")
        jobs_by_layer[L] = jobs_by_layer.get(L, 0) + 1
    for L in LAYERS:
        m[f"{L}.jobs"] = jobs_by_layer.get(L, 0)
    tasks = tr["tasks"]
    m["core.persist_events"] = tr["persist_events"]
    m["core.cached_bytes_peak"] = tr["cached_bytes_peak"]
    m["source.scan_tasks"] = sum(1 for t in tasks if t["input_bytes"] > 0)
    m["sink.bytes_written"] = sum(t["output_bytes"] for t in tasks)
    stages = {t["stage"] for t in tasks}
    run_ms = sum(t["run_ms"] for t in tasks)
    m["spark.jobs"] = len(tr["jobs"])
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = len(tasks)
    m["spark.tasks_per_stage"] = len(tasks) / len(stages) if stages else 0.0
    m["spark.executor_run_ms"] = run_ms
    m["spark.busy_share"] = run_ms / (wall_ms * cores) if wall_ms > 0 else 0.0
    m["spark.driver_only_ms"] = driver_only_ms(
        start, start + wall_ms, [(t["launch_ms"], t["finish_ms"]) for t in tasks])
    m["spark.shuffle_write_bytes"] = sum(t["shuffle_write"] for t in tasks)
    m["spark.shuffle_read_bytes"] = sum(t["shuffle_read"] for t in tasks)
    m["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["spark.gc_ms"] = sum(t["gc_ms"] for t in tasks)
    m["spark.failed_tasks"] = sum(1 for t in tasks if t["failed"])
    m.update(stream_layers(tr.get("progress", [])))
    accounted = m["pipeline.build_ms"] + sum(v for k, v in m.items()
                                             if k.endswith(".self_ms"))
    m["trace.wall_ms"] = wall_ms
    m["trace.residual_ms"] = wall_ms - accounted
    return m


def stream_layers(progress):
    """streaming.* and transform.* from micro-batch progress reports."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]

    def med(key):
        xs = [p.get("durationMs", {}).get(key, 0) for p in batches]
        return statistics.median(xs) if xs else 0.0
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    commit = [p.get("durationMs", {}).get("walCommit", 0) +
              p.get("durationMs", {}).get("commitOffsets", 0) for p in batches]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_ms_p50": med("triggerExecution"),
        "streaming.planning_ms": med("queryPlanning"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.commit_ms": statistics.median(commit) if commit else 0.0,
        "transform.state_rows": max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "transform.state_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
    }


# ---------------------------------------------------- stream file -> batch map

def _log_entries(path):
    """JSON lines of one Spark metadata-log file (first line is a version)."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(x) for x in lines[1:] if x.strip()]


def _log_files(d):
    if not os.path.isdir(d):
        return []
    return [os.path.join(d, f) for f in os.listdir(d)
            if not f.startswith(".") and f.split(".")[0].isdigit()]


def file_batches(ckpt):
    """[(file name, batch id)] from the file source's log in a checkpoint;
    compacted and plain log files are both read, duplicates collapse."""
    seen = set()
    for f in _log_files(os.path.join(ckpt, "sources", "0")):
        for e in _log_entries(f):
            seen.add((os.path.basename(e["path"]), int(e["batchId"])))
    return sorted(seen)


def commit_times_ms(ckpt):
    """{batch id: epoch ms the batch's commit-log entry was written}."""
    out = {}
    for f in _log_files(os.path.join(ckpt, "commits")):
        out[int(os.path.basename(f))] = os.stat(f).st_mtime_ns / 1e6
    return out


def file_latencies(pairs, commits, due_ms):
    """Map each generated file to its batch and latency.

    pairs: [(file, batch)] from the source log; commits: {batch: ms};
    due_ms: {file: ms the file was due}. Returns (latency ms per file,
    problems) — a problem is a file missing, seen in more than one batch,
    or consumed by a batch that never committed."""
    batches = {}
    for f, b in pairs:
        batches.setdefault(f, set()).add(b)
    lat, problems = {}, []
    for f, due in due_ms.items():
        bs = batches.get(f, set())
        if len(bs) != 1:
            problems.append(f"{f}: in {len(bs)} batches")
            continue
        b = next(iter(bs))
        if b not in commits:
            problems.append(f"{f}: batch {b} not committed")
            continue
        lat[f] = commits[b] - due
    extra = set(batches) - set(due_ms)
    problems += [f"{f}: not generated" for f in sorted(extra)]
    return lat, problems
