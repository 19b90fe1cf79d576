"""Pipeline benchmark: seeded workloads run end to end through
PipelineBuilder.fromFile -> PipelineRunner.run on local[4], every output
written through the pipeline's real sink and checked.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run (delegating actors + Spark listeners, all owned by the
benchmark). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md for the workloads and the metric definitions.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build    # noqa: E402
import checks   # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402

CORES = 4
DRIVER_HEAP = "2g"           # fixed driver heap; rss_peak_mb is measured at it
RUN_LIMIT_S = 170            # the whole run, build excluded
GEN_REPEATS = 3              # input generations per run: self-check + setup median

# stream_sessionize schedule: files per second, written into the watched
# directory by a generator thread of this process (open loop)
STREAM_FILES_PER_S = 20
STREAM_LEAD_S = 0.2
STREAM_WARM_FILES = 80
STREAM_WARMUPS = 2


def declared_metrics():
    """{"end_to_end": {name: unit}, "per_layer": {name: unit}} from
    BENCHMARK.json, the one list of what the benchmark reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {k: {m["name"]: m["unit"] for m in b[k]} for k in ("end_to_end", "per_layer")}


JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]


def wl(name):
    return os.path.join(HERE, "workloads", name)


# ------------------------------------------------------------------ workloads

class Batch:
    """A closed loop of executions of one or more pipelines."""
    mode = "batch"
    warmup = 2          # corpus: the second execution in a JVM is still 20% slow
    min_execs = 2

    def __init__(self, work, seed):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "data")

    def spec(self):
        return {"pipelines": self.pipelines(), "warmup": self.warmup,
                "min_execs": self.min_execs}


class EtlBatch(Batch):
    # executions vary by about 7% within a run, so take the median of three;
    # the second execution in a JVM is already within that band
    warmup = 1
    min_execs = 3

    def generate(self, d):
        return gen.tpch(d, self.seed)

    def pipelines(self):
        return [{"name": "etl", "file": wl("etl_batch.yaml"), "metrics": True,
                 "vars": {"data_dir": self.data}}]

    def check(self, out):
        return checks.etl(self.data, os.path.join(out, "etl"))


class CorpusCuration(Batch):
    def generate(self, d):
        return gen.corpus(d, self.seed)

    def pipelines(self):
        v = {"data_dir": self.data, "seed": f"s{self.seed}", "min_quality": "0.05",
             "ppl_lo": "1000000", "ppl_hi": "60000000"}
        return [{"name": "training", "file": wl("training_data_run.yaml"), "vars": v},
                {"name": "dedup", "file": wl("dedup_corpus.yaml"), "vars": v}]

    def spec(self):
        s = super().spec()
        s["cdc_ref"] = {"docs": os.path.join(self.data, "documents.parquet"),
                        "out": os.path.join(self.work, "cdc_ref")}
        return s

    def check(self, out):
        problems, recall = checks.corpus(self.truth, os.path.join(out, "training"),
                                         os.path.join(out, "dedup"),
                                         os.path.join(self.work, "cdc_ref"))
        print(f"{os.path.basename(out)}: planted near-dup recall {recall:.3f} "
              f"(pinned at {checks.NEAR_DUP_RECALL_MIN})")
        return problems


class StreamSessionize:
    """An open loop: files are due on a fixed schedule whatever the stream
    does; each file's latency runs from when it was due."""
    mode = "stream"

    def __init__(self, work, seed, seconds, trace):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "data")
        n = int(STREAM_FILES_PER_S * seconds)
        # a traced run splits the window: untraced then traced execution
        self.timed = [(n // 2, False), (n - n // 2, True)] if trace else [(n, False)]
        self.schedule = {}          # tag -> [file index]
        for i in range(STREAM_WARMUPS):
            self.schedule[f"warm{i}"] = [10_000 * (i + 1) + j for j in range(STREAM_WARM_FILES)]
        for k, (count, _) in enumerate(self.timed):
            self.schedule[f"exec{k}"] = [100_000 + 10_000 * k + j for j in range(count)]
        self.written = {}           # tag -> {file: (due ms, written ms)}
        self.payload = {}

    def generate(self, d):
        os.makedirs(d, exist_ok=True)
        payload = {}
        for tag, idxs in self.schedule.items():
            for i in idxs:
                payload[i] = gen.stream_csv(self.seed, i)
        with open(os.path.join(d, "events.bin"), "wb") as f:
            for i in sorted(payload):
                f.write(b"%d\n" % i + payload[i])
        self.payload = payload

    def spec(self):
        def ex(tag, traced):
            os.makedirs(os.path.join(self.work, "in", tag), exist_ok=True)
            return {"in_dir": os.path.join(self.work, "in", tag),
                    "rows": gen.EVENTS_PER_FILE * len(self.schedule[tag]), "traced": traced}
        return {"pipelines": [{"name": "sessions", "file": wl("stream_sessionize.yaml"),
                               "vars": {}}],
                "stream": {"warm": [ex(f"warm{i}", False) for i in range(STREAM_WARMUPS)],
                           "timed": [ex(f"exec{k}", t) for k, (_, t) in enumerate(self.timed)]}}

    def feed(self, tag):
        """Write the tag's files on schedule: rename from a staging dir so
        the source never lists a half-written file."""
        in_dir = os.path.join(self.work, "in", tag)
        stage = os.path.join(self.work, "in", "_stage_" + tag)
        os.makedirs(in_dir, exist_ok=True)
        os.makedirs(stage, exist_ok=True)
        t0 = time.time() + STREAM_LEAD_S
        rec = {}
        for j, i in enumerate(self.schedule[tag]):
            name = f"events-{i:06d}.csv"
            tmp = os.path.join(stage, name)
            with open(tmp, "wb") as f:
                f.write(self.payload[i])
            due = t0 + j / STREAM_FILES_PER_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(tmp, os.path.join(in_dir, name))
            rec[name] = (due * 1000.0, time.time() * 1000.0)
        self.written[tag] = rec

    def check(self, ex, out):
        """(file problems, execution problems, latency ms per file) of one
        stream execution."""
        if "error" in ex:
            return [], [ex["error"]], {}
        rec = self.written.get(ex["tag"], {})
        lat, file_problems = metrics.file_latencies(
            metrics.file_batches(ex["ckpt"]), metrics.commit_times_ms(ex["ckpt"]),
            {f: due for f, (due, _) in rec.items()})
        events = [list(zip(*gen.stream_events(self.seed, i))) for i in self.schedule[ex["tag"]]]
        exec_problems = checks.stream(os.path.join(out, "sessions"), events)
        if lat and not ex.get("traced"):
            # a growing backlog shows as latency rising along the schedule
            due0 = min(due for due, _ in rec.values())
            by_s = {}
            for f, v in lat.items():
                by_s.setdefault(int((rec[f][0] - due0) / 1000), []).append(v)
            print(f"{ex['tag']}: median latency ms per second of schedule "
                  f"{[round(statistics.median(by_s[k])) for k in sorted(by_s)]}")
        return file_problems, exec_problems, lat


WORKLOADS = {"etl_batch": EtlBatch, "corpus_curation": CorpusCuration,
             "stream_sessionize": StreamSessionize}


# ---------------------------------------------------------------------- run

def files_written(out):
    """Data files the sinks wrote under an execution's output directory."""
    return sum(1 for _, _, fs in os.walk(out) for f in fs if f.startswith("part-"))


def guarded(check, *args):
    """(result, None) of an output check, or (None, problem) when the check
    itself raised, say on a missing output."""
    try:
        return check(*args), None
    except Exception as e:  # any failure of a check is a failed check
        return None, f"check raised {type(e).__name__}: {e}"


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def generate_inputs(w, work):
    """Generate the inputs GEN_REPEATS times; all copies must be
    byte-identical. Returns (median generation seconds, checksum)."""
    times, sums = [], []
    for r in range(GEN_REPEATS):
        d = w.data if r == 0 else os.path.join(work, f"data_check{r}")
        t = time.perf_counter()
        info = w.generate(d)
        times.append(time.perf_counter() - t)
        sums.append(gen.tree_checksum(d))
        if r == 0:
            w.truth = info
        else:
            shutil.rmtree(d)
    if len(set(sums)) != 1:
        fail(f"inputs differ across generations with one seed: {sums}")
    return statistics.median(times), sums[0]


def run_harness(w, spec, build_dir, jvm_flags, log_path, deadline):
    """Run perfbench.Harness on a spec, writing the stream's files when it
    announces READY; return its result. The JVM never outlives this call."""
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cp = os.pathsep.join([os.path.join(build_dir, "bench.jar"), build.classpath_jars()])
    cmd = ["java", f"-Xms{DRIVER_HEAP}", f"-Xmx{DRIVER_HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={spec['work']}/tmp"] + jvm_flags + JAVA_OPTS + [
        "-cp", cp, "perfbench.Harness", spec_path]
    feeders = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=spec["work"])

        def read_stdout():
            for line in proc.stdout:
                if line.startswith("READY "):
                    t = threading.Thread(target=w.feed, args=(line.split()[1],), daemon=True)
                    t.start()
                    feeders.append(t)
        reader = threading.Thread(target=read_stdout, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("harness exceeded the run time limit")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            reader.join(timeout=5)
            for t in feeders:
                t.join(timeout=30)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}; see {os.path.relpath(log_path, ROOT)}")
    with open(spec["result"]) as f:
        return json.load(f)


def base_spec(w, work, seconds, trace):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spec = w.spec()
    spec.update({"mode": w.mode, "work": work, "seconds": seconds, "trace": trace,
                 "out_root": os.path.join(work, "out"),
                 "result": os.path.join(work, "result.json")})
    return spec


def class_data_archive(workload, seed, build_dir, bench_dir):
    """The workload's class-data sharing archive, made once per build by a
    short untimed run that records every class it loads. Like the compile,
    this is build work: set-up then starts the JVM from the archive."""
    path = os.path.join(build_dir, f"cds-{workload}.jsa")
    if os.path.exists(path):
        return path
    work = os.path.join(bench_dir, f"{workload}-cds-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        w = make_workload(workload, work, seed, 1, False)
        w.truth = w.generate(w.data)
        spec = base_spec(w, work, 0, False)
        spec.update({"warmup": 0, "min_execs": 1})
        if w.mode == "stream":
            spec["stream"]["warm"] = []
        run_harness(w, spec, build_dir, [f"-XX:ArchiveClassesAtExit={path}.tmp"],
                    os.path.join(bench_dir, f"last-{workload}-cds.log"), time.time() + RUN_LIMIT_S)
        os.rename(path + ".tmp", path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return path


def make_workload(name, work, seed, seconds, trace):
    cls = WORKLOADS[name]
    return cls(work, seed, seconds, trace) if cls is StreamSessionize else cls(work, seed)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("project sources (src/main/scala) not found next to perfbench/")
    declared = declared_metrics()

    bench_dir = os.path.join(ROOT, ".bench_work")
    os.makedirs(bench_dir, exist_ok=True)
    build_dir = build.ensure()
    archive = class_data_archive(a.workload, a.seed, build_dir, bench_dir)
    t_start = time.time()
    work = os.path.join(bench_dir, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    w = make_workload(a.workload, work, a.seed, a.seconds, a.trace == 1)
    try:
        return run(a, w, work, build_dir, archive, t_start, bench_dir, declared)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, w, work, build_dir, archive, t_start, bench_dir, declared):
    gen_s, checksum = generate_inputs(w, work)
    print(f"inputs: seed {a.seed} sha256 {checksum} (identical across {GEN_REPEATS} "
          f"generations, median {gen_s:.3f} s)")
    spec = base_spec(w, work, a.seconds, a.trace == 1)
    # the extra self-check generations are not part of one set-up
    t_launch = time.time()
    setup_before_jvm = (t_launch - t_start) - gen_s * (GEN_REPEATS - 1)
    result = run_harness(w, spec, build_dir, [f"-XX:SharedArchiveFile={archive}"],
                         os.path.join(bench_dir, f"last-{a.workload}.log"), t_start + RUN_LIMIT_S)
    execs = result["executions"]
    if not execs:
        fail("no timed execution ran")
    setup_s = setup_before_jvm + (result["first_exec_ms"] / 1000.0 - t_launch)

    # ---- output checks: one attempt per execution (per file for the stream)
    attempted = failed = 0
    latencies = []
    for ex in execs:
        out = os.path.join(spec["out_root"], ex["tag"])
        ex["files_written"] = files_written(out)
        if w.mode == "batch":
            attempted += 1
            res, err = (None, ex["error"]) if "error" in ex else guarded(w.check, out)
            p = [err] if err else res
            failed += 1 if p else 0
        else:
            n = len(w.schedule[ex["tag"]])
            attempted += n
            res, err = guarded(w.check, ex, out)
            file_p, exec_p, lat = res if err is None else ([], [err], {})
            # a file-level problem fails that file; an error or a session
            # mismatch fails every file of the execution
            failed += n if exec_p else min(n, len(file_p))
            p = exec_p + file_p
            if not ex.get("traced"):
                latencies += list(lat.values())
        for x in p[:5]:
            print(f"check failed: {ex['tag']}: {x}")

    untraced = [ex["wall_ns"] / 1e9 for ex in execs if not ex.get("traced") and "error" not in ex]
    if a.trace == 0:
        if w.mode == "batch":
            latencies = [s * 1000.0 for s in untraced]
        if not untraced or not latencies:
            fail("no successful untraced execution to report")
        p90 = metrics.nearest_rank(latencies, 90)
        values = {
            "setup_s": setup_s,
            "pipeline_s": statistics.median(untraced),
            "event_latency_p50_ms": statistics.median(latencies),
            "event_latency_p90_ms": p90,
            "rss_peak_mb": result["vmhwm_kb"] / 1024.0,
        }
        units = declared["end_to_end"]
        print(f"samples: {len(untraced)} executions, {len(latencies)} latency samples, "
              f"{metrics.beyond(len(latencies), 90)} beyond p90 (highest percentile with "
              f"{metrics.TAIL_MIN} beyond: p{metrics.highest_percentile(len(latencies))}); warm-up ms "
              f"{[round(x) for x in result['warmup_ms']]}; timed ms "
              f"{[round(x * 1000) for x in untraced]}")
    else:
        units = declared["per_layer"]
        values = per_layer(w, execs, untraced, units)
        export = os.path.join(bench_dir, f"spans-{a.workload}-s{a.seed}.json")
        with open(export, "w") as f:
            json.dump([{"tag": ex["tag"], "wall_ns": ex["wall_ns"], "start_ms": ex["start_ms"],
                        "trace": ex["trace"]} for ex in execs if ex.get("traced")], f)
        print(f"spans and Spark counts per span: {os.path.relpath(export, ROOT)}")
    print(f"failed_share: {failed / attempted if attempted else 1.0:.4f} ratio "
          f"({failed} of {attempted})")
    for k, v in values.items():
        print(f"{a.workload:18s} {k:28s} {v:16.4f} {units[k]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    # a failed output check also fails the command, after the result line
    return 0 if failed == 0 else 1


def per_layer(w, execs, untraced, names):
    """Median over traced executions of every per-layer metric."""
    traced = [ex for ex in execs if ex.get("traced") and "error" not in ex]
    if not traced:
        fail("no successful traced execution")
    rows = []
    for ex in traced:
        m = metrics.execution_layers(ex, CORES)
        m["sink.files_written"] = ex.get("files_written", 0)
        rows.append(m)
    values = {k: statistics.median(r.get(k, 0) for r in rows) for k in names}
    lags = [wr - due for rec in getattr(w, "written", {}).values() for due, wr in rec.values()]
    values["gen.lag_ms_max"] = max(lags) if lags else 0.0
    tw = statistics.median(ex["wall_ns"] / 1e9 for ex in traced)
    values["trace.overhead_ratio"] = tw / statistics.median(untraced) if untraced else 0.0
    return values


if __name__ == "__main__":
    sys.exit(main())
