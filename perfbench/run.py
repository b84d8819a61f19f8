#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. It compiles the program
(``src/main/scala``) and the benchmark's workload code
(``perfbench/scala``) with the Scala compiler shipped in the Spark jars
(``unmanagedBase`` in build.sbt), generates the seeded
inputs, runs the workload in one JVM (``local[4]``), checks the outputs
and prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics, from a run with spans
and engine listeners on. Everything it writes stays under
``.bench_build/`` in the working directory. See perfbench/NOTES.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CORES = 4
# the parallel collector with a fixed young generation: peak RSS then
# follows the data the program retains, not heap-resizing decisions, and
# repeats within a few percent across runs (under G1 it varied by up to
# 25% between runs of the dashboards workload)
JVM_FLAGS = ["-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC",
             "-XX:-UsePerfData"]  # no /tmp/hsperfdata: write only in the checkout
RUN_TIMEOUT_S = 165  # the whole run must end within 180 s
BUILD_TIMEOUT_S = 800

# input sizes per workload (rows of events / documents / embeddings)
INPUTS = {
    "events_stream": dict(n_events=70_000, jsonl=True),
    "dashboards": dict(n_events=10_000, n_docs=500, n_vecs=500),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars(root):
    """The Spark jar directory the build compiles against (build.sbt's
    ``unmanagedBase``)."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jars: build.sbt names no existing unmanagedBase directory")
    return m.group(1)


def build(root, build_dir):
    """Compile program + workload code once per source hash; return the
    class directory and the Spark jar directory."""
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala (run from the repository root)")
    jars = spark_jars(root)
    srcs = main + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, jars
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out, jars
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args = os.path.join(build_dir, "scalac.args")
        with open(args, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        log(f"compiling {len(srcs)} sources")
        res = subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", f"{jars}/*", "@" + args],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        if res.returncode != 0:
            sys.stderr.write(res.stdout.decode(errors="replace")[-4000:])
            fail("compilation failed")
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, out)
        log(f"compiled in {time.time() - t0:.1f} s")
        for old in glob.glob(os.path.join(build_dir, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    return out, jars


# ----------------------------------------------------------------- data

def inputs(build_dir, workload, seed):
    """The seeded inputs, written once per (workload, seed, generator)."""
    h = hashlib.sha256(json.dumps(INPUTS[workload], sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    d = os.path.join(build_dir, "data", f"{workload}-{seed}-{h.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(d, ".ok")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write(tmp, seed, **INPUTS[workload])
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


# ------------------------------------------------------------------ JVM

def run_jvm(classes, jars, workload, seed, seconds, trace, cores, data, work):
    raw = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dderby.system.home=" + tmp, "-cp", f"{classes}:{jars}/*",
           "graft.perfbench.Main", workload, str(seed), str(seconds), str(trace),
           str(cores), data, work, raw]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(3)
        # a benchmark that is stopped stops its JVM too
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if p.returncode != 0 or not os.path.exists(raw):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"{workload} run failed (exit {p.returncode})")
    log(f"JVM ran {time.time() - t0:.1f} s")
    with open(raw) as f:
        return json.load(f)


# -------------------------------------------------------------- metrics

def med(xs):
    return stats.median(xs) if xs else 0.0


def parse_ts(s):
    """Spark progress timestamp (ISO-8601, UTC) -> epoch ms."""
    import datetime
    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def engine_for(raw, key):
    return raw["engine"].get(key, {})


def span_engine(raw, names, op):
    """Engine counters summed over spans of `op` named in `names`."""
    tot = {}
    for s in raw["spans"]:
        if s["op"] == op and s["name"] in names:
            for k, v in engine_for(raw, f"span:{s['id']}").items():
                tot[k] = tot.get(k, 0) + v
    return tot


def add(a, b):
    return {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}


def events_stream(raw):
    progress = raw["extra"]["progress"]
    qid = raw["extra"]["query_id"]
    by_log = {}  # source-log batch -> progress of the query batch that read it
    for p in progress:
        src = p["sources"][0]
        end = (src.get("endOffset") or {}).get("logOffset")
        start = (src.get("startOffset") or {}).get("logOffset", -1)
        if end is None:
            continue
        for l in range(start + 1, end + 1):
            by_log[l] = p
    def commit_ms(p):
        return parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"]
    files = [o for o in raw["ops"] if o["kind"] == "file"]
    live = [f for f in files if f["phase"] == "live" and f["log_batch"] in by_log]
    catch = [f for f in files if f["phase"] == "catchup" and f["log_batch"] in by_log]
    lat = stats.open_loop_latencies([f["due_ms"] for f in live],
                                    [commit_ms(by_log[f["log_batch"]]) for f in live])
    reads = [o for o in raw["ops"] if o["kind"] == "read" and o["ok"]]
    read_ms = [o["end_ms"] - o["start_ms"] for o in reads]
    waves = {}  # catch-up wave (its landing time) -> its files
    for f in catch:
        waves.setdefault(f["due_ms"], []).append(f)
    wave_rates = [sum(f["events"] + f["invalid"] for f in fs) * 1e3 /
                  (max(commit_ms(by_log[f["log_batch"]]) for f in fs) - land)
                  for land, fs in waves.items()]
    data = [p for p in progress if p["numInputRows"] > 0]
    valid = sum(p.get("observedMetrics", {}).get("graft_ingest", {}).get("valid_events", 0) for p in progress)
    invalid = sum(p.get("observedMetrics", {}).get("graft_ingest", {}).get("invalid_events", 0) for p in progress)
    checks = [dict(name="invalid_events equals injected invalid lines",
                   ok=invalid == raw["extra"]["invalid_injected"],
                   detail=f"{invalid} counted, {raw['extra']['invalid_injected']} injected", covers="file"),
              dict(name="valid_events equals events replayed", ok=valid == sum(f["events"] for f in files),
                   detail=f"{valid} counted", covers="file")]
    e2e = dict(latency_p50_ms=med(lat), throughput_per_s=med(wave_rates),
               read_mean_ms=stats.mean(read_ms))
    samples = dict(latency=lat, read=read_ms, waves=wave_rates)
    # per layer
    def dur(p, k):
        return p["durationMs"].get(k, 0)
    eng = [engine_for(raw, f"batch:{qid}:{p['batchId']}") for p in data]
    starts = sorted((parse_ts(p["timestamp"]), p) for p in data)
    backlog = 0
    for t, p in starts:  # files moved before a batch started and not read earlier
        first_log = (p["sources"][0].get("startOffset") or {}).get("logOffset", -1) + 1
        backlog = max(backlog, sum(1 for f in files if f["moved_ms"] <= t and
                                   (f["log_batch"] is None or f["log_batch"] >= first_log)))
    state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    layer = {
        "sources.EventSource.list_ms": med([dur(p, "latestOffset") for p in data]),
        "sources.EventSource.queue_wait_ms": med([parse_ts(by_log[f["log_batch"]]["timestamp"]) - f["due_ms"] for f in live]),
        "sources.EventSource.backlog_files_max": backlog,
        "streaming.EventsPipeline.plan_ms": med([dur(p, "queryPlanning") for p in data]),
        "streaming.EventsPipeline.commit_ms": med([dur(p, "walCommit") + dur(p, "commitOffsets") for p in data]),
        "streaming.EventsPipeline.add_batch_ms": med([dur(p, "addBatch") for p in data]),
        "streaming.EventsPipeline.rows_per_batch": med([p["numInputRows"] for p in data]),
        "streaming.EventsPipeline.valid_events": valid,
        "streaming.EventsPipeline.invalid_events": invalid,
        "streaming.EventsPipeline.sink_files": max([o["sink_files"] for o in reads] or [0]),
        "streaming.state.rows_total": max([s["numRowsTotal"] for s in state] or [0]),
        "streaming.state.memory_bytes": max([s["memoryUsedBytes"] for s in state] or [0]),
        "streaming.state.commit_ms": med([s.get("commitTimeMs", 0) for s in state]),
        "spark.jobs_per_batch": med([e.get("jobs", 0) for e in eng]),
        "spark.tasks_per_batch": med([e.get("tasks", 0) for e in eng]),
        "spark.task_run_ms": med([e.get("task_run_ms", 0) for e in eng]),
        "spark.gc_ms": med([e.get("gc_ms", 0) for e in eng]),
        "read.plan_ms": med([o["plan_ms"] for o in reads]),
        "read.exec_ms": med([o["exec_ms"] for o in reads]),
        "generator.late_ms_max": max([f["moved_ms"] - f["due_ms"] for f in files if f["phase"] == "live"] or [0]),
    }
    return e2e, layer, samples, checks, ("read",)


PANEL_SPANS = {"panel", "queries.EventsQueries.construct", "catalyst.plan", "exec.collect"}


def dashboards(raw, data_dir):
    panels = [o for o in raw["ops"] if o["kind"] == "panel"]
    serves = [o for o in raw["ops"] if o["kind"] == "serve"]
    verdict = oracle.compare(data_dir, raw["work_dir"], os.path.join(data_dir, "oracle.json"))
    checks = [dict(name=f"{p} equals its DuckDB oracle", ok=why is None, detail=why or "",
                   covers=[("panel", o["op"]) for o in panels if o["name"] == p])
              for p, why in sorted(verdict.items())]
    ok = [o for o in panels + serves if o["ok"]]
    lat = [o["end_ms"] - o["start_ms"] for o in ok]
    e2e = dict(latency_p50_ms=med(lat), throughput_per_s=len(ok) / raw["window_s"],
               read_mean_ms=stats.mean([o["exec_ms"] for o in ok]))
    ok_panels = [o for o in panels if o["ok"]]
    eng = [span_engine(raw, PANEL_SPANS, o["op"]) for o in ok_panels]
    layer = {
        "queries.EventsQueries.construct_ms": med([o["construct_ms"] for o in ok_panels]),
        "catalyst.plan_ms": med([o["plan_ms"] for o in ok_panels]),
        "exec.collect_ms": med([o["exec_ms"] for o in ok_panels]),
        "plan.exchange_count": med([o["exchanges"] for o in ok_panels]),
        "plan.lines": med([o["plan_lines"] for o in ok_panels]),
        "spark.jobs_per_panel": med([e.get("jobs", 0) for e in eng]),
        "spark.tasks_per_panel": med([e.get("tasks", 0) for e in eng]),
        "spark.task_run_ms": med([e.get("task_run_ms", 0) for e in eng]),
        "spark.shuffle_bytes": med([e.get("shuffle_write_bytes", 0) for e in eng]),
        "spark.gc_ms": med([e.get("gc_ms", 0) for e in eng]),
    }
    gate_layer, gate_checks = corpus(raw, data_dir, [o for o in serves if o["ok"]])
    layer.update(gate_layer)
    return e2e, layer, dict(latency=lat), checks + gate_checks, ("panel", "serve")


def corpus(raw, data_dir, serves):
    """Per-layer figures and checks of the corpus index behind the ANN
    panel; the gate batch (traced runs only) is charged to its stream
    batch plus the check span."""
    gates = [o for o in raw["ops"] if o["kind"] == "gate_batch"]
    counts = {str(o["op"]): {k: o[k] for k in o if k.startswith("flagged_") or k == "verdicts"}
              for o in gates}
    path = os.path.join(data_dir, "gate_counts.json")
    seen = json.load(open(path)) if os.path.exists(path) else {}
    differ = [b for b in counts if b in seen and seen[b] != counts[b]]
    with open(path, "w") as f:
        json.dump({**counts, **seen}, f)
    checks = [dict(name="gate verdict counts repeat across runs of this seed", ok=not differ,
                   detail=f"batches {differ} differ" if differ else "",
                   covers=[("gate_batch", int(b)) for b in differ])]
    qid = raw["extra"].get("gate_query_id")
    eng = [add(engine_for(raw, f"batch:{qid}:{o['op']}"),
               span_engine(raw, {"sources.IngestGate.check"}, o["op"])) for o in gates]
    layer = {
        "sources.IngestGate.build_s": raw["extra"]["build_s"],
        "sources.IngestGate.check_ms": med([o["check_ms"] for o in gates]),
        "sources.IngestGate.file_ms": med([o["wall_ms"] - o["check_ms"] for o in gates]),
        "sources.IngestGate.verdicts": sum(o["verdicts"] for o in gates),
        "sources.IngestGate.flagged_text": sum(o["flagged_text"] for o in gates),
        "sources.IngestGate.flagged_media": sum(o["flagged_media"] for o in gates),
        "sources.IngestGate.flagged_sem": sum(o["flagged_sem"] for o in gates),
        "sources.IngestGate.flagged_contam": sum(o["flagged_contam"] for o in gates),
        "sources.AnnIndexLayout.index_files": raw["extra"]["index_files"],
        "sources.AnnIndexLayout.serve_construct_ms": med([o["construct_ms"] for o in serves]),
        "sources.AnnIndexLayout.serve_plan_ms": med([o["plan_ms"] for o in serves]),
        "sources.AnnIndexLayout.serve_exec_ms": med([o["exec_ms"] for o in serves]),
        "spark.jobs_per_batch": med([e.get("jobs", 0) for e in eng]),
        "spark.stages_per_batch": med([e.get("stages", 0) for e in eng]),
        "spark.tasks_per_batch": med([e.get("tasks", 0) for e in eng]),
        "spark.shuffle_write_bytes": med([e.get("shuffle_write_bytes", 0) for e in eng]),
        "spark.spill_bytes": med([e.get("spill_bytes", 0) for e in eng]),
    }
    return layer, checks


# ----------------------------------------------------------------- main

def measure(args, build_dir, classes, jars, trace):
    data = inputs(build_dir, args.workload, args.seed)
    work = os.path.join(build_dir, "work", f"{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(classes, jars, args.workload, args.seed, args.seconds, trace, args.cores, data, work)
        raw["work_dir"] = work
        if args.workload == "events_stream":
            e2e, layer, samples, checks, top = events_stream(raw)
        else:
            e2e, layer, samples, checks, top = dashboards(raw, data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"set-up: session {raw['session_s']:.2f} s, repeated {raw['setup_reps_s']} s, "
        f"once {raw['setup_once_s']:.2f} s; window {raw['window_s']:.2f} s")
    e2e["setup_s"] = raw["setup_s"]
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    layer["host.steal_ticks"] = raw["steal_measure"]
    if trace:
        selfs = stats.self_times(raw["spans"])
        layer["trace.client_self_ms"] = med([selfs[s["id"]] for s in raw["spans"]
                                             if s["parent"] == 0 and s["name"] in top])
    # the program-side checks: on the stream a wrong sink fails every file
    checks += [dict(c, covers="file" if args.workload == "events_stream" else None) for c in raw["checks"]]
    return raw, e2e, layer, samples, checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="a workload of BENCHMARK.json, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="local cores (1 gives the single-threaded baseline)")
    args = ap.parse_args()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload == "all":
        # every workload in turn, each in its own process
        rc = 0
        for w in names:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(args.cores)]
            rc = max(rc, subprocess.run(cmd).returncode)
        return rc
    if args.workload not in names:
        fail(f"unknown workload {args.workload}")
    build_dir = os.path.join(root, ".bench_build")
    classes, jars = build(root, build_dir)

    # the tracing overhead compares with the last correct untraced run of
    # this workload in this checkout
    untraced_path = os.path.join(build_dir, "untraced", f"{args.workload}-{args.cores}.json")

    def remember(e2e, checks):
        if all(c["ok"] for c in checks):
            os.makedirs(os.path.dirname(untraced_path), exist_ok=True)
            with open(untraced_path, "w") as f:
                json.dump(e2e, f)

    if args.trace and not os.path.exists(untraced_path):
        log("no untraced run of this workload yet: making one for the overhead figure")
        _, e2e, _, _, checks = measure(args, build_dir, classes, jars, 0)
        remember(e2e, checks)
    raw, e2e, layer, samples, checks = measure(args, build_dir, classes, jars, args.trace)
    if not args.trace:
        remember(e2e, checks)
    elif os.path.exists(untraced_path):
        with open(untraced_path) as f:
            layer["trace.overhead_ms"] = e2e["latency_p50_ms"] - json.load(f)["latency_p50_ms"]

    ops = raw["ops"]
    attempted, failed = stats.account(ops, checks)
    correct = failed == 0 and all(c["ok"] for c in checks)

    # human-readable report, then the result line
    host = raw["host"]
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  trace {args.trace}  "
          f"local[{raw['cores']}]  nproc {host['nproc']}  java {host['java']}  heap {host['heap_max_mb']} MB  "
          f"steal ticks: set-up {raw['steal_setup']}, window {raw['steal_measure']}")
    n_lat = len(samples["latency"])
    for m in spec["end_to_end"]:
        n = {"latency_p50_ms": n_lat, "read_mean_ms": len(samples.get("read", samples["latency"])),
             "setup_s": len(raw["setup_reps_s"]),
             "throughput_per_s": len(samples.get("waves", [None]))}.get(m["name"], 1)
        print(f"  {m['name']:<18} {e2e[m['name']]:>12.4f} {m['unit']:<6} n={n}")
    if stats.supported(samples["latency"], 90):
        print(f"  {'latency_p90_ms':<18} {stats.percentile(samples['latency'], 90):>12.4f} ms     n={n_lat}")
    else:
        print(f"  latency_p90_ms     not reported: {n_lat} samples, "
              f"{stats.TAIL_SAMPLES} needed beyond the 90th percentile")
    print(f"  failed_share       {stats.failed_share(attempted, failed):>12.4f}        "
          f"{failed} of {attempted} operations")
    for o in ops:
        if not o["ok"]:
            print(f"  FAILED {o['kind']} {o['op']}: {o.get('error', '')}")
    for c in checks:
        if not c["ok"]:
            print(f"  CHECK FAILED: {c['name']}: {c.get('detail', '')}")
    if args.trace:
        for k in sorted(layer):
            print(f"  {k:<45} {layer[k]:>14.4f}")

    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in want}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
