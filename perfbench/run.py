#!/usr/bin/env python3
"""Benchmark of the tick engine, the dedup store and the batch surface.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ticks_open, ticks_drain, batch_finance, docs_store (see
perfbench/README.md). The first run builds the program from `src/main`
and the harness from `perfbench/harness` with the Scala compiler that
ships with Spark, into `$CARGO_TARGET_DIR` (default `.bench_build`).
The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end ones with --trace 0, per-layer ones with
--trace 1). A traced run also writes its spans, self times and
per-layer numbers to `<build>/trace/<workload>-<seed>.json`.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("ticks_open", "ticks_drain", "batch_finance", "docs_store")
EXPECTED = os.path.join(HERE, "batch_finance_expected.tsv")
DEADLINE_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {"setup_s": "s", "throughput": "1/s", "latency_p50_ms": "ms"}
PER_LAYER = {
    "latency_tail_ms": "ms", "latency_tail_pct": "%",
    "gen.late_ms_max": "ms", "source.backlog_rows_max": "rows",
    "source.backlog_rows_end": "rows", "engine.latest_offset_ms": "ms",
    "engine.get_batch_ms": "ms", "engine.batches": "count", "engine.batch_rows_p50": "rows",
    "engine.trigger_ms_p50": "ms", "engine.trigger_ms_tail": "ms", "engine.planning_ms": "ms",
    "engine.add_batch_ms": "ms", "engine.wal_ms": "ms", "engine.jobs_per_batch": "count",
    "engine.tasks_per_batch": "count", "state.commit_ms": "ms", "state.update_ms": "ms",
    "state.rows_total": "rows", "state.mem_b": "B", "sinks.logging_ms": "ms",
    "sinks.alerts_ms": "ms", "sinks.failed": "count", "sinks.rows_delivered": "rows",
    "alerts.delivered": "count", "store.sink_ms_first10": "ms", "store.sink_ms_last10": "ms",
    "store.serve_ms": "ms", "store.read_ms": "ms", "store.partitions": "count",
    "store.files": "count", "store.bytes": "B", "store.rows": "rows",
    "query.build_ms": "ms", "query.plan_ms": "ms", "query.exec_ms": "ms", "query.jobs": "count",
    "query.driver_gap_ms": "ms", "query.task_ms": "ms", "query.shuffle_write_b": "B",
    "query.spill_b": "B", "query.gc_ms": "ms", "tables.read_jobs": "count",
    "caches.release_ms": "ms", "host.load1_start": "load", "host.load1_end": "load",
    "host.steal_pct": "%",
    "jvm.heap_peak_mb": "MB", "jvm.gc_ms": "ms",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def spark_jars():
    """The Spark jars: `$SPARK_HOME/jars`, else the `unmanagedBase` that
    build.sbt compiles against. They include the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler at '{jars}'; set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not main:
        sys.exit("perfbench: no program sources under src/main/scala; run from a checkout")
    return main, harness


def scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join([os.path.join(jars, "*")] + classpath)] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build(jars):
    """Compile the program and the harness, unless the sources are
    unchanged since the last build in this build directory."""
    main, harness = sources()
    h = hashlib.sha256()
    for f in main + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = build_dir()
    stamp_file = os.path.join(bdir, "stamp")
    classes = [os.path.join(bdir, "harness"), os.path.join(bdir, "main")]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("building program and harness")
    for d in classes:
        shutil.rmtree(d, ignore_errors=True)
    t = time.time()
    scalac(jars, classes[1], [], main)
    scalac(jars, classes[0], [classes[1]], harness)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t:.1f}s")
    return classes


def run_jvm(jars, classes, args, cores, deadline):
    work = os.path.join(build_dir(), "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "raw.json")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", work, "--out", out, "--expected", EXPECTED])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its deadline")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: harness exited with {rc}")
    with open(out) as fh:
        raw = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def cpu_times():
    """The aggregate `cpu` line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of all CPU time the hypervisor stole between two readings."""
    if not before or not after or len(before) < 8:
        return 0.0
    d = [a - b for a, b in zip(after, before)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(raw):
    """The end-to-end metrics, plus the tail percentile and sample count."""
    w = raw["workload"]
    wall_s = (raw["t_end"] - raw["t0"]) / 1000.0
    if w == "ticks_open":
        lat = M.due_latencies(raw["blocks"], raw["alerts"])
        done = raw["timed_ticks"]
    elif w == "ticks_drain":
        lat = [b[2] - b[1] for b in raw["blocks"]]
        done = raw["timed_ticks"]
    elif w == "docs_store":
        lat = [e - s for s, e in raw["chunks"]]
        done = raw["timed_docs"]
    else:
        passes = {}
        for q in raw["queries"]:
            passes[q[0]] = passes.get(q[0], 0.0) + q[3]
        lat = list(passes.values())
        done = len(raw["queries"])
    p, tail_ms = M.tail(lat)
    vals = {
        "setup_s": raw["session_s"] + median(raw["setup_reps_s"]),
        "throughput": done / wall_s,
        "latency_p50_ms": M.percentile(lat, 50),
    }
    return vals, {"latency_tail_ms": tail_ms, "latency_tail_pct": p,
                  "latency_samples": len(lat), "wall_s": wall_s}


def timed_progress(raw):
    return [p for p in raw.get("progress", []) if p["ts"] >= raw["t0"]]


def per_layer(raw):
    """Per-layer numbers of a traced run; 0 where the workload does not
    touch the layer."""
    v = dict.fromkeys(PER_LAYER, 0.0)
    host = raw["host"]
    v.update({"host.load1_start": host["load1_start"], "host.load1_end": host["load1_end"],
              "jvm.heap_peak_mb": host["heap_peak_mb"], "jvm.gc_ms": host["gc_ms"],
              "host.steal_pct": host["steal_pct"]})
    spans = raw.get("spans", [])
    jobs = raw.get("jobs", [])
    prog = timed_progress(raw)
    w = raw["workload"]
    if prog:
        d = [p["duration"] for p in prog]
        trig = [x.get("triggerExecution", 0) for x in d]
        batches = {p["batch"] for p in prog}
        per_batch = {}
        for j in jobs:
            if j["batch"] in batches:
                n, t = per_batch.get(j["batch"], (0, 0))
                per_batch[j["batch"]] = (n + 1, t + j["tasks"])
        v.update({
            "engine.batches": len(prog),
            "engine.batch_rows_p50": median([p["rows"] for p in prog]),
            "engine.trigger_ms_p50": M.percentile(trig, 50),
            "engine.trigger_ms_tail": M.tail(trig)[1],
            "engine.latest_offset_ms": median([x.get("latestOffset", 0) for x in d]),
            "engine.get_batch_ms": median([x.get("getBatch", 0) for x in d]),
            "engine.planning_ms": median([x.get("queryPlanning", 0) for x in d]),
            "engine.add_batch_ms": median([x.get("addBatch", 0) for x in d]),
            "engine.wal_ms": median([x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                     for x in d]),
            "engine.jobs_per_batch": median([n for n, _ in per_batch.values()]),
            "engine.tasks_per_batch": median([t for _, t in per_batch.values()]),
        })
        if w.startswith("ticks"):
            v.update({
                "state.commit_ms": median([p["state_commit_ms"] for p in prog]),
                "state.update_ms": median([p["state_update_ms"] for p in prog]),
                "state.rows_total": prog[-1]["state_rows"],
                "state.mem_b": prog[-1]["state_mem_b"],
            })
    if w.startswith("ticks"):
        t0 = raw["t0"]
        sink = lambda name: median([s["end"] - s["start"] for s in spans
                                    if s["name"] == name and s["start"] >= t0])
        # at each trigger start while the generator ran: rows appended
        # since the previous batch committed
        gen_end = raw["blocks"][-1][2] if raw["blocks"] else t0
        every = raw["progress"]
        trig = [(p["ts"], q["end_offset"]) for q, p in zip(every, every[1:])
                if t0 <= p["ts"] <= gen_end]
        bl = M.backlog(raw["blocks"], trig) or [0]
        v.update({
            "sinks.logging_ms": sink("sinks.logging"),
            "sinks.alerts_ms": sink("sinks.alerts"),
            "sinks.failed": raw["sink_failed"],
            "sinks.rows_delivered": raw["rows_delivered"],
            "alerts.delivered": len(raw["alerts"]),
            "source.backlog_rows_max": max(bl),
            "source.backlog_rows_end": bl[-1],
        })
        if w == "ticks_open":
            v["gen.late_ms_max"] = max(M.lateness(raw["blocks"]))
    if w == "docs_store":
        sm = raw["sink_ms"]
        v.update({
            "store.sink_ms_first10": statistics.mean(sm[:10]),
            "store.sink_ms_last10": statistics.mean(sm[-10:]),
            "store.serve_ms": median(raw["serve_ms"]),
            "store.read_ms": raw["store_read_ms"],
            "store.partitions": raw["store"]["partitions"],
            "store.files": raw["store"]["files"],
            "store.bytes": raw["store"]["bytes"],
            "store.rows": raw["store"]["rows"],
        })
    if w == "batch_finance":
        v.update(batch_layers(raw, spans, jobs))
    return v


def batch_layers(raw, spans, jobs):
    """Per-query layer numbers summed over the first timed pass."""
    passes = [s for s in spans if s["name"] == "pass"]
    if not passes:
        return {}
    first = passes[0]["id"]
    queries = [s for s in spans if s["name"] == "query" and s["parent"] == first]
    qids = {q["id"] for q in queries}
    kids = [s for s in spans if s["parent"] in qids]
    owner = {s["id"]: s["parent"] for s in kids}
    owner.update({q: q for q in qids})
    by_name = lambda n: sum(s["end"] - s["start"] for s in kids if s["name"] == n)
    qjobs = [j for j in jobs if j["span"] in owner]
    gaps = 0.0
    for q in queries:
        iv = [(j["start"], j["end"]) for j in qjobs if owner[j["span"]] == q["id"]]
        gaps += (q["end"] - q["start"]) - M.covered(iv, q["start"], q["end"])
    plan = 0.0
    for rec in raw.get("plans", []):
        ph = rec["phases"]
        start = min(s for s, _ in ph.values()) if ph else None
        if start is not None and any(q["start"] <= start <= q["end"] for q in queries):
            plan += sum(e - s for s, e in ph.values())
    return {
        "query.build_ms": by_name("query.build"),
        "query.exec_ms": by_name("query.exec"),
        "caches.release_ms": by_name("caches.release"),
        "query.plan_ms": plan,
        "query.jobs": len(qjobs),
        "query.driver_gap_ms": gaps,
        "query.task_ms": sum(j["task_ms"] for j in qjobs),
        "query.shuffle_write_b": sum(j["shuffle_write_b"] for j in qjobs),
        "query.spill_b": sum(j["spill_b"] for j in qjobs),
        "query.gc_ms": sum(j["gc_ms"] for j in qjobs),
        "tables.read_jobs": sum(1 for j in qjobs if j["tables_read"]),
    }


def self_time_by_name(raw):
    """Total self time per span name over the timed region. Micro-batches
    come from the engine's progress reports (trigger start and
    duration); Spark jobs submitted inside a traced call are leaf spans
    under it."""
    t0 = raw["t0"]
    allspans = [s for s in raw.get("spans", []) if s["start"] >= t0]
    allspans += [{"id": f"batch#{p['batch']}", "name": "engine.batch", "parent": "",
                  "start": p["ts"], "end": p["ts"] + p["duration"].get("triggerExecution", 0)}
                 for p in timed_progress(raw)]
    ids = {s["id"] for s in allspans}
    allspans += [{"id": f"job#{j['id']}", "name": "spark.job", "parent": j["span"],
                  "start": j["start"], "end": j["end"]}
                 for j in raw.get("jobs", []) if j["end"] >= 0 and j["span"] in ids]
    st = M.self_times(allspans)
    out = {}
    for s in allspans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return {k: round(x, 3) for k, x in sorted(out.items())}


def write_trace(raw, args, e2e, extra, layers):
    d = os.path.join(build_dir(), "trace")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-{args.seed}.json")
    note = ("sinks.logging runs first in the fan-out, so its time includes the "
            "materialization of the persisted micro-batch that the alert sink then reads"
            if args.workload.startswith("ticks") else "")
    with open(path, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "cores": raw["cores"],
                   "end_to_end_traced": e2e, "end_to_end_info": extra, "per_layer": layers,
                   "self_ms_by_span": self_time_by_name(raw),
                   "note": note, "checks": raw["checks"]}, fh, indent=1)
    log(f"trace written to {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] threads (default: the CPUs this process may use)")
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    jars = spark_jars()
    classes = build(jars)
    cpu0 = cpu_times()
    raw = run_jvm(jars, classes, args, args.cores, deadline)
    raw["host"]["steal_pct"] = steal_pct(cpu0, cpu_times())
    if "error" in raw:
        log(f"run error: {raw['error']}")
    correct = raw["failed"] == 0 and "error" not in raw and all(c["ok"] for c in raw["checks"])
    try:
        e2e, extra = end_to_end(raw)
    except (KeyError, ValueError, ZeroDivisionError) as e:
        sys.exit(f"perfbench: no measurement ({e!r}); error: {raw.get('error')}")
    log(f"{args.workload}: " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items())
        + f"; tail p{extra['latency_tail_pct']} = {extra['latency_tail_ms']:.4g} ms"
        + f" of {extra['latency_samples']} samples; steal {raw['host']['steal_pct']:.1f}%"
        + f"; session {raw['session_s']:.2f}s, set-ups {raw['setup_reps_s']}")
    if args.trace:
        layers = per_layer(raw)
        layers.update({k: extra[k] for k in ("latency_tail_ms", "latency_tail_pct")})
        write_trace(raw, args, e2e, extra, layers)
        out = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
