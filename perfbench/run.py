#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, generates the
workload's inputs from the seed, drives the workload through the harness
JVM, checks every output against the generator's ground truth, and prints
the metrics.

    python3 perfbench/run.py --workload serve --seed 7 --seconds 10 --trace 0

Run it from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones in BENCHMARK.json; with --trace 1 the per-layer
ones, and the full per-layer artifact (spans, jobs, tracing overhead) is
written under the build directory.
"""

import argparse
import bisect
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from multiprocessing import Pool

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("backfill", "serve", "corpus", "clusters")
HARNESS_TIMEOUT_S = 150  # on top of --seconds
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
LAYERS = ("sources", "rules", "ingest", "schema", "state", "streaming", "dedup", "engine")
LAYER_COUNTERS = (("jobs", "count"), ("tasks", "count"), ("wall_s", "s"), ("task_s", "s"),
                  ("cpu_s", "s"), ("input_bytes", "B"), ("shuffle_bytes", "B"),
                  ("output_bytes", "B"), ("spill_bytes", "B"), ("failed_tasks", "count"))


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else next to the
    `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def _sources(root, suffix):
    out = []
    for d, dirs, files in os.walk(root):
        dirs.sort()
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(suffix)]
    return out


def _scalac(out, classpath, srcs, log):
    os.makedirs(out)
    args = os.path.join(os.path.dirname(out), os.path.basename(out) + ".args")
    with open(args, "w") as f:
        f.write("\n".join(['"%s"' % s for s in srcs]) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-cp", classpath, "@" + args]
    with open(log, "ab") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail("compile failed, see %s" % log)


def build(bdir):
    """Compile the program's main sources and the harness (scalac from the
    Spark distribution); reuse the classes while no source changed."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no program sources at %s: run from a repository checkout" % main_src)
    srcs = _sources(main_src, ".scala")
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    resources = _sources(res_dir, "") if os.path.isdir(res_dir) else []
    harness = _sources(os.path.join(HERE, "harness"), ".scala")
    h = hashlib.sha256()
    for f in srcs + resources + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    out = os.path.join(bdir, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == key:
                return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "build.log")
    program = os.path.join(out, "program")
    _scalac(program, spark_jars(), srcs, log)
    for f in resources:
        dst = os.path.join(program, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    _scalac(os.path.join(out, "harness"), program + os.pathsep + spark_jars(), harness, log)
    with open(stamp, "w") as f:
        f.write(key)
    return out


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it (the
    median when there are too few samples), with that percentile."""
    s = sorted(xs)
    n = len(s)
    if n >= 21:
        return s[n - 11], round(100.0 * (n - 10) / n, 1)
    return median(s), 50.0


def union(intervals):
    total, cur = 0.0, None
    for a, b in sorted(intervals):
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def dir_usage(root, pred=lambda rel: True):
    files = size = 0
    for d, dirs, fs in os.walk(root):
        for f in fs:
            rel = os.path.relpath(os.path.join(d, f), root)
            if not f.startswith(".") and pred(rel):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(total, steal) jiffies of all CPUs: steal is time the hypervisor
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


# ------------------------------------------------------------------ run

def java_cmd(classes, work, args):
    # no hsperfdata file in the system temp dir: the run writes only
    # inside the checkout
    return (["java", "-XX:-UsePerfData", "-Xmx2g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
            + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
            + ["-cp", os.pathsep.join([os.path.join(classes, "harness"),
                                       os.path.join(classes, "program"), spark_jars()]),
               "perfbench.Main"] + args)


def generate(workload, seed, out, seconds):
    if workload != "backfill":
        return gen.generate(workload, seed, out, seconds)
    # close and join, not terminate: terminating a pool whose workers are
    # still starting up can leave one blocked on the task queue's lock
    pool = Pool(min(4, os.cpu_count() or 1))
    try:
        return gen.generate(workload, seed, out, seconds, map_fn=pool.map)
    finally:
        pool.close()
        pool.join()


def run_harness(a, classes, work, inp):
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    log = open(os.path.join(work, "harness.log"), "wb")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", inp, "--work", work,
            "--rules", os.path.join(HERE, "rules.json"), "--out", result,
            "--spawned-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(java_cmd(classes, work, args), stdout=log, stderr=subprocess.STDOUT)
    deadline = time.time() + a.seconds + HARNESS_TIMEOUT_S
    load = None
    try:
        if a.workload == "serve":
            load = drive_serve(a, work, inp, proc, deadline)
        while proc.poll() is None:
            if time.time() > deadline:
                raise RuntimeError("harness timed out")
            time.sleep(0.05)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "harness.log"), "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
        fail("harness failed (exit %s)" % proc.returncode)
    with open(result) as f:
        return json.load(f), load


def drive_serve(a, work, inp, proc, deadline):
    """Start the load generator once the receiver is up; tell the harness
    when the send window is over. Returns the generator's results."""
    ready = os.path.join(work, "ready.json")
    while not os.path.exists(ready):
        if proc.poll() is not None or time.time() > deadline:
            raise RuntimeError("harness never became ready")
        time.sleep(0.05)
    with open(ready) as f:
        port = json.load(f)["port"]
    out = os.path.join(work, "loadgen.json")
    gp = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                           "--schedule", os.path.join(inp, "schedule.json"),
                           "--staged", os.path.join(inp, "objects"),
                           "--landing", os.path.join(work, "landing"), "--port", str(port),
                           "--start", str(time.time() + 0.5), "--seconds", str(a.seconds),
                           "--threads", str(min(4, os.cpu_count() or 1)), "--out", out])
    try:
        while gp.poll() is None:
            if time.time() > deadline:
                raise RuntimeError("load generator timed out")
            time.sleep(0.05)
    finally:
        if gp.poll() is None:
            gp.kill()
            gp.wait()
    if gp.returncode != 0:
        raise RuntimeError("load generator failed")
    open(os.path.join(work, "loadgen.done"), "w").close()
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

def measured_triggers(r):
    return [t for t in r["triggers"] if t["start"] >= r["measure_start"]]


def operations(workload, r, load):
    """(attempted, failed) operations the workload itself performed."""
    res = r["result"]
    if workload == "backfill":
        return len(res["rounds"]), 0
    if workload == "serve":
        return len(load["sends"]), sum(1 for s in load["sends"] if not s["ok"])
    if workload == "corpus":
        return len(measured_triggers(r)), 0
    return 4 * len(res["cycles"]), 0


def end_to_end(workload, manifest, r, load):
    """(metrics, notes): the end-to-end metrics of one run."""
    res = r["result"]
    trig = measured_triggers(r)
    if workload == "backfill":
        rounds = manifest["rounds"][:len(res["rounds"])]
        lat = [(x["end"] - x["start"]) / 1e3 for x in res["rounds"]]
        items = sum(x["valid"] for x in rounds) / sum(lat)
        note = "%d rounds of %s" % (len(rounds), manifest["input"])
    elif workload == "serve":
        committed = check.committed_at(res["warehouse"])
        first = {}
        for s in load["sends"]:
            first[s["object"]] = min(first.get(s["object"], s["due"]), s["due"])
        lat = [committed[o] - t for o, t in first.items() if o in committed]
        busy = sum(t["ms"]["triggerExecution"] for t in trig) / 1e3
        items = len(committed) / busy if busy else 0.0
        note = "%d objects notified at %s" % (len(first), manifest["input"])
    elif workload == "corpus":
        lat = [t["ms"]["triggerExecution"] / 1e3 for t in trig]
        wall = sum((d["end"] - d["start"]) / 1e3 for d in res["drains"])
        docs = sum(len(f["ids"]) for f in manifest["files"][:res["files"]])
        items = docs / wall
        note = "%d files of %s" % (res["files"], manifest["input"])
    else:
        lat = [t["ms"]["triggerExecution"] / 1e3 for t in trig]
        wall = sum((d[1] - d[0]) / 1e3 for c in res["cycles"] for d in c["drains"])
        cyc = {c["cycle"]: c for c in manifest["cycles"]}
        docs = sum(len(ids) for c in res["cycles"]
                   for ids in cyc[int(c["cycle"].split("-")[1])]["files"])
        items = docs / wall
        note = "%d lifecycles of %s" % (len(res["cycles"]), manifest["input"])
    t, pct = tail(lat)
    m = {
        "setup_s": (r["setup_s"], "s"),
        "heap_peak_mb": (r["heap_after_gc_peak_mb"], "MB"),
        "items_per_s": (items, "1/s"),
        "latency_s_p50": (median(lat), "s"),
    }
    return m, "%s; %d latency samples, p%s %.3f s; peak RSS (VmHWM) %.0f MB" % (
        note, len(lat), pct, t, r["vmhwm_kb"] / 1024.0)


def self_times(spans, jobs):
    """Self time per span: its duration minus the union of its children
    and of the jobs that started inside it and in none of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start"], s["end"]
        children = [(max(a, c["start"]), min(b, c["end"])) for c in kids.get(s["id"], [])]
        own = [(max(a, j["start"]), min(b, j["end"])) for j in jobs
               if a <= j["start"] < b and not any(c["start"] <= j["start"] < c["end"]
                                                  for c in kids.get(s["id"], []))]
        out[s["id"]] = max(0.0, (b - a) - union([x for x in children + own if x[1] > x[0]]))
    return out


def trace_spans(r):
    """Measured harness spans plus one span per measured trigger. A span
    opened on a thread with no open span of its own (a trigger, a backend
    call on a pool or stream thread) is parented to the innermost span
    containing it in time."""
    spans = [dict(s) for s in r["trace"]["spans"] if s["start"] >= r["measure_start"]]
    nxt = max([s["id"] for s in spans] + [0]) + 1
    for t in measured_triggers(r):
        spans.append({"id": nxt, "parent": 0, "name": "trigger", "start": t["start"],
                      "end": t["start"] + t["ms"]["triggerExecution"]})
        nxt += 1
    for s in spans:
        if s["parent"] == 0:
            holders = [h for h in spans if h is not s and h["start"] <= s["start"]
                       and s["end"] <= h["end"] and h["end"] - h["start"] > s["end"] - s["start"]]
            if holders:
                s["parent"] = min(holders, key=lambda h: h["end"] - h["start"])["id"]
    return spans


def attribute(tr, since):
    """Charge each job to a layer: the layer most of the driver-thread
    samples taken during the job name (the innermost graft frame under a
    Spark call), else the layer of its call site. A streaming query's job
    that no sample covers is the engine's own work (planning, listing,
    offset and commit logs): its call site is the query's start(), which
    names no module. Returns the jobs with `layer`, `frame` and `by`
    ("samples" or "call_site") set. Only jobs started at or after `since`
    (the end of the warm-up) count."""
    samples = sorted(tr["samples"])
    times = [x[0] for x in samples]
    out = []
    for j in tr["jobs"]:
        if j["start"] < since:
            continue
        lo, hi = bisect.bisect_left(times, j["start"]), bisect.bisect_right(times, j["end"])
        votes = {}
        for _, _, layer, frame in samples[lo:hi]:
            votes[(layer, frame)] = votes.get((layer, frame), 0) + 1
        j = dict(j)
        if votes:
            by_layer = {}
            for (layer, _), n in votes.items():
                by_layer[layer] = by_layer.get(layer, 0) + n
            j["layer"] = max(sorted(by_layer), key=by_layer.get)
            j["frame"] = max(sorted(k for k in votes if k[0] == j["layer"]), key=votes.get)[1]
            j["by"] = "samples"
        else:
            j["layer"] = "engine" if j["stream"] else j["call_layer"]
            j["by"] = "call_site"
        out.append(j)
    return out


def per_layer(workload, manifest, r, load):
    tr = r["trace"]
    res = r["result"]
    jobs = attribute(tr, r["measure_start"])
    m = {}
    for layer in LAYERS:
        mine = [j for j in jobs if j["layer"] == layer]
        for k, unit in LAYER_COUNTERS:
            if k == "jobs":
                v = len(mine)
            elif k == "wall_s":
                v = union([(j["start"], j["end"]) for j in mine]) / 1e3
            else:
                v = sum(j[k] for j in mine)
            m["%s.%s" % (layer, k)] = (v, unit)
    calls = tr["calls"]
    for k in ("ddl", "append", "read"):
        c = calls.get("schema." + k, {"calls": 0, "s": 0.0})
        m["schema.%s_calls" % k] = (c["calls"], "count")
        m["schema.%s_s" % k] = (c["s"], "s")
    wh = res.get("warehouse")
    versions = 0
    if wh:
        for d, _, fs in os.walk(wh):
            if "schema.json" in fs:
                with open(os.path.join(d, "schema.json")) as f:
                    versions += json.load(f)["version"]
    m["schema.versions"] = (versions, "count")
    # sources and state: the load generator's view of the push endpoint
    attempts = [x for s in (load["sends"] if load else []) for x in s["attempts"]]
    statuses = [x[2] for x in attempts]
    spooled = check.spool_count(res["spool"]) if workload == "serve" else 0
    m["sources.requests"] = (len(attempts), "count")
    m["sources.redelivered"] = (len(attempts) - (len(load["sends"]) if load else 0), "count")
    m["sources.status_205"] = (statuses.count(205), "count")
    m["sources.status_429"] = (statuses.count(429), "count")
    m["sources.status_5xx"] = (sum(1 for s in statuses if s >= 500), "count")
    late = [(s["sent"] - s["due"]) * 1e3 for s in load["sends"]] if load else [0.0]
    m["sources.generator_late_ms_tail"] = (tail(late)[0], "ms")
    accept = [(s["attempts"][-1][1] - s["due"]) * 1e3 for s in load["sends"]] if load else []
    m["sources.accept_ms_p50"] = (median(accept), "ms")
    m["sources.accept_ms_tail"] = (tail(accept)[0] if accept else 0.0, "ms")
    ok2xx = sum(1 for s in statuses if 200 <= s < 300)
    m["state.spooled"] = (spooled, "count")
    m["state.dup_acked"] = (ok2xx - spooled if load else 0, "count")
    m["state.spooled_per_request"] = (spooled / len(attempts) if attempts else 0.0, "ratio")
    # streaming: progress reports and the stores the streaming module owns
    trig = measured_triggers(r)
    m["streaming.triggers"] = (len(trig), "count")
    m["streaming.engine_floor_s_p50"] = (median(
        [(t["ms"]["triggerExecution"] - t["ms"]["addBatch"]) / 1e3 for t in trig]), "s")
    m["streaming.add_batch_s_p50"] = (median([t["ms"]["addBatch"] / 1e3 for t in trig]), "s")
    backlog = 0
    if workload == "serve":
        committed = check.committed_at(wh)
        backlog = sum(1 for o in check.serve_delivery(load["sends"])
                      if committed.get(o, float("inf")) > load["window_end"])
    m["streaming.backlog_end"] = (backlog, "count")
    cycles = res.get("cycles", [])
    m["streaming.compact_s"] = (sum((c["compact"][1] - c["compact"][0]) / 1e3 for c in cycles), "s")
    m["streaming.expire_s"] = (sum((c["expire"][1] - c["expire"][0]) / 1e3 for c in cycles), "s")
    st_files = st_bytes = dd_files = dd_bytes = 0
    if workload == "corpus":
        corpus = res["corpus"]
        dedup_store = lambda rel: rel.startswith(("bloom", "digests", "bands"))  # noqa: E731
        st_files, st_bytes = dir_usage(corpus, lambda rel: not dedup_store(rel))
        dd_files, dd_bytes = dir_usage(corpus, dedup_store)
    for c in cycles:
        f, b = dir_usage(os.path.join(c["dir"], "store"))
        st_files += f
        st_bytes += b
    m["streaming.store_files"] = (st_files, "count")
    m["streaming.store_bytes"] = (st_bytes, "B")
    # ingest: telemetry rows and the destination tables
    parsed = appended = tfiles = tbytes = quarantine = 0
    if wh:
        meta = os.path.join(wh, "_meta")
        # source_log has one row per (rule, object): count each object's
        # decoded rows once per ingest
        parsed = sum(dict(((i, p), n) for i, p, n in check.read_columns(
            os.path.join(meta, "source_log", "data"), ["ingest_id", "path", "row_count"])).values())
        appended = sum(check.read_column(os.path.join(meta, "load_log", "data"), "log_count"))
        quarantine = len(check.read_column(os.path.join(meta, "quarantine", "data"), "ingest_id"))
        for t in check.tables(wh):
            for f in check.parquet_files(check.table_dir(wh, t)):
                tfiles += 1
                tbytes += os.path.getsize(f)
    m["ingest.rows_parsed"] = (parsed, "count")
    m["ingest.rows_appended"] = (appended, "count")
    m["ingest.appended_per_parsed"] = (appended / parsed if parsed else 0.0, "ratio")
    m["ingest.table_files"] = (tfiles, "count")
    m["ingest.table_bytes"] = (tbytes, "B")
    m["ingest.quarantine_rows"] = (quarantine, "count")
    keep = 0.0
    if workload == "corpus":
        kept = len(check.read_column(os.path.join(res["corpus"], "docs"), "doc_id"))
        docs = sum(len(f["ids"]) for f in manifest["files"][:res["files"]])
        keep = kept / docs if docs else 0.0
    m["dedup.store_files"] = (dd_files, "count")
    m["dedup.store_bytes"] = (dd_bytes, "B")
    m["dedup.keep_ratio"] = (keep, "ratio")
    # driver: span time no Spark job covers, and GC
    spans = trace_spans(r)
    selfs = self_times(spans, jobs)
    m["driver.self_s"] = (sum(selfs.values()) / 1e3, "s")
    m["driver.gc_s"] = (r["gc_s"], "s")
    job_ms = {}
    for j in jobs:
        job_ms[j["layer"]] = job_ms.get(j["layer"], 0.0) + j["end"] - j["start"]
    total = sum(job_ms.values())
    m["engine.job_share"] = (job_ms.get("engine", 0.0) / total if total else 0.0, "ratio")
    return m, spans, selfs, jobs


def artifact(path, a, trace, jobs, layer_metrics, spans, selfs, e2e, baseline):
    frames = {}
    for j in jobs:
        k = (j["layer"], j["frame"])
        n, ms = frames.get(k, (0, 0.0))
        frames[k] = (n + 1, ms + j["end"] - j["start"])
    top = sorted(frames.items(), key=lambda kv: -kv[1][1])[:40]
    overhead = None
    if baseline:
        overhead = {k: e2e[k][0] - baseline[k][0] for k in e2e if k in baseline}
    doc = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(layer_metrics.items())},
        "traced_end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "untraced_end_to_end": ({k: {"value": v, "unit": u} for k, (v, u) in baseline.items()}
                                if baseline else None),
        "tracing_overhead": overhead,
        "job_time_by_frame": [{"layer": l, "frame": f, "jobs": n, "s": ms / 1e3}
                              for (l, f), (n, ms) in top],
        "jobs_attributed_by_samples": sum(1 for j in jobs if j["by"] == "samples"),
        "sampler_cpu_s": trace["sampler_cpu_s"], "sample_period_ms": trace["sample_period_ms"],
        "jobs_attributed_by_call_site": sum(1 for j in jobs if j["by"] == "call_site"),
        "spans": [dict(s, self_ms=selfs[s["id"]]) for s in spans],
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


def main():
    # a terminated run still stops the processes it started (the finally
    # blocks in run_harness and drive_serve)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(bdir)
    work = os.path.join(bdir, "runs", "%s-%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    load_start, ticks_start = loadavg(), cpu_ticks()
    manifest = generate(a.workload, a.seed, inp, a.seconds)
    r, load = run_harness(a, classes, work, inp)
    load_end, ticks_end = loadavg(), cpu_ticks()
    total = ticks_end[0] - ticks_start[0]
    checks = check.run_checks(a.workload, manifest, r, load)
    ops, ops_failed = operations(a.workload, r, load)
    failed_checks = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        print("check %-36s %s  %s" % (name, "ok" if ok else "FAIL", detail))
    e2e, note = end_to_end(a.workload, manifest, r, load)
    print("workload %s seed %d: %s" % (a.workload, a.seed, note))
    print("nproc %d, loadavg-1m %.2f at start, %.2f at end, cpu steal %.1f%%"
          % (r["cpus"], load_start, load_end,
             100.0 * (ticks_end[1] - ticks_start[1]) / total if total else 0.0))
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, "%s-seed%d.json" % (a.workload, a.seed))
    if a.trace:
        baseline = None
        if os.path.exists(base):
            with open(base) as f:
                baseline = {k: tuple(v) for k, v in json.load(f).items()}
        metrics, spans, selfs, jobs = per_layer(a.workload, manifest, r, load)
        art = os.path.join(bdir, "trace", "%s-seed%d.json" % (a.workload, a.seed))
        os.makedirs(os.path.dirname(art), exist_ok=True)
        artifact(art, a, r["trace"], jobs, metrics, spans, selfs, e2e, baseline)
        print("per-layer artifact: %s" % os.path.relpath(art, ROOT))
    else:
        metrics = e2e
        with open(base, "w") as f:
            json.dump(e2e, f)
    correct = not failed_checks and ops_failed == 0
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print("outputs of the failed run left in %s" % os.path.relpath(work, ROOT))
    print(json.dumps({
        "correct": correct,
        "attempted": ops + len(checks),
        "failed": ops_failed + len(failed_checks),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}}))


if __name__ == "__main__":
    main()
