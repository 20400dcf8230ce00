#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the library
and the harness (`perfbench/build.sbt`, sbt offline); later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from the seed (`gen.py`), starts one JVM with a `GraftSession` at
`local[nproc]` (`graftbench.Main`), checks every output, and prints as
its last line
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). The full
record of the run (environment, per-query map, layer rollup, spans,
stream logs) goes to `.bench_build/results/`. See README.md.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import streamlog  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("curation", "analytics")
LAYERS = ("cdc", "sources", "dedup", "text", "sampling", "sim", "mm", "events",
          "graph", "relational")
LAYER_FIELDS = ("build_s", "plan_s", "exec_s", "jobs", "tasks", "task_cpu_s",
                "gc_s", "sched_delay_s", "shuffle_bytes")
STREAM_FIELDS = ("trigger_ms", "fts_commit_ms", "geo_commit_ms", "state_commit_ms",
                 "batches", "rows_per_batch", "backlog_files", "state_rows",
                 "gen_late_ms")
UNITS = {"jobs": "count", "tasks": "count", "shuffle_bytes": "bytes",
         "batches": "count", "rows_per_batch": "count", "backlog_files": "count",
         "state_rows": "count", "peak_rss_mb": "MB", "stream_sustained_eps": "1/s"}
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def unit(name):
    field = name.split(".", 1)[-1]
    if field in UNITS:
        return UNITS[field]
    return "ms" if field.endswith("_ms") else "s" if field.endswith("_s") else "count"


# -- build ---------------------------------------------------------------

def source_stamp():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    for f in ("build.sbt", "project/build.properties"):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile library + harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building library and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


# -- environment ---------------------------------------------------------

def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_version():
    head = os.path.join(ROOT, ".git")
    if os.path.exists(head):
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                  capture_output=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "source-sha256:" + source_stamp()[:16]


def nproc():
    return len(os.sched_getaffinity(0))


# -- metrics -------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def steal_share(ticks):
    """Share of the CPU time the machine's runnable work wanted that the
    hypervisor gave to other guests, from /proc/stat tick deltas (user,
    nice, system, idle, iowait, irq, softirq, steal)."""
    busy = ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6]
    return ticks[7] / (busy + ticks[7]) if busy + ticks[7] else 0.0


def op_time(r):
    return r["build_s"] + r["write_s"]


def batch_metrics(res, t0):
    passes = res["timed"]["passes"]
    plain = [p for p in passes if not p["traced"]] or passes
    walls = [(p["end_ms"] - p["start_ms"]) / 1e3 for p in plain]
    times = [op_time(r) for p in plain for r in p["ops"] if r["error"] is None]
    return {
        "setup_s": passes[0]["start_ms"] / 1e3 - t0,
        "wall_s": median(walls),
        "query_p50_s": median(times),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layer_rollup(passes):
    """Per layer, the median over traced passes of each pass's sum."""
    traced = [p for p in passes if p["traced"]]
    per_pass = []
    for p in traced:
        acc = {}
        for r in p["ops"]:
            a = acc.setdefault(r["layer"], {f: 0.0 for f in LAYER_FIELDS})
            a["build_s"] += r["build_s"]
            a["plan_s"] += r["plan_s"]
            a["exec_s"] += max(0.0, r["write_s"] - r["plan_s"])
            for f in ("jobs", "tasks", "task_cpu_s", "gc_s", "sched_delay_s",
                      "shuffle_bytes"):
                a[f] += r["build"][f] + r["exec"][f]
        per_pass.append(acc)
    layers = sorted({lay for acc in per_pass for lay in acc})
    return {lay: {f: median([acc[lay][f] for acc in per_pass if lay in acc])
                  for f in LAYER_FIELDS} for lay in layers}


def query_map(passes):
    """Per query: median time over untraced passes, and the traced split."""
    out = {}
    for p in passes:
        for r in p["ops"]:
            q = out.setdefault(r["name"], {"layer": r["layer"], "times_s": [],
                                           "errors": []})
            if r["error"]:
                q["errors"].append(r["error"])
            elif not p["traced"]:
                q["times_s"].append(op_time(r))
            if p["traced"]:
                q.setdefault("traced", []).append({
                    "build_s": r["build_s"], "plan_s": r["plan_s"],
                    "exec_s": max(0.0, r["write_s"] - r["plan_s"]),
                    "build": r["build"], "exec": r["exec"]})
    for q in out.values():
        q["median_s"] = median(q["times_s"])
    return out


def batch_spans(workload, seed, res, first_id=0):
    """Spans workload → pass → query → build/plan/exec (write, untraced)."""
    spans = []

    def add(parent, name, start, end):
        spans.append({"id": first_id + len(spans), "parent": parent, "name": name,
                      "start": start, "end": end, "workload": workload, "seed": seed})
        return spans[-1]["id"]

    passes = res["timed"]["passes"]
    root = add(None, workload, passes[0]["start_ms"], passes[-1]["end_ms"])
    for p in passes:
        pid = add(root, f"pass {p['index']}" + (" traced" if p["traced"] else ""),
                  p["start_ms"], p["end_ms"])
        for r in p["ops"]:
            s = r["start_ms"]
            b = s + r["build_s"] * 1e3
            e = b + r["write_s"] * 1e3
            qid = add(pid, r["name"], s, e)
            add(qid, "build", s, b)
            if p["traced"]:
                add(qid, "plan", b, b + r["plan_s"] * 1e3)
                add(qid, "exec", b + r["plan_s"] * 1e3, e)
            else:
                add(qid, "write", b, e)
    return spans


def load_expected(workload):
    path = os.path.join(HERE, "expected.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f).get(workload, {})


def check_batch(workload, res, inputs, stats, work, check_dir):
    """Check the check pass's outputs against the oracle: through a stored
    oracle digest where one applies and matches, else by running the
    oracle. Returns failures and check seconds by op."""
    chk = res["check"]
    failures = dict(chk["errors"])
    expected = load_expected(workload)
    con = oracle.connect(inputs, nproc(), os.path.join(work, "duckdb-tmp"))
    times = {}
    for name, sql in sorted(chk["oracle_sql"].items()):
        if name in failures:
            continue
        t = time.time()
        out = os.path.join(work, check_dir, name)
        want = expected.get(name)
        why = "no stored digest"
        if (want and want["sql_sha256"] == oracle.sql_sha(sql)
                and want["inputs"] == stats.get("content_digest")):
            why = oracle.check_expected(con, out, want)
        if why:  # the live oracle decides, with its float tolerance
            why = oracle.check(con, out, sql)
        times[name] = time.time() - t
        if why:
            failures[name] = why
    con.close()
    return failures, times


def stream_report(st, stats, spans, workload, seed):
    """Streaming layer metrics and the stream's part of the record, from
    the generator, batch and file-source logs (see streamlog.py). Adds the
    stream's spans (stream → batch → each commit call) to `spans`."""
    file_batch = streamlog.parse_source_log(os.path.join(st["checkpoint"], "sources", "0"))
    rows = streamlog.join(st["gen_log"], st["batch_log"], file_batch)
    steps = {k: streamlog.step_summary(v, rows) for k, v in streamlog.by_step(rows).items()}
    ref = [r for r in rows if r["step"] == "reference"]
    ref_start, ref_end = ref[0]["scheduled_ms"], ref[-1]["scheduled_ms"]
    ref_batches = [b for b in st["batch_log"]
                   if ref_start <= b["end_ms"] and b["start_ms"] <= ref_end]
    per_file = stats["records_per_file"]
    # the reference step is the ladder's first rung
    ladder = [(name, rate * per_file) for name, rate, _, _ in gen.stream_steps()
              if name == "reference" or name.startswith("rate_")]
    sustained_eps, ladder_top = streamlog.sustained_rate(steps, ladder)
    progress = {p["batch"]: p for p in st["progress"]}
    files_of = collections.Counter(file_batch.values())
    ref_ids = [b["batch"] for b in ref_batches if b["batch"] in progress]
    layer = {
        "streaming.trigger_ms": median([progress[i]["trigger_ms"] for i in ref_ids]),
        "streaming.fts_commit_ms": median([b["fts_end_ms"] - b["start_ms"] for b in ref_batches]),
        "streaming.geo_commit_ms": median([b["geo_end_ms"] - b["fts_end_ms"] for b in ref_batches]),
        "streaming.state_commit_ms": median([b["end_ms"] - b["geo_end_ms"] for b in ref_batches]),
        "streaming.batches": len(ref_batches),
        # lines per batch from the files each batch read (the progress
        # report's numInputRows counts every action of the foreachBatch)
        "streaming.rows_per_batch": median([files_of[b["batch"]] * per_file
                                            for b in ref_batches]),
        "streaming.backlog_files": steps["reference"].get("max_backlog_files", 0),
        "streaming.state_rows": st["counts"]["state_rows"],
        "streaming.gen_late_ms": max(r["late_ms"] for r in rows),
        "stream_lat_p50_ms": steps["reference"].get("lat_p50_ms", 0.0),
        "stream_lat_p95_ms": steps["reference"].get("lat_p95_ms", 0.0),
        "stream_sustained_eps": sustained_eps,
    }
    root = len(spans)
    spans.append({"id": root, "parent": None, "name": "stream",
                  "start": st["schedule_start_ms"], "end": st["end_ms"],
                  "workload": workload, "seed": seed})
    for b in st["batch_log"]:
        bid = len(spans)
        spans.append({"id": bid, "parent": root, "name": f"batch {b['batch']}",
                      "start": b["start_ms"], "end": b["end_ms"],
                      "workload": workload, "seed": seed})
        for name, s, e in (("AppendSink.commitBatch fts", b["start_ms"], b["fts_end_ms"]),
                           ("AppendSink.commitBatch geo", b["fts_end_ms"], b["geo_end_ms"]),
                           ("StateTable.commitBatch", b["geo_end_ms"], b["end_ms"])):
            spans.append({"id": len(spans), "parent": bid, "name": name, "start": s,
                          "end": e, "workload": workload, "seed": seed})
    overhead = None
    if "lat_p50_ms" in steps["reference"] and "lat_p50_ms" in steps["reference_traced"]:
        untraced = steps["reference"]["lat_p50_ms"]
        traced = steps["reference_traced"]["lat_p50_ms"]
        overhead = {"metric": "reference-step p50 latency (ms)", "untraced": untraced,
                    "traced": traced, "overhead": traced - untraced}
    undelivered = [r["file"] for r in rows if r["latency_ms"] is None]
    failed_checks = [k for k, ok in st["checks"].items() if not ok]
    return layer, {
        "steps": steps, "overhead": overhead, "checks": st["checks"],
        "sustained_eps": sustained_eps, "sustained_is_ladder_top": ladder_top,
        "ladder_stopped_before": st["ladder_stopped_before"],
        "counts": st["counts"], "drained": st["drained"], "cluster": st["tracer"],
        "batches": [dict(b, files=files_of[b["batch"]]) for b in st["batch_log"]],
        "attempted": len(rows) + len(st["checks"]),
        "failed": len(undelivered) + len(failed_checks),
        "failures": {"undelivered_files": undelivered, "checks": failed_checks},
    }


# -- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources next to perfbench/; "
                         "run from the root of a graft checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir)

    t0 = time.time()
    load_before = loadavg()
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "jvm_result.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.1", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--inputs", inputs, "--work", work,
            "--result", result_file])
    # the JVM starts its session while the inputs are generated; it waits
    # for the `.ready` marker before reading them
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            g0 = time.time()
            stats = gen.generate(a.workload, a.seed, inputs, bool(a.trace))
            gen_s = time.time() - g0
            open(os.path.join(inputs, ".ready"), "w").close()
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(result_file) as f:
        res = json.load(f)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "inputs": stats}
    # the workload itself, and in traced curation runs the CDC batch ops
    parts = [(a.workload, res, inputs, stats, "check")]
    if res.get("cdc"):
        parts.append(("cdc", res["cdc"], os.path.join(inputs, "cdc"), stats["cdc"],
                      "check-cdc"))
    attempted = failed = 0
    all_passes, spans, checks = [], [], {}
    for name, part, part_inputs, part_stats, check_dir in parts:
        failures, oracle_s = check_batch(name, part, part_inputs, part_stats, work,
                                         check_dir)
        passes = part["timed"]["passes"]
        run_errors = {r["name"]: r["error"] for p in passes for r in p["ops"] if r["error"]}
        attempted += len(part["check"]["oracle_sql"]) + sum(len(p["ops"]) for p in passes)
        failed += len(failures) + len(run_errors)
        all_passes += passes
        spans += batch_spans(name, a.seed, part, len(spans))
        plain = [(p["end_ms"] - p["start_ms"]) / 1e3 for p in passes if not p["traced"]]
        traced = [(p["end_ms"] - p["start_ms"]) / 1e3 for p in passes if p["traced"]]
        checks[name] = {
            "check_pass_s": part["check"]["times_s"], "oracle_s": oracle_s,
            "failures": {"oracle": failures, "run": run_errors},
            "passes": [{"index": p["index"], "traced": p["traced"],
                        "wall_s": (p["end_ms"] - p["start_ms"]) / 1e3,
                        "steal_share": steal_share(p["cpu_ticks"])} for p in passes],
            "unscoped": part["timed"]["unscoped"],
            "overhead": None if not traced else {
                "metric": "pass wall (s)", "untraced": median(plain),
                "traced": median(traced), "overhead": median(traced) - median(plain)}}
    e2e = batch_metrics(res, t0)
    rollup = layer_rollup(all_passes)
    layer = {f"{lay}.{f}": rollup.get(lay, {}).get(f, 0.0)
             for lay in LAYERS for f in LAYER_FIELDS}
    layer.update({f"streaming.{f}": 0.0 for f in STREAM_FIELDS})
    layer.update({"stream_lat_p50_ms": 0.0, "stream_lat_p95_ms": 0.0,
                  "stream_sustained_eps": 0.0})
    record.update({"queries": query_map(all_passes), "layers": rollup, "runs": checks})
    if res.get("stream"):
        stream_layer, stream = stream_report(res["stream"], stats["stream"], spans,
                                             "stream", a.seed)
        layer.update(stream_layer)
        record["stream"] = stream
        attempted += stream["attempted"]
        failed += stream["failed"]
    record["spans"] = spans
    layer["session.start_s"] = res["session_start_s"]
    layer["gen.inputs_s"] = gen_s
    record["error_rate"] = failed / attempted
    record["end_to_end"] = e2e
    # where set-up time goes, in s since the process started
    record["setup"] = {
        "session_ready_s": res["session_ready_ms"] / 1e3 - t0,
        "inputs_ready_s": res["inputs_ready_ms"] / 1e3 - t0,
        "check_pass_start_s": res["check"]["start_ms"] / 1e3 - t0,
        "timed_start_s": e2e["setup_s"]}
    record["per_layer"] = layer
    record["env"] = dict(res["env"], nproc=nproc(), load_before=load_before,
                         load_after=loadavg(), heap=HEAP, seed=a.seed,
                         commit=source_version())
    os.makedirs(os.path.join(build_dir, "results"), exist_ok=True)
    out = os.path.join(build_dir, "results",
                       f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    else:
        log(f"kept for inspection: {os.path.relpath(work, ROOT)}")
    log(f"full record: {os.path.relpath(out, ROOT)}")

    metrics = e2e if a.trace == 0 else layer
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
