"""Latency join for the stream of the CDC scenario (traced `analytics` runs).

Three logs, none of them written inside a micro-batch:

* the generator log: per file, the step, the scheduled move time and the
  actual move time (ms since the epoch);
* the batch log: per micro-batch id, when its `foreachBatch` started and
  when each commit call ended;
* the file-source log under the checkpoint (`sources/0/<batchId>` and
  `<n>.compact`), which names the files each micro-batch read.

A file's latency runs from its *scheduled* move time to the end of the
`foreachBatch` that committed it, so a late generator shows up as
latency (and separately as `gen_late_ms`), never as a shorter one.
"""
import json
import os
import statistics

# a rate is sustained if its p95 latency stays under this limit and the
# backlog does not grow over the step: latency may rise by at most
# GROWTH_LIMIT ms per ms of schedule between the step's first and last
# third (at 0.25 the stream reads at least about 3/4 of what arrives)
LATENCY_LIMIT_MS = 5000.0
GROWTH_LIMIT = 0.25


def parse_source_log(source_dir):
    """File basename -> micro-batch id, from the file-source metadata log."""
    out = {}
    if not os.path.isdir(source_dir):
        return out
    for name in sorted(os.listdir(source_dir)):
        if name.startswith(".") or not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(os.path.join(source_dir, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the version header
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def join(gen_log, batch_log, file_batch):
    """Per generated file: step, scheduled/moved/committed times, latency
    (None when the file was never committed)."""
    end_of = {int(b["batch"]): b["end_ms"] for b in batch_log}
    rows = []
    for g in gen_log:
        batch = file_batch.get(g["file"])
        end = end_of.get(batch) if batch is not None else None
        rows.append({
            "file": g["file"], "step": g["step"], "batch": batch,
            "scheduled_ms": g["scheduled_ms"], "moved_ms": g["moved_ms"],
            "committed_ms": end,
            "latency_ms": None if end is None else end - g["scheduled_ms"],
            "late_ms": g["moved_ms"] - g["scheduled_ms"]})
    return rows


def quantile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def backlog(rows, at_ms):
    """Files moved into the watched directory but not yet committed."""
    return sum(1 for r in rows if r["moved_ms"] <= at_ms
               and (r["committed_ms"] is None or r["committed_ms"] > at_ms))


def step_summary(rows, all_rows):
    """Latency quantiles and backlog trend of one step's files; the
    backlog counts files of every step (`all_rows`)."""
    lat = [r["latency_ms"] for r in rows if r["latency_ms"] is not None]
    if not lat:
        return {"files": len(rows), "delivered": 0, "sustained": False}
    third = max(1, len(rows) // 3)
    head = [r for r in rows[:third] if r["latency_ms"] is not None]
    tail = [r for r in rows[-third:] if r["latency_ms"] is not None]
    growth = None
    if head and len(tail) == third and len(rows) >= 3:
        span = (statistics.median(r["scheduled_ms"] for r in tail) -
                statistics.median(r["scheduled_ms"] for r in head))
        growth = ((statistics.median(r["latency_ms"] for r in tail) -
                   statistics.median(r["latency_ms"] for r in head)) / max(span, 1.0))
    growing = growth is None or growth > GROWTH_LIMIT
    p95 = quantile(lat, 0.95)
    return {"files": len(rows), "delivered": len(lat),
            "lat_p50_ms": quantile(lat, 0.5), "lat_p95_ms": p95,
            "max_backlog_files": max(backlog(all_rows, r["scheduled_ms"])
                                     for r in rows),
            "latency_growth": growth, "backlog_growing": growing,
            "sustained": len(lat) == len(rows) and p95 <= LATENCY_LIMIT_MS
            and not growing}


def sustained_rate(steps, ladder):
    """The highest ladder rate such that it and every rate below it were
    sustained, and whether that is the top of the ladder (then it is only
    a lower bound of what the stream can sustain). `steps` maps a step
    name to its summary, `ladder` is [(step, rate)] in rising order."""
    best = 0.0
    for name, rate in ladder:
        if not steps.get(name, {}).get("sustained"):
            return best, False
        best = rate
    return best, True


def by_step(rows):
    steps = {}
    for r in rows:
        steps.setdefault(r["step"], []).append(r)
    return steps
