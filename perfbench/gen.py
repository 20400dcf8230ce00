"""Seeded input generator for the graft benchmark.

Builds, from nothing but a seed, the tables every workload reads, in the
layout `graft.Tables` expects (one `<table>.parquet` per table):

* graft's sf0.1 test tables, value for value (`base_tables`: the same
  numpy draws, in the same order, from the same generator seed; the
  benchmark's tests pin their content digest, `fidelity.py` compares
  them with a directory of tables). A run reads nothing outside its
  checkout, so the tables are rebuilt rather than read;
* per-seed row permutations of every table (`curation`, `analytics`;
  `curation` keeps the first 2,500 documents);
* for the CDC scenario, in traced runs: for `curation`, under `cdc/`,
  an `events` changelog scaled up by replication with id and time
  offsets, plus the same changes rendered as JSON lines with a stated
  share of malformed lines (the seed permutes the rows and the order of
  the lines; the offsets and the malformed lines come from a fixed
  generator seed, so the oracle's answer is the same for every seed);
  for `analytics`, under `stream/`, the stream's pre-rendered JSON-line
  change files, cut at a seeded offset from `events` replicated as often
  as needed, with the open-loop delivery schedule (`schedule.tsv`).

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

# curation: documents kept, the first half of sf0.1's 5,000. With all of
# them one timed pass takes 17 s and one run about 80 s on 4 vCPUs, more
# than the benchmark's run budget allows (README.md, "Workloads")
CURATION_DOCS = 2500

# CDC scenario: replicas of the 100k-row events table, and the share of
# JSON lines that are malformed (half truncated, half not JSON at all)
CDC_REPLICAS = 2
MALFORMED_SHARE = 0.005
CHANGELOG_FILES = 8

# the stream of the CDC scenario: records per pre-rendered file, delivery
# rates in files/s. The ladder doubles the rate each step from 8x the
# reference rate; the stream stops it after a step that ends with a
# backlog older than the latency limit (StreamRun)
STREAM_RECORDS_PER_FILE = 250
STREAM_WARMUP = (2.0, 10.0)         # (files/s, seconds), not measured
STREAM_REFERENCE_RATE = 4.0         # files/s, latency is measured here
STREAM_REFERENCE_SECONDS = 8.0
STREAM_LADDER = (32.0, 64.0, 128.0, 256.0)   # files/s
STREAM_LADDER_SECONDS = 6.0

# value lists in the order graft's sf0.1 generator draws from them
VOCAB = ("the a spark query table join group filter window data order customer "
         "part line fast slow big small hash sort merge scan agg stream batch "
         "vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
PART_ADJ = "red blue small large hot cold old new".split()
PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
PART_TYPES = "STANDARD SMALL MEDIUM LARGE ECONOMY PROMO".split()
SEGMENTS = "BUILDING AUTOMOBILE MACHINERY HOUSEHOLD FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_DAYS = 30
NEAR_DUP_SHARE = 0.05

_US = np.dtype("datetime64[us]")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype(_US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables():
    """graft's sf0.1 test tables, value for value: the same draws, in the
    same order, from the same generator seed (README.md, "Inputs")."""
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = 15000
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n)})
    n = 1000
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = 20000
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n), " "),
                              rng.choice(PART_NOUN, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0})
    n = 150000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15000, n),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n)})
    n = 600000
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, 150000, n),
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    t["events"] = events_table(rng, 100000)
    t["documents"] = documents_table(rng, 5000)
    t["embeddings"] = embeddings_table(rng, 2000, 64, 10)
    return t


def events_table(rng, n):
    """Event times uniform over 30 days (so the gaps are exponential with
    a mean of about 26 s), numbered in time order."""
    secs = np.sort(rng.uniform(0.0, EVENT_DAYS * 86400.0, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e9).astype(np.int64) // 1000
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype(_US),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents_table(rng, n):
    """Texts of 10-99 words; then 5% of the documents are replaced, one
    after another, by a copy of a random document plus the word `dup`
    (so a copy of a copy, and two copies of one document, occur)."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    k = int(n * NEAR_DUP_SHARE)
    for i, j in zip(rng.choice(n, k, replace=False), rng.integers(0, n, k)):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def embeddings_table(rng, n, dim, labels):
    """Isotropic unit vectors; the labels are drawn independently."""
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.field("element", pa.float32()))),
        "label": rng.integers(0, labels, n).astype(np.int32)})


def content_digest(tables):
    """Digest of the tables' content: name, rows and the Arrow IPC stream
    of each table, taken row by row into fresh buffers first (the buffers
    of a zero-copy slice still hold the rows outside it)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        table = tables[name].take(pa.array(np.arange(tables[name].num_rows))).combine_chunks()
        h.update(f"{name}:{table.num_rows}".encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        h.update(sink.getvalue())
    return h.hexdigest()


def permute(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def scale_events(events, replicas, rng):
    """Replicate `events`, giving each replica fresh event ids and a later
    time range (a seeded gap after the previous replica), so the scaled
    changelog is one longer history with unique sequence numbers."""
    n = events.num_rows
    ts = events.column("ts").to_numpy()
    span = ts.max() - ts.min()
    parts = []
    offset_ids, offset_t = int(rng.integers(0, 1000)) * n, np.timedelta64(0, "us")
    for r in range(replicas):
        parts.append(events.set_column(0, "event_id",
                                       pa.array(events.column("event_id").to_numpy() + offset_ids))
                     .set_column(1, "ts", pa.array(ts + offset_t)))
        offset_ids += n
        offset_t += span + np.timedelta64(int(rng.integers(1, 3600)) * 1000000, "us")
    return pa.concat_tables(parts)


def changelog_lines(events):
    """Render `events` as wire-format change records, mirroring
    `Changelog.fromEvents` (doc_id, seq, ts_us, op, field_path, payload,
    amount)."""
    ops = {"signup": "RECORD_INSERT", "error": "RECORD_DELETE"}
    fields = {"click": "firstName", "view": "lastName", "purchase": "address"}
    ts_us = events.column("ts").to_numpy().astype(np.int64).tolist()
    c = events.select(["event_id", "user_id", "event_type", "value", "props"]).to_pydict()
    return [
        f'{{"doc_id":"user{uid}","seq":{eid},"ts_us":{us},'
        f'"op":"{ops.get(et, "RECORD_UPDATE")}","field_path":"{fields.get(et, "")}",'
        f'"payload":{json.dumps(props)},"amount":{val!r}}}'
        for eid, us, uid, et, val, props in zip(
            c["event_id"], ts_us, c["user_id"], c["event_type"], c["value"], c["props"])]


def corrupt(lines, share, rng):
    """Replace `share` of the lines by malformed ones, half cut in the
    middle and half not JSON at all. Returns the lines and how many were
    made malformed."""
    idx = rng.choice(len(lines), int(len(lines) * share), replace=False)
    for j, i in enumerate(sorted(idx)):
        lines[i] = (lines[i][: len(lines[i]) // 2] if j % 2 == 0
                    else f"#corrupt record {i:x}")
    return lines, len(idx)


def write_table(table, path, stats, name):
    pq.write_table(table, path)
    stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def write_lines(lines, path):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    return os.path.getsize(path)


def generate(workload, seed, out, trace=False):
    """Write the inputs of `workload` for `seed` under `out`; return rows
    and bytes per input. A traced run also gets a part of the CDC scenario:
    `curation` its batch inputs (under `out/cdc`), `analytics` its stream
    (under `out/stream`)."""
    if workload not in ("curation", "analytics"):
        raise SystemExit(f"unknown workload {workload}")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 7919])
    base = base_tables()
    if workload == "curation" and CURATION_DOCS:
        base["documents"] = base["documents"].slice(0, CURATION_DOCS)
    stats = {}
    for name, table in base.items():
        write_table(permute(table, rng), f"{out}/{name}.parquet", stats, name)
    stats["content_digest"] = content_digest(base)
    if trace and workload == "curation":
        stats["cdc"] = write_cdc(base["events"], rng, f"{out}/cdc")
    if trace and workload == "analytics":
        stats["stream"] = write_stream(base["events"], rng, f"{out}/stream")
    return stats


def write_cdc(base_events, rng, out):
    """The batch inputs of the CDC scenario: the scaled changelog as
    `events.parquet` and as JSON lines."""
    os.makedirs(out, exist_ok=True)
    stats = {}
    # seed-independent choices: replica offsets and malformed lines
    fixed = np.random.default_rng([BASE_SEED, 1])
    events = scale_events(base_events, CDC_REPLICAS, fixed)
    write_table(permute(events, rng), f"{out}/events.parquet", stats, "events")
    lines, bad = corrupt(changelog_lines(events), MALFORMED_SHARE, fixed)
    digest = hashlib.sha256(content_digest({"events": events}).encode())
    for line in lines:
        digest.update(line.encode())
    lines = [lines[i] for i in rng.permutation(len(lines))]
    os.makedirs(f"{out}/changelog", exist_ok=True)
    per = -(-len(lines) // CHANGELOG_FILES)
    size = sum(write_lines(lines[i:i + per], f"{out}/changelog/part-{k:02d}.jsonl")
               for k, i in enumerate(range(0, len(lines), per)))
    stats["changelog"] = {"rows": len(lines), "bytes": size, "malformed": bad}
    stats["content_digest"] = digest.hexdigest()
    return stats


def stream_steps():
    """The open-loop delivery schedule as (step, files/s, seconds, traced):
    warm-up, the reference step, the reference step again with tracing on
    (for the tracing overhead), then the rate ladder."""
    return ([("warmup", STREAM_WARMUP[0], STREAM_WARMUP[1], False),
             ("reference", STREAM_REFERENCE_RATE, STREAM_REFERENCE_SECONDS, False),
             ("reference_traced", STREAM_REFERENCE_RATE, STREAM_REFERENCE_SECONDS, True)] +
            [(f"rate_{r:g}", r, STREAM_LADDER_SECONDS, True) for r in STREAM_LADDER])


def write_stream(base_events, rng, out):
    """Pre-render the stream's files (under `out/staged`) from a window, at
    a seeded offset, of `events` replicated as often as the schedule needs,
    and write the delivery schedule `out/schedule.tsv` (file, step, offset
    in ms, traced)."""
    steps = stream_steps()
    n_files = sum(int(rate * secs) for _, rate, secs, _ in steps)
    n = n_files * STREAM_RECORDS_PER_FILE
    events = scale_events(base_events, n // base_events.num_rows + 2,
                          np.random.default_rng([BASE_SEED, 2]))
    start = int(rng.integers(0, events.num_rows - n + 1))
    lines = changelog_lines(events.slice(start, n))
    lines, bad = corrupt(lines, MALFORMED_SHARE, rng)
    staged = f"{out}/staged"
    os.makedirs(staged, exist_ok=True)
    rows, size, sched, t, k = 0, 0, [], 0.0, 0
    for step, rate, secs, traced in steps:
        for i in range(int(rate * secs)):
            name = f"f-{k:05d}.jsonl"
            chunk = lines[k * STREAM_RECORDS_PER_FILE:(k + 1) * STREAM_RECORDS_PER_FILE]
            size += write_lines(chunk, f"{staged}/{name}")
            rows += len(chunk)
            sched.append(f"{name}\t{step}\t{int(round((t + i / rate) * 1000))}\t{int(traced)}")
            k += 1
        t += secs
    with open(f"{out}/schedule.tsv", "w") as f:
        f.write("\n".join(sched) + "\n")
    return {"rows": rows, "bytes": size, "files": k, "malformed": bad,
            "records_per_file": STREAM_RECORDS_PER_FILE}


if __name__ == "__main__":
    wl, sd, dest = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, sd, dest, trace=True), indent=1))
