"""The benchmark's own tests (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import streamlog  # noqa: E402


SF01_DIGEST = "9ee11f19dd53d866390e6c0f6d9c807caafc234d6017095cc15a77a58174cae7"


def temp_dir():
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build"))


def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def tree(top):
    """Relative path -> content of every file under `top` (parquet files
    by table content, other files by bytes)."""
    out = {}
    for d, _, files in os.walk(top):
        for f in files:
            p = os.path.join(d, f)
            rel = os.path.relpath(p, top)
            out[rel] = pq.read_table(p) if f.endswith(".parquet") else read(p, "rb")
    return out


class GeneratorTest(unittest.TestCase):

    def same(self, a, b):
        self.assertEqual(sorted(a), sorted(b))
        for k in a:
            if isinstance(a[k], pa.Table):
                self.assertTrue(a[k].equals(b[k]), k)
            else:
                self.assertEqual(a[k], b[k], k)

    def test_each_workload_is_deterministic_per_seed(self):
        # traced runs also write the CDC scenario: its batch inputs
        # (curation) and its stream (analytics)
        for wl in ("curation", "analytics"):
            with temp_dir() as d:
                s1 = gen.generate(wl, 5, f"{d}/a", True)
                s2 = gen.generate(wl, 5, f"{d}/b", True)
                self.assertEqual(s1, s2)
                self.same(tree(f"{d}/a"), tree(f"{d}/b"))

    def test_base_tables_are_graft_sf01_tables(self):
        # the content digest of graft's sf0.1 test tables, as
        # `python3 perfbench/fidelity.py <sf0.1 dir>` prints it
        self.assertEqual(gen.content_digest(gen.base_tables()), SF01_DIGEST)

    def test_digest_of_a_slice_is_the_digest_of_its_rows(self):
        docs = gen.base_tables()["documents"]
        head = docs.slice(0, 100)
        copy = pa.Table.from_pylist(head.to_pylist(), schema=docs.schema)
        self.assertEqual(gen.content_digest({"d": head}), gen.content_digest({"d": copy}))
        self.assertNotEqual(gen.content_digest({"d": head}),
                            gen.content_digest({"d": docs.slice(0, 101)}))

    def test_seeds_permute_rows_but_keep_content(self):
        with temp_dir() as d:
            gen.generate("analytics", 1, f"{d}/a")
            gen.generate("analytics", 2, f"{d}/b")
            a = pq.read_table(f"{d}/a/orders.parquet")
            b = pq.read_table(f"{d}/b/orders.parquet")
            self.assertFalse(a.equals(b))
            self.assertTrue(a.sort_by("o_orderkey").equals(b.sort_by("o_orderkey")))

    def test_changelog_has_the_stated_malformed_share(self):
        with temp_dir() as d:
            stats = gen.write_cdc(gen.base_tables()["events"],
                                  np.random.default_rng(3), d)
            lines = [ln for f in sorted(os.listdir(f"{d}/changelog"))
                     for ln in read(f"{d}/changelog/{f}").splitlines()]
            bad = 0
            for ln in lines:
                try:
                    json.loads(ln)
                except ValueError:
                    bad += 1
            self.assertEqual(len(lines), stats["changelog"]["rows"])
            self.assertEqual(bad, stats["changelog"]["malformed"])
            self.assertEqual(bad, int(len(lines) * gen.MALFORMED_SHARE))
            events = pq.read_table(f"{d}/events.parquet")
            self.assertEqual(len(set(events.column("event_id").to_pylist())),
                             events.num_rows)


class LatencyJoinTest(unittest.TestCase):

    def source_log(self, d):
        os.makedirs(f"{d}/sources/0")
        with open(f"{d}/sources/0/0", "w") as f:
            f.write('v1\n{"path":"file:///x/in/f-0.jsonl","timestamp":1,"batchId":0}\n')
        with open(f"{d}/sources/0/1.compact", "w") as f:
            f.write('v1\n{"path":"file:///x/in/f-0.jsonl","timestamp":1,"batchId":0}\n'
                    '{"path":"file:///x/in/f-1.jsonl","timestamp":2,"batchId":1}\n')
        with open(f"{d}/sources/0/2", "w") as f:
            f.write('v1\n{"path":"file:///x/in/f-2.jsonl","timestamp":3,"batchId":2}\n'
                    '{"path":"file:///x/in/f-3.jsonl","timestamp":3,"batchId":2}\n')
        with open(f"{d}/sources/0/.2.crc", "w") as f:
            f.write("ignored")
        return streamlog.parse_source_log(f"{d}/sources/0")

    def test_latency_runs_from_the_scheduled_time(self):
        with temp_dir() as d:
            file_batch = self.source_log(d)
        self.assertEqual(file_batch, {"f-0.jsonl": 0, "f-1.jsonl": 1,
                                      "f-2.jsonl": 2, "f-3.jsonl": 2})
        gen_log = [
            {"file": "f-0.jsonl", "step": "s", "scheduled_ms": 1000, "moved_ms": 1001},
            {"file": "f-1.jsonl", "step": "s", "scheduled_ms": 1250, "moved_ms": 1252},
            # a late generator: moved 700 ms after its scheduled time
            {"file": "f-2.jsonl", "step": "s", "scheduled_ms": 1500, "moved_ms": 2200},
            {"file": "f-3.jsonl", "step": "s", "scheduled_ms": 1750, "moved_ms": 2201},
            # never picked up by any batch
            {"file": "f-4.jsonl", "step": "s", "scheduled_ms": 2000, "moved_ms": 2202}]
        batch_log = [{"batch": 0, "start_ms": 1100, "end_ms": 1400},
                     {"batch": 1, "start_ms": 1400, "end_ms": 1900},
                     {"batch": 2, "start_ms": 2300, "end_ms": 2600}]
        rows = streamlog.join(gen_log, batch_log, file_batch)
        lat = {r["file"]: r["latency_ms"] for r in rows}
        self.assertEqual(lat, {"f-0.jsonl": 400, "f-1.jsonl": 650,
                               "f-2.jsonl": 1100, "f-3.jsonl": 850,
                               "f-4.jsonl": None})
        self.assertEqual(max(r["late_ms"] for r in rows), 700)
        # at 2250 ms: f-2, f-3, f-4 moved, none committed
        self.assertEqual(streamlog.backlog(rows, 2250), 3)
        summary = streamlog.step_summary(rows, rows)
        self.assertEqual(summary["delivered"], 4)
        self.assertFalse(summary["sustained"])  # f-4 was never delivered
        self.assertEqual(summary["lat_p50_ms"], 750)

    def test_growing_latency_is_not_sustained(self):
        rows = [{"file": f"f-{i}", "step": "s", "scheduled_ms": i * 100,
                 "moved_ms": i * 100, "committed_ms": i * 100 + 50 + 200 * i,
                 "latency_ms": 50 + 200 * i, "late_ms": 0} for i in range(9)]
        self.assertTrue(streamlog.step_summary(rows, rows)["backlog_growing"])
        flat = [dict(r, committed_ms=r["scheduled_ms"] + 300, latency_ms=300)
                for r in rows]
        s = streamlog.step_summary(flat, flat)
        self.assertFalse(s["backlog_growing"])
        self.assertTrue(s["sustained"])

    def test_sustained_rate_is_the_last_rate_before_the_first_failure(self):
        ladder = [("rate_8", 2000.0), ("rate_16", 4000.0), ("rate_32", 8000.0)]
        ok, bad = {"sustained": True}, {"sustained": False}
        self.assertEqual(streamlog.sustained_rate(
            {"rate_8": ok, "rate_16": bad, "rate_32": ok}, ladder), (2000.0, False))
        # a step the stream stopped before never ran: it is not sustained
        self.assertEqual(streamlog.sustained_rate(
            {"rate_8": ok, "rate_16": bad}, ladder), (2000.0, False))
        self.assertEqual(streamlog.sustained_rate({"rate_8": bad}, ladder), (0.0, False))
        # every rate held: the top of the ladder, only a lower bound
        self.assertEqual(streamlog.sustained_rate(
            {"rate_8": ok, "rate_16": ok, "rate_32": ok}, ladder), (8000.0, True))


class OracleTest(unittest.TestCase):

    def test_oracle_catches_an_injected_wrong_row(self):
        with temp_dir() as d:
            pq.write_table(pa.table({"event_id": [1, 2, 3], "value": [1.5, 2.5, 4.0],
                                     "event_type": ["a", "b", "a"]}),
                           f"{d}/events.parquet")
            sql = ("SELECT event_type, round(sum(value), 2) AS total FROM events "
                   "GROUP BY event_type ORDER BY event_type")
            con = oracle.connect(d, 1, f"{d}/tmp")
            good = pa.table({"total": [5.5, 2.5], "event_type": ["a", "b"]})
            os.makedirs(f"{d}/good")
            pq.write_table(good, f"{d}/good/part-0.parquet")
            self.assertIsNone(oracle.check(con, f"{d}/good", sql))
            for name, table in {
                    "wrong": pa.table({"total": [5.5, 2.6], "event_type": ["a", "b"]}),
                    "extra": pa.table({"total": [5.5, 2.5, 1.0],
                                       "event_type": ["a", "b", "c"]}),
                    "renamed": pa.table({"sum": [5.5, 2.5], "event_type": ["a", "b"]})
            }.items():
                os.makedirs(f"{d}/{name}")
                pq.write_table(table, f"{d}/{name}/part-0.parquet")
                self.assertIsNotNone(oracle.check(con, f"{d}/{name}", sql), name)
            con.close()


class ContractTest(unittest.TestCase):

    def test_benchmark_json_names_what_run_py_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        layer = {f"{lay}.{f}" for lay in run.LAYERS for f in run.LAYER_FIELDS}
        layer |= {f"streaming.{f}" for f in run.STREAM_FIELDS}
        layer |= {"stream_lat_p50_ms", "stream_lat_p95_ms", "stream_sustained_eps",
                  "session.start_s", "gen.inputs_s"}
        self.assertEqual({m["name"] for m in spec["per_layer"]}, layer)
        for m in spec["per_layer"] + spec["end_to_end"]:
            self.assertEqual(m["unit"], run.unit(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
