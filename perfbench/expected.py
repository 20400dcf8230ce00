#!/usr/bin/env python3
"""Refresh `expected.json`: the oracle digests of the batch workloads and
of the CDC scenario (`cdc`), whose generated content is the same for
every seed (the seed only permutes rows).

    python3 perfbench/expected.py [curation|analytics|cdc ...]

Runs each op's DuckDB oracle over the generated inputs (this takes many
minutes: some oracles are quadratic self-joins) and stores, per op, the
digest of the oracle's result with the SHA-256 of the oracle SQL and of
the generated content. Run it after changing an oracle or the generator;
`run.py` falls back to the live oracle for any entry that no longer
matches.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def refresh(workload, classpath, build_dir):
    work = os.path.join(build_dir, "expected-work", workload)
    shutil.rmtree(work, ignore_errors=True)
    if workload == "cdc":
        stats = gen.write_cdc(gen.base_tables()["events"], np.random.default_rng(0),
                              f"{work}/inputs")
    else:
        stats = gen.generate(workload, 0, f"{work}/inputs")
    sql_file = f"{work}/oracles.json"
    subprocess.run(["java", "-cp", classpath, "graftbench.Main", "--workload", workload,
                    "--oracles", sql_file], check=True)
    with open(sql_file) as f:
        sqls = json.load(f)
    con = oracle.connect(f"{work}/inputs", run.nproc(), f"{work}/duckdb-tmp")
    out = {}
    for name, sql in sorted(sqls.items()):
        t = time.time()
        d = oracle.oracle_digest(con, sql)
        out[name] = dict(d, sql_sha256=oracle.sql_sha(sql),
                         inputs=stats["content_digest"],
                         oracle_s=round(time.time() - t, 1))
        print(f"{workload} {name}: {out[name]['rows']} rows, {out[name]['oracle_s']} s",
              file=sys.stderr, flush=True)
    con.close()
    shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    workloads = sys.argv[1:] or ["cdc", "curation", "analytics"]
    build_dir = os.path.join(run.ROOT, ".bench_build")
    classpath = run.build(build_dir)
    path = os.path.join(HERE, "expected.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    for w in workloads:
        data[w] = refresh(w, classpath, build_dir)
        with open(path, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
