"""Output check against graft's DuckDB oracle.

Each batch operation's result (written as parquet by the check pass) is
compared with its oracle SQL run by DuckDB over the same generated
inputs. Normalization follows graft's `tools/oracle_check.py`: columns
sorted by name, rows sorted by value, floats equal within 1e-9 relative.

Some oracles take minutes in DuckDB at this scale (the dedup self-joins).
For inputs whose content does not depend on the seed (`curation` and
`analytics` only permute rows), the oracle's answer is the same for
every seed, so `expected.json` holds a digest of each oracle result,
made once by `expected.py`; a run compares the digest of its own output
with it. An entry is used only while the oracle SQL and the generated
content are the ones it was made from; otherwise the oracle runs live.
"""
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(inputs_dir, threads, temp_dir):
    con = duckdb.connect(config={"threads": threads, "memory_limit": "2GB",
                                 "temp_directory": temp_dir})
    for t in TABLES:
        if os.path.exists(f"{inputs_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{inputs_dir}/{t}.parquet')")
    if os.path.isdir(f"{inputs_dir}/changelog"):
        # one row per JSON line, verbatim (rendered lines hold no tabs)
        con.execute("CREATE VIEW changelog_lines AS SELECT * FROM read_csv("
                    f"'{inputs_dir}/changelog/*.jsonl', columns={{'line': 'VARCHAR'}}, "
                    "delim='\\t', quote='', escape='', header=false, auto_detect=false)")
    return con


def norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm_cell(x)) for k, x in sorted(v.items()))
    return v


def frame(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    key = [tuple((x is None, str(type(x)), str(x)) for x in r) for r in out]
    return [r for _, r in sorted(zip(key, out))], [cols[i] for i in idx]


def cells_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when the two results match, else a one-line reason."""
    g_rows, g_cols = frame(got_rows, got_cols)
    e_rows, e_cols = frame(exp_rows, exp_cols)
    if g_cols != e_cols:
        return f"columns {g_cols} != {e_cols}"
    if len(g_rows) != len(e_rows):
        return f"rows {len(g_rows)} != {len(e_rows)}"
    bad = [i for i, (g, e) in enumerate(zip(g_rows, e_rows)) if not cells_equal(g, e)]
    if bad:
        i = bad[0]
        return f"{len(bad)}/{len(g_rows)} rows differ, first got={g_rows[i]} want={e_rows[i]}"
    return None


def check(con, result_dir, sql):
    """Compare the parquet result under `result_dir` with `sql`."""
    try:
        got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        exp = con.execute(sql)
        exp_cols = [d[0] for d in exp.description]
        exp_rows = exp.fetchall()
    except Exception as e:  # a failed read or oracle is a failed check
        return f"{type(e).__name__}: {e}"[:300]
    return compare(got_cols, got_rows, exp_cols, exp_rows)


def canon(v):
    """A value in the form digests are taken of: floats to 9 significant
    digits (and -0.0 to 0), integral decimals to ints."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else format(v + 0.0, ".9g")
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else format(float(v), ".9g")
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [[k, canon(x)] for k, x in sorted(v.items())]
    return norm_cell(v)


def digest(cols, rows):
    """Order-free digest of a result: columns by name, rows sorted."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(json.dumps([canon(r[i]) for i in idx], default=str) for r in rows)
    h = hashlib.sha256(json.dumps([cols[i] for i in idx]).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(rows), "digest": h.hexdigest()}


def result_digest(con, result_dir):
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    return digest([d[0] for d in got.description], got.fetchall())


def oracle_digest(con, sql):
    exp = con.execute(sql)
    return digest([d[0] for d in exp.description], exp.fetchall())


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def check_expected(con, result_dir, want):
    """Compare the parquet result under `result_dir` with a stored oracle
    digest."""
    try:
        got = result_digest(con, result_dir)
    except Exception as e:  # an unreadable result is a failed check
        return f"{type(e).__name__}: {e}"[:300]
    if got["digest"] != want["digest"]:
        return f"digest differs from the oracle's (rows {got['rows']}, oracle {want['rows']})"
    return None
