#!/usr/bin/env python3
"""Compare the generator's base tables with a directory of graft's test
tables (one `<table>.parquet` per table, e.g. an sf0.1 directory).

    python3 perfbench/fidelity.py <tables_dir>

Prints, per table, the rows on both sides and whether the schema and every
value are equal, then both content digests (`gen.content_digest`). Exits 1
on any difference. The benchmark's tests pin the digest this prints for
graft's sf0.1 tables, so a change to the generator that breaks the match
fails there.
"""
import sys

import pyarrow.parquet as pq

import gen


def main():
    ref_dir = sys.argv[1]
    ours = gen.base_tables()
    theirs = {name: pq.read_table(f"{ref_dir}/{name}.parquet").replace_schema_metadata(None)
              for name in ours}
    same = True
    for name in sorted(ours):
        a, b = ours[name], theirs[name]
        schema, values = a.schema.equals(b.schema), a.equals(b)
        same &= schema and values
        print(f"{name:<11} rows {a.num_rows:>7} vs {b.num_rows:>7}  "
              f"schema {'equal' if schema else 'DIFFERS'}  "
              f"values {'equal' if values else 'DIFFER'}")
    print(f"generator digest {gen.content_digest(ours)}")
    print(f"tables digest    {gen.content_digest(theirs)}")
    sys.exit(0 if same else 1)


if __name__ == "__main__":
    main()
