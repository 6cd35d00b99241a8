#!/usr/bin/env python3
"""DuckDB oracle for the benchmark's correctness gate.

    oracle.py expect  DATA_DIR SQL_JSON OUT_DIR   # answer each oracle query
    oracle.py compare OUT_DIR OUTS_JSON           # check Spark result dirs

`expect` registers every `<table>.parquet` directory under DATA_DIR as a
view and stores each query's columns and rows. `compare` reads each Spark
result directory (one parquet file, rows in the query's ORDER BY order)
and prints one `name<TAB>ok` or `name<TAB><first difference>` line per
result. Columns are compared by name; floats by bit pattern, with NaN
equal to NaN.
"""
import json
import math
import os
import pickle
import struct
import sys

import duckdb


def connect(work):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def expect(data_dir, sql_json, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    con = connect(out_dir)
    for d in sorted(os.listdir(data_dir)):
        if d.endswith(".parquet"):
            con.execute(f"CREATE VIEW {d[:-len('.parquet')]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, d)}/*.parquet')")
    with open(sql_json) as f:
        queries = json.load(f)
    for name, sql in sorted(queries.items()):
        cur = con.execute(sql)
        cols = [c[0] for c in cur.description]
        with open(os.path.join(out_dir, name + ".pkl"), "wb") as f:
            pickle.dump((cols, cur.fetchall()), f)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return struct.pack("<d", a) == struct.pack("<d", b)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def check(con, expected_pkl, got_dir):
    with open(expected_pkl, "rb") as f:
        cols, rows = pickle.load(f)
    cur = con.execute(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
    gcols = [c[0] for c in cur.description]
    grows = cur.fetchall()
    if sorted(cols) != sorted(gcols):
        return f"columns {sorted(gcols)} vs oracle {sorted(cols)}"
    if len(rows) != len(grows):
        return f"rows {len(grows)} vs oracle {len(rows)}"
    gi = [gcols.index(c) for c in cols]
    for i, (r, g) in enumerate(zip(rows, grows)):
        for j, c in enumerate(cols):
            if not same(r[j], g[gi[j]]):
                return f"col={c} row={i} oracle={r[j]!r} spark={g[gi[j]]!r}"
    return "ok"


def compare(out_dir, outs_json):
    con = connect(out_dir)
    with open(outs_json) as f:
        outs = json.load(f)
    for name, got_dir in sorted(outs.items()):
        try:
            verdict = check(con, os.path.join(out_dir, name + ".pkl"), got_dir)
        except Exception as e:  # a missing or unreadable result fails the gate
            verdict = f"error: {e}"
        print(f"{name}\t{' '.join(verdict.split())}")


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "expect":
        expect(*sys.argv[2:])
    elif len(sys.argv) == 4 and sys.argv[1] == "compare":
        compare(*sys.argv[2:])
    else:
        sys.exit(__doc__)
