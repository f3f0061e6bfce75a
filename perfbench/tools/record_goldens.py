#!/usr/bin/env python3
"""Records perfbench/goldens.json: the order-insensitive result hash of
every row of the query workloads on the pinned sf0.01 data.

Each workload runs twice with two seeds (two row orders, two JVMs). A row
whose hash differs between the two is marked not deterministic and is
checked on row count only. Every row that has oracle SQL in the program's
registry is cross-checked against DuckDB on the same data: the Spark
result must equal the DuckDB result exactly (rows and columns sorted,
floats compared by repr). A mismatch aborts the recording.

Run from the repository root: python3 perfbench/tools/record_goldens.py
"""
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join("perfbench", "data", "sf0.01")
OUT = os.path.join(".bench_build", "perfbench", "goldens")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def same(con, dump_dir, name, sql):
    got = con.execute(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").df()
    want = con.execute(sql).df()
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc or len(got) != len(want):
        return False
    g = sorted([norm(v) for v in r] for r in got[gc].itertuples(index=False))
    w = sorted([norm(v) for v in r] for r in want[wc].itertuples(index=False))
    return g == w


def run(workload, seed, dump_dir):
    raw = os.path.join(OUT, f"{workload}-{seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0",
           "--goldens", os.path.join(OUT, "empty.json"),
           "--keep-raw", raw]
    if dump_dir:
        cmd += ["--dump", os.path.abspath(dump_dir)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(raw) as f:
        return json.load(f)


def main():
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    with open(os.path.join(OUT, "empty.json"), "w") as f:
        f.write("{}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    goldens = {}
    for workload in ("queries",):
        dump_dir = os.path.join(OUT, f"dump-{workload}")
        a = run(workload, 1, dump_dir)
        b = run(workload, 2, None)
        with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        for row, h in sorted(a["hashes"].items()):
            entry = {"hash": h, "deterministic": h == b["hashes"].get(row)}
            if row in oracle:
                if not same(con, dump_dir, row, oracle[row]):
                    print(f"record_goldens: {row} differs from its DuckDB oracle", file=sys.stderr)
                    raise SystemExit(1)
                entry["oracle"] = "duckdb-exact"
            goldens[row] = entry
            print(f"{workload} {row} {entry}")
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
