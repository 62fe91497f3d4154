#!/usr/bin/env python3
"""Confirm the pinned lane digests against the DuckDB oracle, then pin them.

    python3 perfbench/confirm_digests.py [lanes]

For each workload this runs the benchmark once with `--dump`, so every lane's
result is written as parquet beside its `SparkEntry.oracleSql` text. Each
result is compared with the oracle run by DuckDB on the same tables under
the compare contract of `scripts/sf1_gate.py` (columns sorted by name, doubles
to 4 decimals, rows sorted, md5 of the rows). Only when every lane of a
workload matches are that run's digests written to `perfbench/digests.json`.
Run from the root of a checkout; it needs the python `duckdb` package.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
import run  # noqa: E402
from sf1_gate import canon  # noqa: E402  the oracle compare contract


def rows_md5(rows):
    return hashlib.md5("\n".join("\x1f".join(r) for r in rows).encode()).hexdigest()


def confirm(workload, fixture_dir, dump):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", "1", "--seconds", "1", "--trace", "0", "--dump", dump],
                   check=False, stdout=subprocess.DEVNULL)
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(dump, "lane_digests.json")) as f:
        digests = json.load(f)
    con = duckdb.connect()
    for t in glob.glob(os.path.join(fixture_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    ok = True
    for lane in sorted(digests):
        sql = oracle.get(lane)
        if sql is None:
            print(f"{lane}: no oracle")
            ok = False
            continue
        ec, er = canon(con.execute(sql).fetchdf())
        gc, gr = canon(con.execute(f"SELECT * FROM '{dump}/{lane}/*.parquet'").fetchdf())
        match = [c.lower() for c in ec] == [c.lower() for c in gc] and rows_md5(er) == rows_md5(gr)
        print(f"{lane}: {'match' if match else 'MISMATCH'} ({len(gr)} rows, oracle {len(er)})")
        ok = ok and match
    return ok, digests


def main(workloads):
    cache = os.path.join(os.getcwd(), ".bench_build")
    fixture_dir = run.fixture()
    path = os.path.join(HERE, "digests.json")
    with open(path) as f:
        pinned = json.load(f)
    for w in workloads:
        dump = os.path.join(cache, "confirm", w)
        ok, digests = confirm(w, fixture_dir, dump)
        if not ok:
            print(f"{w}: not pinned")
            return 1
        pinned[w] = digests
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["lanes"]))
