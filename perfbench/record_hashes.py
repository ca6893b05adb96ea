#!/usr/bin/env python3
"""Record query_mix's expected result hashes into perfbench/expected_hashes.json.

    python3 perfbench/record_hashes.py

Runs every query of the mix once on the benchmark's fixture, checks each
result against its DuckDB oracle (`SparkEntry.oracleSql`) the way
`tools/check.py` does -- columns sorted by name, values normalized, rows
compared as sorted lists -- and writes the hashes only if every query
matches. Re-run it when the query list or the fixture changes.
"""
import json
import os
import shutil
import sys

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check import norm  # noqa: E402


def main():
    out = os.path.join(run.BUILD, "record")
    shutil.rmtree(out, ignore_errors=True)
    args = run.parse(["--workload", "query_mix", "--seed", "0", "--seconds", "1", "--trace", "0",
                      "--live-rows-per-s", "0"])
    run.run_jvm(args, ["--record", out], run.RUN_TIMEOUT_S)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{out}/data/{t}.parquet/*.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        got = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        exp = con.execute(sql)
        ecols = [d[0] for d in exp.description]
        erows = exp.fetchall()
        g = sorted((tuple(norm(r[gcols.index(c)]) for c in sorted(gcols)) for r in grows), key=repr)
        e = sorted((tuple(norm(r[ecols.index(c)]) for c in sorted(ecols)) for r in erows), key=repr)
        ok = sorted(gcols) == sorted(ecols) and g == e
        print(f"{'PASS' if ok else 'FAIL'} {name} ({len(g)} rows, oracle {len(e)})")
        if not ok:
            bad.append(name)
    if bad:
        print(f"not recorded: {len(bad)} queries differ from their oracle", file=sys.stderr)
        return 1
    with open(os.path.join(out, "hashes.json")) as f:
        hashes = json.load(f)
    with open(os.path.join(run.HERE, "expected_hashes.json"), "w") as f:
        json.dump(hashes, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
