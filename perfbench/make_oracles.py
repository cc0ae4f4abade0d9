#!/usr/bin/env python3
"""Regenerates perfbench/oracles.json: the DuckDB oracle answer of every query
in perfbench/workloads.json over the benchmark's fixtures, stored as the hash
of its canonical form (scripts/check.py's `canon`) and its row count.

The fixtures are read-only, so the answers only change when an oracle's SQL
does. Run from the root of a graft checkout: python3 perfbench/make_oracles.py
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    spec = run.load_json(run.BENCH, "workloads.json")
    cp = run.build()
    sql_path = os.path.join(run.WORK, "oracle_sql.json")
    os.makedirs(run.WORK, exist_ok=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.Main",
                    "--dump-oracles", sql_path],
                   check=True, stdout=subprocess.DEVNULL)
    sql = run.load_json(sql_path)
    check = run.load_check()
    fixtures = os.path.join(run.ROOT, spec["fixtures"])
    names = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    out = {}
    for name in names:
        con = check.fresh_con(fixtures)
        try:
            q = con.execute(sql[name])
            cols, rows = check.canon(q.fetchall(), [d[0] for d in q.description])
        finally:
            con.close()
        out[name] = {"digest": run.digest(cols, rows), "rows": len(rows)}
        print(f"{name}: {len(rows)} rows", file=sys.stderr)
    with open(os.path.join(run.BENCH, "oracles.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
