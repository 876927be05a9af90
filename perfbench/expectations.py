#!/usr/bin/env python3
"""Regenerate perfbench/expected.json: the expected count() of every row
of the three workloads on the sf0.1 corpus.

    python3 perfbench/expectations.py

A row with an oracle in SparkEntry.oracleSql gets its count from DuckDB
(source "duckdb"); any other row gets the engine's own count from one
full pass at the current tree (source "spark@<commit>"). Oracle rows are
also cross-checked against the engine's count, and a disagreement is
printed and stops the script.
"""
import json
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def oracle_sql(cp, workload):
    out = run.WORK / f"oracles-{workload}.json"
    run.WORK.mkdir(exist_ok=True)
    res = run.run_bounded(run.harness_cmd(cp, run.WORK) + [
        "--workload", workload, "--dump-oracles", str(out)], timeout=120)
    if res.returncode != 0:
        raise SystemExit(res.stdout[-4000:])
    return json.loads(out.read_text())


def main():
    cp = run.build()
    sf = run.corpus_dir()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    try:
        commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=run.ROOT,
                                capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = "unknown"
    expected, mismatches = {}, []
    for workload in sorted(run.WORKLOADS):
        record = run.one_run(cp, workload, 0, False, None, passes=1)
        oracles = oracle_sql(cp, workload)
        for r in record["passes"][0]["rows"]:
            name = r["name"]
            if r["error"]:
                raise SystemExit(f"{name} failed: {r['error']}")
            if name in oracles:
                n = con.sql(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
                expected[name] = {"count": n, "source": "duckdb"}
                if n != r["count"]:
                    mismatches.append((name, n, r["count"]))
            else:
                expected[name] = {"count": r["count"], "source": f"spark@{commit}"}
            print(f"{workload:9s} {name:28s} {expected[name]['count']:>8} "
                  f"{expected[name]['source']}", flush=True)
    for name, want, got in mismatches:
        print(f"MISMATCH {name}: duckdb {want}, engine {got}")
    if mismatches:
        raise SystemExit(1)
    path = Path(run.HERE, "expected.json")
    path.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")
    print(f"wrote {len(expected)} expectations to {path}")


if __name__ == "__main__":
    main()
