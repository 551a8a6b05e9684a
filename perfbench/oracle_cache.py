#!/usr/bin/env python3
"""Fills the committed oracle cache, perfbench/expected/oracles.json, from
the oracles finished runs used:

    python3 perfbench/oracle_cache.py [run_dir ...]

Default: the newest run directory of every workload of BENCHMARK.json under
<build dir>/runs.
Each oracle (a gate query's `SparkEntry.oracleSql`, or the flagship's
`OracleSql.q32(N)`) is evaluated in DuckDB with bounded memory and stored
under a key of its SQL text and data set, so a run can check its outputs
without re-evaluating oracles; an oracle whose text or data changes misses
the cache and is evaluated again.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

COMMITTED = os.path.join(HERE, "expected", "oracles.json")


def oracles_of(run_dir):
    """[(name, sql, data_dir)] for the oracles a run's outputs are checked
    against."""
    res = json.load(open(os.path.join(run_dir, "result.json")))
    if res["workload"] == "tile_pipeline":
        sql = open(os.path.join(run_dir, "tile_oracle.sql")).read()
        return [(f"q32({res['extra']['n']})", sql, None)]
    if res["workload"].startswith("gate_"):
        sqls = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
        return [(q, sqls[q], res["extra"]["data"]) for q in res["extra"]["queries"] if q in sqls]
    return []


def main():
    bdir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    runs = sys.argv[1:]
    if not runs:
        names = {w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]}
        newest = {}
        for d in sorted(glob.glob(os.path.join(bdir, "runs", "*")), key=os.path.getmtime):
            w = os.path.basename(d).split("-s")[0]
            if w in names and os.path.exists(os.path.join(d, "result.json")):
                newest[w] = d
        runs = list(newest.values())
    cache = json.load(open(COMMITTED)) if os.path.exists(COMMITTED) else {}
    for run_dir in runs:
        for name, sql, data in oracles_of(run_dir):
            key = checks.oracle_key(sql, data)
            if key in cache:
                continue
            cols, rows, digest = checks.canon_sql(sql, data, memory_limit="3GB")
            cache[key] = {"query": name, "cols": cols, "rows": rows, "hash": digest}
            print(f"{name}: {rows} rows, hash {digest}", flush=True)
            os.makedirs(os.path.dirname(COMMITTED), exist_ok=True)
            json.dump(cache, open(COMMITTED, "w"), indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
