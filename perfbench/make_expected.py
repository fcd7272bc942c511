#!/usr/bin/env python3
"""Regenerates the expectations in perfbench/catalog.json, the fixed
inputs of catalog_small:

  queries   the catalog sample, a fixed list of SparkEntry.queries names
            (kept as committed; edit it by hand to change the sample)
  expected  per query, the DuckDB oracle's answer over data/sf0.001
            (rows, columns, type categories, hash of the canonical rows,
            compared the way scripts/oracle_check.py compares); a query
            without oracle SQL gets the engine's row count (rows-only)

    python3 perfbench/make_expected.py

The sample runs in two fresh JVMs, in two different orders, each writing
every result twice (cold, and after the check pass). Run it only at a
commit whose catalog passes the oracle. It prints every query that
failed, gave different outputs, or disagrees with the oracle, and then
exits 1.
"""
import json
import os
import shutil
import sys

import run


def main():
    with open(run.CATALOG) as f:
        names = json.load(f)["queries"]
    env = run.engine_env()
    spec = run.ensure_build(env)
    work = os.path.join(run.OUT, "make_expected")
    shutil.rmtree(work, ignore_errors=True)
    # some oracle SQL reads the repository's data/ directory by absolute path
    oracle = run.launch(spec, env, os.path.join(work, "oracle"), ["oracle"],
                        props=[f"-Dgraft.repo.root={run.ROOT}"])
    missing = sorted(set(names) - set(oracle["queries"]))
    if missing:
        print(f"not in SparkEntry.queries: {', '.join(missing)}")
        return 1
    con = run.duck()
    outputs = {}
    for seed in (1, 2):
        check_dir = os.path.join(work, f"pass{seed}", "check")
        res = run.launch(spec, env, os.path.join(work, f"pass{seed}"),
                         ["catalog", "0", run.DATA, check_dir, str(seed), "0", ",".join(names)])
        for op in (op for op in res["ops"] if op["kind"] in run.CHECKED_PASSES):
            sql = run.spark_output_sql(os.path.join(check_dir, op["kind"], op["name"]))
            outputs.setdefault(op["name"], []).append(run.digest(con, sql) if op["ok"] and sql else None)
    expected, bad = {}, []
    for name in names:
        got = outputs[name]
        if name in oracle["oracle_sql"]:
            expected[name] = run.digest(con, oracle["oracle_sql"][name])
        elif got[0] is not None:
            expected[name] = {"rows": got[0]["rows"]}
        if None in got or any(g != got[0] for g in got) or any(
                g[k] != v for g in got for k, v in expected[name].items()):
            bad.append(name)
    with open(run.CATALOG, "w") as f:
        json.dump({"queries": names, "expected": expected}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(names)} queries; failed, unstable or disagreeing with the oracle: {', '.join(bad) or '-'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
