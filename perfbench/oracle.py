"""Expected outputs of the registry workloads, stored as digests.

A digest covers a result in the canonical form tools/selfcheck.py
compares (columns sorted by name, rows sorted by every column), with
cells rendered so that two cells selfcheck calls equal render the same.
perfbench/expected/<workload>.json holds one digest per query, computed
once from the query's DuckDB oracle (`SparkEntry.oracleSql`) over the
same test tables; a query without an oracle is pinned to the engine's
own output when the file was made ("source": "spark").

Regenerate after a run of the workload (which leaves its outputs and
oracle SQL under .bench_build/work/<workload>/):
  python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 1
  python3 perfbench/oracle.py registry_mix
"""
import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import selfcheck  # noqa: E402


def _token(x):
    if isinstance(x, (float, np.floating)):
        x = float(x)
        if x != x:
            return "\0"
        return "0.0" if x == 0 else repr(x)
    if x is None or x is pd.NaT or (np.isscalar(x) and pd.isna(x)):
        return "\0"
    return str(x)


def digest(df):
    df = selfcheck.canon(df)
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    for row in df.itertuples(index=False, name=None):
        h.update(("\x1f".join(_token(x) for x in row) + "\x1e").encode())
    return {"digest": h.hexdigest(), "rows": len(df), "columns": list(df.columns)}


def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def check(workload, names, out_dir):
    """Compare each query's parquet output with its stored digest; return
    (failure records, number of checks)."""
    with open(expected_path(workload)) as f:
        expected = json.load(f)
    fails = []
    for name in names:
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            continue  # the run already recorded why the query wrote nothing
        want = expected.get(name)
        try:
            got = digest(pd.read_parquet(path))
        except Exception as e:  # noqa: BLE001
            fails.append({"name": name, "kind": "unreadable", "message": str(e)[:300]})
            continue
        if want is None or got["digest"] != want["digest"]:
            fails.append({"name": name, "kind": "mismatch", "message":
                          f"{got['rows']} rows {got['columns']} differ from "
                          f"expected {want and want['rows']} rows {want and want['columns']}"})
    return fails, len(names)


def main():
    import duckdb

    workload = sys.argv[1]
    work = os.path.join(ROOT, ".bench_build", "work", workload)
    with open(os.path.join(work, "oracles.json")) as f:
        oracles = json.load(f)
    cons = {}
    def duck(sf):
        if sf not in cons:
            cons[sf] = duckdb.connect()
            for t in selfcheck.TABLES:
                if os.path.exists(f"{sf}/{t}.parquet"):
                    cons[sf].execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        return cons[sf]
    out = {}
    for name in sorted(os.listdir(os.path.join(work, "out"))):
        mine = digest(pd.read_parquet(os.path.join(work, "out", name)))
        q = oracles[name]
        if q["sql"] is None:
            out[name] = {**mine, "source": "spark"}
            print(f"{name}: no oracle, pinned to engine output ({mine['rows']} rows)")
            continue
        ref = digest(duck(q["sf"]).execute(q["sql"]).fetchdf())
        out[name] = {**ref, "source": "duckdb", "scale": os.path.basename(q["sf"])}
        agree = "agrees" if ref["digest"] == mine["digest"] else "DIFFERS"
        print(f"{name}: oracle {ref['rows']} rows, engine output {agree}")
    os.makedirs(os.path.dirname(expected_path(workload)), exist_ok=True)
    with open(expected_path(workload), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
