#!/usr/bin/env python3
"""Regenerate perfbench/panel_hashes.json: run each panel query's DuckDB
oracle SQL (SparkEntry.oracleSql) over the bundled tables and store the
normalized result digest, so benchmark runs never pay for the oracle.

Usage (from the repository root): python3 perfbench/gen_panel_hashes.py
"""
import glob
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import panel_hash  # noqa: E402
import run  # noqa: E402


def main():
    jars = run.spark_jars()
    classes = run.build(jars)
    d = run.new_run_dir("oracle")
    try:
        out = os.path.join(d, "oracle.json")
        rc = run.run_jvm(run.java_cmd(classes, jars, d, ["oracle", out]),
                         os.path.join(d, "oracle.log"), run.RUN_TIMEOUT_S)
        if rc != 0:
            run.fail("oracle dump failed")
        with open(out) as f:
            oracle = json.load(f)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(run.DATA_DIR, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    hashes = {}
    for name, sql in sorted(oracle.items()):
        hashes[name] = panel_hash.arrow_digest(con.execute(sql).arrow())
        print(f"{name}: rows={hashes[name]['rows']}")
    with open(run.HASHES, "w") as f:
        json.dump({"sf": "0.01", "queries": hashes}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
