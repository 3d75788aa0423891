#!/usr/bin/env python3
"""Build perfbench/reference.json, the expected result of every
workload query: each query's `SparkEntry.oracleSql` run by DuckDB on
the workload's data, hashed as check.py does.

    python3 perfbench/make_reference.py

Run it from the root of a checkout when a workload's query list or
data changes; the benchmark itself only reads the stored file.
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402
import run  # noqa: E402


def main():
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.RUNS) as tmp:
        out = Path(tmp) / "oracle.json"
        subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--dump-oracle", str(out)],
                       check=True, stdin=subprocess.DEVNULL)
        oracle = json.loads(out.read_text())["oracle"]
    workloads = json.loads((run.BENCH / "workloads.json").read_text())["workloads"]
    reference = {}
    for wl in workloads.values():
        scale = reference.setdefault(wl["data"], {})
        con = duckdb.connect()
        for path in sorted((run.BENCH / "data" / wl["data"]).glob("*.parquet")):
            con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
        for q in wl["queries"]:
            if q not in scale:
                scale[q] = check.describe(con, oracle[q])
    (run.BENCH / "reference.json").write_text(json.dumps(reference, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
