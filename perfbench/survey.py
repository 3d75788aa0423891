#!/usr/bin/env python3
"""Measure every registered query once cold and twice warm at one data
scale, and print the per-query properties the workloads were selected
by: warm wall, construct and execute shares of it, codegen compiles
and Spark jobs per execution.

    python3 perfbench/survey.py sf0.001 [query ...] > survey-sf0.001.json

Run from the root of a checkout; takes several minutes per scale.
"""
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def main(scale, only):
    classpath = run.build()
    out = run.RUNS / f"survey-{scale}"
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    subprocess.run(["java", "-cp", classpath, "perfbench.Main", "--dump-oracle",
                    str(out / "oracle.json")], check=True, stdin=subprocess.DEVNULL)
    names = only or sorted(json.loads((out / "oracle.json").read_text())["modules"])
    (out / "plan.txt").write_text((" ".join(names) + "\n") * 3)
    nproc = len(os.sched_getaffinity(0))
    with open(out / "jvm.log", "w") as log:
        subprocess.run(["java", *run.JAVA_OPTS, f"-Djava.io.tmpdir={out / 'tmp'}",
                        "-cp", classpath, "perfbench.Main",
                        "--data", str(run.BENCH / "data" / scale), "--plan", str(out / "plan.txt"),
                        "--out", str(out), "--passes", "2", "--trace", "1",
                        "--cpus", str(nproc)],
                       check=True, cwd=out, stdin=subprocess.DEVNULL, stdout=log,
                       stderr=subprocess.STDOUT)
    json.dump(reduce(json.loads((out / "result.json").read_text())["spans"]),
              sys.stdout, indent=1, sort_keys=True)


def reduce(spans):
    """Per query: cold wall, warm means, shares, compiles and jobs."""
    passes = {s["id"]: s for s in spans if s["kind"] == "pass"}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = {}
    for q in (s for s in spans if s["kind"] == "query"):
        p = passes[q["parent"]]
        r = rows.setdefault(q["name"], {"module": q["attrs"]["module"], "warm": []})
        if "error" in q["attrs"]:
            r["error"] = q["attrs"]["error"]
        phases = {ph["kind"]: ph for ph in kids.get(q["id"], [])}
        if p["pass"] == 0:
            r["cold_s"] = run.dur(q)
            continue
        w = {"wall_s": run.dur(q), **{f"{k}_s": run.dur(v) for k, v in phases.items()},
             "compiles": sum(ph["attrs"].get("compiles", 0) for ph in phases.values())}
        if p["attrs"]["traced"]:
            w.update({f"{k}_jobs": sum(1 for j in kids.get(v["id"], []) if j["kind"] == "job")
                      for k, v in phases.items()})
        r["warm"].append(w)
    for r in rows.values():
        warm = r.pop("warm")
        mean = {k: sum(w[k] for w in warm) / len(warm) for k in warm[0] if k.endswith("_s") or k == "compiles"}
        r.update(mean)
        r.update({k: v for w in warm for k, v in w.items() if k.endswith("_jobs")})
        r["construct_share"] = r.get("construct_s", 0) / r["wall_s"]
        r["execute_share"] = r.get("execute_s", 0) / r["wall_s"]
    return rows


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2:])
