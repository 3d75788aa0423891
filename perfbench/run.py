#!/usr/bin/env python3
"""Closed-loop benchmark of the graft query engine.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the repository
and the benchmark from source with sbt (offline); later runs reuse the
build while no source or build file has changed.

One client runs the workload's queries back to back, with no think
time, in one JVM on `local[nproc]`. The seed permutes the query order
of every pass; the JVM receives only that order. Pass 0 is the cold
pass; warm passes follow, as many as fill `--seconds` at the workload's
recorded warm-pass time. After the timed passes every query of the
workload runs once more and its result is checked against a DuckDB
reference stored in `reference.json`.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` — the end-to-end metrics of BENCHMARK.json with
`--trace 0`, the per-layer metrics with `--trace 1`. Everything the
run measured (spans, host context, check results) stays in
`perfbench/.run/<workload>-s<seed>-t<trace>/`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import check

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RUNS = BENCH / ".run"
MODULES = ["Analytics", "Registry", "Audit", "Analysis", "Compat", "FormatCompat",
           "Intelligence", "Dedup", "Pipeline", "Similarity", "TextAnalysis",
           "Multimodal", "Streaming", "Temporal"]
# build.sbt's javaOptions at the time the benchmark was defined, with the
# heap at its default; kept here so a change there shows as a change in
# the benchmark's figures.
JAVA_OPTS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Xmx8g", "-XX:-DontCompileHugeMethods"]
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compile the repository and the benchmark; return the classpath."""
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    missing = [str(p.relative_to(ROOT)) for p in inputs + [ROOT / "src" / "main"]
               if not p.exists()]
    if missing:
        fail(f"not a graft checkout, missing {missing}")
    sources = sorted(p for d in (ROOT / "src" / "main", BENCH / "src")
                     for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in inputs + sources:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    stamp, cp_file = RUNS / "build.stamp", RUNS / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
         "-Dsbt.offline=true", "-Xmx2g"] if repos.exists() else ["-Xmx2g"]))
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.startswith(os.sep)]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    RUNS.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp.write_text(h.hexdigest())
    return lines[-1]


def tail_percentile(n):
    """Highest whole percentile, from 50 up, with at least 10 of n samples
    beyond it; None when n is too small for even the median."""
    p = min(99, 100 * (n - 10) // n) if n else 0
    return p if p >= 50 else None


def quantile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def union_s(intervals):
    """Wall seconds covered by a set of (start_ns, end_ns) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e9


def end_to_end(res, pass_size):
    spans = res["spans"]
    passes = [s for s in spans if s["kind"] == "pass"]
    # With tracing on, the untraced warm passes give the end-to-end view.
    warm = [p for p in passes if p["pass"] > 0 and not p["attrs"]["traced"]]
    warm_ids = {p["id"] for p in warm}
    lat = [dur(s) for s in spans if s["kind"] == "query" and s["parent"] in warm_ids]
    pct = tail_percentile(len(lat))
    m = {
        "setup_s": res["setup"]["setup_s"],
        "throughput_qpm": 60 * pass_size / statistics.median(dur(p) for p in warm),
        "latency_p50_s": statistics.median(lat),
        "cold_pass_s": dur(next(p for p in passes if p["pass"] == 0)),
        "cpu_s": statistics.median(p["attrs"]["cpu_s"] for p in warm),
    }
    info = {"latency_tail_s": quantile(lat, pct) if pct else max(lat),
            "tail_percentile": pct or 100, "samples": len(lat), "warm_passes": len(warm)}
    return m, info


def per_layer(res, nproc):
    """Per-pass sums over the traced warm passes (median across them)."""
    spans = res["spans"]
    traced = [s for s in spans if s["kind"] == "pass" and s["pass"] > 0 and s["attrs"]["traced"]]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def pass_sums(p):
        m = {k: 0.0 for k in LAYER_KEYS}
        for q in kids.get(p["id"], []):
            for k in ("exchanges", "broadcasts", "smj", "codegen_stages"):
                m[f"plan.{k}"] += q["attrs"].get(k, 0)
            module = q["attrs"]["module"]
            for ph in kids.get(q["id"], []):
                name, d = ph["kind"], dur(ph)
                m[f"{name}.s"] += d
                m[f"{module}.{name}_s"] += d
                m["codegen.compiles"] += ph["attrs"].get("compiles", 0)
                m["execute.log_errors"] += ph["attrs"].get("log_errors", 0)
                jobs = [j for j in kids.get(ph["id"], []) if j["kind"] == "job"]
                if name == "plan":
                    continue
                job_s = union_s([(j["start_ns"], j["end_ns"]) for j in jobs if j["end_ns"] > 0])
                m[f"{name}.jobs"] += len(jobs)
                m[f"{name}.job_s"] += job_s
                if name == "construct":
                    m["construct.self_s"] += d - job_s
                    continue
                m["execute.gap_s"] += d - job_s
                for j in jobs:
                    for st in kids.get(j["id"], []):
                        a = st["attrs"]
                        m["execute.stages"] += 1
                        m["execute.tasks"] += a["tasks"]
                        m["execute.task_failures"] += a["task_failures"]
                        m["execute.task_run_s"] += a["task_run_ms"] / 1e3
                        m["execute.task_cpu_s"] += a["task_cpu_ns"] / 1e9
                        m["execute.gc_s"] += a["gc_ms"] / 1e3
                        for k in ("input_bytes", "shuffle_write_bytes",
                                  "shuffle_read_bytes", "spill_bytes"):
                            m[f"execute.{k}"] += a[k]
        m["codegen.compile_s"] = p["attrs"]["compiles"] * p["attrs"]["compile_ms_mean"] / 1e3
        m["execute.slot_util"] = (m["execute.task_run_s"] / (m["execute.job_s"] * nproc)
                                  if m["execute.job_s"] else 0.0)
        return m

    sums = [pass_sums(p) for p in traced]
    out = {k: statistics.median(s[k] for s in sums) for k in LAYER_KEYS}
    # Warm passes still speed up as the JIT warms, and pass 1 is traced:
    # compare the later traced passes with the untraced ones around them.
    untraced = [dur(s) for s in spans if s["kind"] == "pass" and s["pass"] > 0
                and not s["attrs"]["traced"]]
    later = [dur(p) for p in traced if p["pass"] > 1] or [dur(p) for p in traced]
    out["trace.overhead"] = statistics.median(later) / statistics.median(untraced) - 1
    out["session.start_s"] = res["setup"]["session_start_s"]
    out["session.schema_s"] = res["setup"]["schema_s"]
    out["jobs.unattributed"] = res["unattributed_jobs"]
    out["peak_rss_mb"] = res["peak_rss_mb"]
    out["codegen.cold_compiles"] = next(s["attrs"]["compiles"] for s in spans
                                        if s["kind"] == "pass" and s["pass"] == 0)
    return out


def attribution(res):
    """Jobs and log4j ERROR events per query and phase, whole traced run."""
    by_id = {s["id"]: s for s in res["spans"]}
    jobs, errors = {}, {}
    for s in res["spans"]:
        owner = by_id.get(s["parent"])
        if owner is None or owner["kind"] not in ("construct", "plan", "execute"):
            continue
        key = f'{owner["name"]}/{owner["kind"]}'
        if s["kind"] == "job":
            jobs[key] = jobs.get(key, 0) + 1
    for s in res["spans"]:
        n = s["attrs"].get("log_errors", 0)
        if n:
            key = f'{s["name"]}/{s["kind"]}'
            errors[key] = errors.get(key, 0) + n
    return {"jobs": jobs, "log_errors": errors, "unattributed_jobs": res["unattributed_jobs"]}


LAYER_KEYS = (
    ["construct.s", "construct.jobs", "construct.job_s", "construct.self_s",
     "plan.s", "plan.exchanges", "plan.broadcasts", "plan.smj", "plan.codegen_stages",
     "codegen.compiles", "codegen.compile_s",
     "execute.s", "execute.jobs", "execute.stages", "execute.tasks", "execute.job_s",
     "execute.gap_s", "execute.task_run_s", "execute.task_cpu_s", "execute.slot_util",
     "execute.gc_s", "execute.input_bytes", "execute.shuffle_write_bytes",
     "execute.shuffle_read_bytes", "execute.spill_bytes", "execute.task_failures",
     "execute.log_errors"]
    + [f"{m}.{ph}_s" for m in MODULES for ph in ("construct", "plan", "execute")])


def check_outputs(res, run_dir, reference):
    """Per query: None when its result matches the reference, else why."""
    import duckdb
    con = duckdb.connect()
    verdict = {}
    for q, status in sorted(res["check"].items()):
        if status != "ok":
            verdict[q] = status
            continue
        files = sorted(glob.glob(str(run_dir / "check" / q / "*.parquet")))
        got = check.describe(con, f"SELECT * FROM read_parquet({files!r})")
        verdict[q] = check.compare(got, reference[q])
    return verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = json.loads((BENCH / "workloads.json").read_text())["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {sorted(workloads)}")
    wl = workloads[a.workload]
    reference = json.loads((BENCH / "reference.json").read_text())[wl["data"]]
    data_dir = BENCH / "data" / wl["data"]
    classpath = build()
    t_start = time.monotonic()

    run_dir = RUNS / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    rng = random.Random(a.seed)
    plan = []
    for _ in range(200):
        order = list(wl["queries"])
        rng.shuffle(order)
        plan.append(" ".join(order))
    (run_dir / "plan.txt").write_text("\n".join(plan) + "\n")

    # A run measures `--seconds` of the workload's recorded warm-pass
    # time as a fixed number of passes, so every run does the same work.
    warm = max(3, int(a.seconds / wl["pass_s"] + 0.5))
    nproc = len(os.sched_getaffinity(0))
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
           "perfbench.Main", "--data", str(data_dir), "--plan", str(run_dir / "plan.txt"),
           "--out", str(run_dir), "--passes", str(warm), "--trace", str(a.trace),
           "--cpus", str(nproc)]
    with open(run_dir / "jvm.log", "w") as log:
        try:
            jvm = subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=log,
                                 stderr=subprocess.STDOUT,
                                 timeout=DEADLINE_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {DEADLINE_S}s; see {run_dir / 'jvm.log'}")
    if jvm.returncode != 0:
        fail(f"the JVM exited with {jvm.returncode}; see {run_dir / 'jvm.log'}")
    res = json.loads((run_dir / "result.json").read_text())

    verdict = check_outputs(res, run_dir, reference)
    queries = [s for s in res["spans"] if s["kind"] == "query"]
    wrong = {q for q, v in verdict.items() if v}
    failed = sum(1 for s in queries if "error" in s["attrs"] or s["name"] in wrong)
    e2e, tail = end_to_end(res, len(wl["queries"]))
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "data": wl["data"],
        "end_to_end": e2e, **tail,
        "error_rate": failed / len(queries),
        "errors": {s["name"]: s["attrs"]["error"] for s in queries if "error" in s["attrs"]},
        "check": {q: v or "ok" for q, v in verdict.items()},
        "host": res["host"], "nproc": res["nproc"], "jvm_flags": res["jvm_flags"],
        "spark_confs": res["spark_confs"],
    }
    if a.trace:
        summary["per_layer"] = {**per_layer(res, res["nproc"]),
                                "latency_tail_s": tail["latency_tail_s"]}
        summary["attribution"] = attribution(res)
    (run_dir / "summary.json").write_text(json.dumps(summary, indent=1, sort_keys=True))
    for d in ("check", "spark-local", "spark-warehouse", "tmp"):
        shutil.rmtree(run_dir / d, ignore_errors=True)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    values = summary["per_layer"] if a.trace else e2e
    print(f"check: {len(verdict) - len(wrong)}/{len(verdict)} queries match the reference"
          + "".join(f"\n  {q}: {v}" for q, v in sorted(verdict.items()) if v))
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": len(queries),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
