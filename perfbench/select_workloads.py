#!/usr/bin/env python3
"""Derive perfbench/workloads.json from two survey.py outputs: each
workload's selection rule applied to the measured per-query properties,
with the property that placed every query recorded next to it.

    python3 perfbench/select_workloads.py survey-sf0.001.json survey-sf0.1.json

Each workload is sized for a warm pass of a few seconds on a 4-core
host (ADHOC_S, SCANS_S), so that one run of the benchmark holds several
passes.
"""
import json
import sys
from pathlib import Path

ADHOC_S = 4.5
LOOPS_S = 3.0
SCANS_S = 3.0
# The iterative operators whose loops run while the DataFrame is built:
# ConstructionJobsSpec's allow-list.
ITERATIVE = [
    "reg_refs_closure", "reg_dep_depth", "reg_gc_candidates", "reg_ref_cycles",
    "reg_pagerank", "reg_change_advice", "dedup_clusters", "dedup_cluster_stats",
    "dedup_survivors", "dedup_semantic_clusters", "dedup_semantic_rate",
    "corpus_funnel", "ann_nn_descent", "ann_graph_recall", "ann_nn_graph",
    "emb_centroids", "emb_assign", "emb_pca_power", "tok_merge_apply"]


def props(r, extra=()):
    keep = ("module", "wall_s", "construct_share", "execute_share", "compiles",
            "construct_jobs", "execute_jobs") + tuple(extra)
    return {k: round(r[k], 4) if isinstance(r[k], float) else r[k] for k in keep if k in r}


def fill(cands, budget):
    """Take candidates in order while the pass stays within budget."""
    out, total = [], 0.0
    for q, r in cands:
        if total + r["wall_s"] <= budget:
            out.append(q)
            total += r["wall_s"]
    return out


def data_bytes(scale):
    return sum(p.stat().st_size for p in (Path(__file__).resolve().parent / "data" / scale).glob("*.parquet"))


def main(small_path, large_path):
    small = json.loads(Path(small_path).read_text())
    large = json.loads(Path(large_path).read_text())
    ok = {q for q in small if "error" not in small[q]}

    # adhoc, part 1: per operator module, the cheapest iterative
    # operator whose construction runs its fixpoint loop as Spark jobs
    # at sf0.001 and takes at least half the wall; cheapest first.
    cheapest = {}
    for q in ITERATIVE:
        r = small.get(q)
        if q in ok and r.get("construct_jobs", 0) > 0 and r["construct_share"] >= 0.5:
            if r["module"] not in cheapest or r["wall_s"] < small[cheapest[r["module"]]]["wall_s"]:
                cheapest[r["module"]] = q
    loops = fill(sorted(((q, small[q]) for q in cheapest.values()),
                        key=lambda kv: kv[1]["wall_s"]), LOOPS_S)

    # adhoc, part 2: distinct cheap queries, one per operator module,
    # each the heaviest codegen user among that module's fixed-cost
    # queries; most compiles first, filling the rest of the pass.
    best = {}
    for q in sorted(ok - set(ITERATIVE)):
        r = small[q]
        if r["wall_s"] < 0.3 and r.get("construct_jobs", 0) == 0:
            if r["module"] not in best or r["compiles"] > small[best[r["module"]]]["compiles"]:
                best[r["module"]] = q
    fixed = fill(sorted(((q, small[q]) for q in best.values()),
                        key=lambda kv: -kv[1]["compiles"]),
                 ADHOC_S - sum(small[q]["wall_s"] for q in loops))
    adhoc = loops + fixed

    # scans: non-iterative, execution-bound at sf0.1, with execution
    # growing at least 2x from sf0.001; the cheapest first, at most two
    # per operator module.
    growth = {q: large[q]["execute_s"] / small[q]["execute_s"]
              for q in ok if q in large and "error" not in large[q]}
    cands, per_module = [], {}
    for q, r in sorted(((q, large[q]) for q in set(growth) - set(ITERATIVE)),
                       key=lambda kv: kv[1]["wall_s"]):
        if r["execute_share"] >= 0.9 and growth[q] >= 2.0:
            per_module[r["module"]] = per_module.get(r["module"], 0) + 1
            if per_module[r["module"]] <= 2:
                cands.append((q, r))
    scans = fill(cands, SCANS_S)

    def record(queries, data, table, why, rule, extra=()):
        return {
            "why": why, "data": data, "data_bytes": data_bytes(data), "rule": rule,
            "queries": sorted(queries),
            "pass_s": round(sum(table[q]["wall_s"] for q in queries), 3),
            "compiles_per_pass": round(sum(table[q]["compiles"] for q in queries)),
            "measured": {q: props(table[q], extra) for q in sorted(queries)},
        }

    for q in scans:
        large[q]["execute_growth"] = growth[q]
    out = {
        "note": "Measured by survey.py on a 4-core host; wall_s is the warm "
                "construct+plan+execute time of one execution, shares are of wall_s, "
                "compiles are codegen classes compiled per warm execution while "
                "all 233 queries share the 100-entry codegen cache.",
        "workloads": {
            "adhoc": record(
                adhoc, "sf0.001", small,
                "Distinct small queries across operator modules, two of them fixpoint "
                "loops run at construction: per-query fixed cost and loop jobs dominate.",
                "per operator module, the cheapest iterative allow-list operator whose "
                "construction launches jobs and takes at least half the wall (cheapest "
                f"first, up to {LOOPS_S} s); then per module the non-iterative query "
                "under 0.3 s with no construction job and the most codegen compiles "
                f"(most first), filling a {ADHOC_S} s pass"),
            "scans": record(
                scans, "sf0.1", large,
                "Execution-bound queries whose work grows with the data: tasks, bytes and "
                "executor CPU dominate; a construct-layer change should not move them.",
                "non-iterative queries with execute share >= 0.9 at sf0.1 and execute "
                "time growing >= 2x from sf0.001; cheapest first, at most two per "
                f"operator module, up to a {SCANS_S} s pass", extra=("execute_growth",)),
        },
    }
    (Path(__file__).resolve().parent / "workloads.json").write_text(
        json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main(*sys.argv[1:3])
