#!/usr/bin/env python3
"""Per-family rollup of a traced batch_surface run.

    python3 perfbench/rollup.py OUT_DIR

OUT_DIR is a --out directory of `run.py --workload batch_surface --trace 1`
(it holds queries.jsonl and jvm_result.json). Prints JSON: one row per
query family (the first letter of the query name) and a total, each with
wall time, construction time, Spark jobs, task time and the busy-core
fraction, task run time / (wall time x cores).
"""
import json
import os
import sys
from collections import defaultdict


def rollup(out_dir):
    with open(os.path.join(out_dir, "jvm_result.json")) as f:
        cores = json.load(f)["cores"]
    with open(os.path.join(out_dir, "queries.jsonl")) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    groups = defaultdict(list)
    for r in rows:
        if r.get("ok"):
            groups[r["query"][0]].append(r)
            groups["total"].append(r)

    def summary(rs):
        wall = sum(r["latency_s"] for r in rs)
        task_s = sum(r["total"]["task_run_ms"] for r in rs) / 1000
        return {
            "queries": len(rs), "wall_s": round(wall, 3),
            "construct_s": round(sum(r["construct_ms"] for r in rs) / 1000, 3),
            "jobs": sum(r["total"]["jobs"] for r in rs),
            "construct_jobs": sum(r["construct"]["jobs"] for r in rs),
            "task_run_s": round(task_s, 3),
            "busy_core_fraction": round(task_s / (wall * cores), 4) if wall else 0.0,
            "planner_ms": sum(r["total"]["analysis_ms"] + r["total"]["optimization_ms"]
                              + r["total"]["planning_ms"] for r in rs),
            "shuffle_write_bytes": sum(r["total"]["shuffle_write_bytes"] for r in rs),
            "spill_bytes": sum(r["total"]["spill_bytes"] for r in rs)}

    return {"cores": cores, "failed": [r["query"] for r in rows if not r.get("ok")],
            "families": {k: summary(v) for k, v in sorted(groups.items())}}


if __name__ == "__main__":
    print(json.dumps(rollup(sys.argv[1]), indent=1))
