#!/usr/bin/env python3
"""Chooses the query_mix slice from a measured per-query table.

    python3 perfbench/choose_mix.py [registry table] [> perfbench/mix.json]

The table is what `perfbench/run.py --registry <out>` writes: every
registered query's median wall, build seconds and jobs at the query_mix
scale. The slice

  * holds the queries ROADMAP item 1 names as build-heavy targets (the
    driver-job queries and the range-boundary sampling probes), so a change
    to any of them moves the mix;
  * samples every module in proportion to its size in the registry, at
    least one query each;
  * fills each module's remaining share with the draw (seeded, so the
    choice is reproducible) whose build share, median jobs and median wall
    come closest to the whole registry's, within a pass-time budget that
    fits a warm-up pass and two measured passes into a run.

It prints mix.json: the slice, and the registry's and the slice's figures.
"""
import json
import os
import random
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TARGETS = ["q170", "q167", "q114", "q102", "q104", "q86", "q113", "q10", "q66"]
SIZE = 20  # registry-proportional share before the one-per-module floor
PASS_BUDGET_S = 8.0
DRAWS = 20000


def figures(rows):
    wall = sum(r["wall_s"] for r in rows)
    return {"queries": len(rows), "pass_s": round(wall, 3),
            "build_share": round(sum(r["build_s"] for r in rows) / wall, 3),
            "median_jobs": statistics.median(r["jobs"] for r in rows),
            "median_wall_s": round(statistics.median(r["wall_s"] for r in rows), 3)}


def distance(f, ref):
    return sum(abs(f[k] - ref[k]) / ref[k] for k in ("build_share", "median_jobs", "median_wall_s"))


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "results", "registry.json")
    with open(path) as f:
        table = json.load(f)["queries"]
    rows = [dict(v, name=k) for k, v in sorted(table.items())]
    modules = {}
    for r in rows:
        modules.setdefault(r["module"], []).append(r)
    ref = figures(rows)
    fixed = {m: [r for r in rs if r["name"].split("_")[0] in TARGETS] for m, rs in modules.items()}
    share = {m: max(1, round(SIZE * len(rs) / len(rows))) for m, rs in modules.items()}
    rng = random.Random(0)
    best = None
    for _ in range(DRAWS):
        pick = []
        for m, rs in modules.items():
            rest = [r for r in rs if r not in fixed[m]]
            pick += fixed[m] + rng.sample(rest, max(0, share[m] - len(fixed[m])))
        f = figures(pick)
        if f["pass_s"] <= PASS_BUDGET_S and (best is None or distance(f, ref) < best[0]):
            best = (distance(f, ref), f, pick)
    if best is None:
        sys.exit(f"no draw fits a {PASS_BUDGET_S} s pass")
    _, f, pick = best
    json.dump({"chosen_by": "perfbench/choose_mix.py", "table": os.path.relpath(path, HERE),
               "targets": TARGETS, "registry": ref, "slice": f,
               "queries": sorted(r["name"] for r in pick)}, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
