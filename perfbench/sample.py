"""Derive a workload's query sample from a measured pass over its pool.

    python3 perfbench/sample.py --workload retail_olap [--seed 1]

Runs one traced run over every query of the workload's pool (a cold and
a warm pass, no pipeline or streaming ops; each query builds its own
derived artifacts, as it would alone on a fresh deployment) and
profiles each query on its warm execution: jobs, `catalog.load_table` calls and their share of
the op's time, `registry.track_persist` calls, whether a Python stage
ran, and cold and warm latency. It then picks one query per operator
module so that the picks' per-op mix of those features is as close to
the pool's as a time budget allows (see `pick`), leaves out the modules
in `workloads.UNSAMPLED`, prints the picks and a table comparing the
pool's per-op mix with the picks', and writes both to
`.perfbench/results/sample-<workload>.json`.

`workloads.SAMPLE` holds the picks. Re-run this after adding queries or
operator modules, and update `SAMPLE` and the table in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

# a run's time goes mostly to set-up and the write ops; the sampled
# queries may cost this many times the fastest query of every module
BUDGET = 1.2

# the per-op mix a sample must reproduce: (key in `mix`, its scale floor)
MIX_TARGETS = (
    ("jobs / op", 1.0), ("cold-only jobs / op", 0.5), ("load_table calls / op", 0.5),
    ("load_table share of time", 0.05), ("track_persist calls / op", 0.1),
    ("ops with a Python stage", 0.05),
)


def profile(warm: dict, cold: dict) -> dict:
    c = warm["counters"]
    return {
        "op": warm["op"], "module": warm["module"], "wall_s": warm["wall_s"],
        "cold_s": cold["wall_s"],
        "jobs": c.get("exec.jobs", 0.0),
        "cold_extra_jobs": cold["counters"].get("exec.jobs", 0.0) - c.get("exec.jobs", 0.0),
        "load_calls": c.get("catalog.load_table_calls", 0.0),
        "load_s": c.get("catalog.load_table_s", 0.0),
        "persist_calls": c.get("registry.track_persist_calls", 0.0),
        "python": float(c.get("python.rows_received", 0.0) > 0),
        "shuffle_write_mb": c.get("exec.shuffle_write_mb", 0.0),
        "ok": not warm["error"] and not cold["error"],
    }


def mix(ps: list[dict]) -> dict[str, float]:
    """Per-op averages of a set of query profiles."""
    n = len(ps)
    return {
        "ops": n,
        "warm latency s / op": sum(p["wall_s"] for p in ps) / n,
        "cold latency s / op": sum(p["cold_s"] for p in ps) / n,
        "jobs / op": sum(p["jobs"] for p in ps) / n,
        "cold-only jobs / op": sum(p["cold_extra_jobs"] for p in ps) / n,
        "load_table calls / op": sum(p["load_calls"] for p in ps) / n,
        "load_table share of time": sum(p["load_s"] for p in ps) / sum(p["wall_s"] for p in ps),
        "track_persist calls / op": sum(p["persist_calls"] for p in ps) / n,
        "ops with a Python stage": sum(p["python"] for p in ps) / n,
        "shuffle write MiB / op": sum(p["shuffle_write_mb"] for p in ps) / n,
    }


def distance(sample: list[dict], pool_mix: dict) -> float:
    m = mix(sample)
    return sum(((m[k] - pool_mix[k]) / max(pool_mix[k], floor)) ** 2 for k, floor in MIX_TARGETS)


def pick(profiles: list[dict], budget: float = BUDGET) -> dict[str, str]:
    """One query per module, so that the picks' per-op mix is as close to
    the pool's as a time budget allows: the picks' summed cold plus warm
    latency stays within `budget` times that of each module's fastest
    query. Only queries that passed their check are candidates.
    Coordinate descent: start from each module's fastest query, then
    swap one module's pick at a time while that brings the mix closer
    and keeps the budget, until no swap does."""
    candidates: defaultdict[str, list[dict]] = defaultdict(list)
    for p in sorted(profiles, key=lambda p: (p["wall_s"] + p["cold_s"], p["op"])):
        if p["ok"]:
            candidates[p["module"]].append(p)
    pool_mix = mix(profiles)
    picks = {mod: cands[0] for mod, cands in sorted(candidates.items())}

    def cost(ps) -> float:
        return sum(p["wall_s"] + p["cold_s"] for p in ps)

    budget_s = budget * cost(picks.values())
    improved = True
    while improved:
        improved = False
        for mod, cands in sorted(candidates.items()):
            def trial(c, mod=mod):
                return [c if m == mod else p for m, p in picks.items()]
            fits = [c for c in cands if cost(trial(c)) <= budget_s]
            best = min(fits, key=lambda c: distance(trial(c), pool_mix), default=picks[mod])
            if distance(trial(best), pool_mix) < distance(trial(picks[mod]), pool_mix) - 1e-12:
                picks[mod], improved = best, True
    return {mod: p["op"] for mod, p in picks.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    import run
    from data_engineering_challenge_spark import registry
    from workloads import POOLS, UNSAMPLED, module_of

    pool = sorted(n for n, s in registry.all_queries().items()
                  if module_of(s) in POOLS[args.workload])
    t0 = time.monotonic()
    record = run.measure(args.workload, args.seed, 10, 1, pool, [], deadline_s=3600,
                         artifacts_per_op=True)
    recs = {(r["op"], r["pass"]): r for r in record["records"]}
    profiles = [profile(recs[(q, 1)], recs[(q, 0)]) for q in pool]
    picks = {mod: op for mod, op in pick(profiles).items() if mod not in UNSAMPLED}
    chosen = [p for p in profiles if p["op"] in picks.values()]
    table = {"pool": mix(profiles), "sample": mix(chosen)}

    print(f"{len(pool)} pool queries measured in {time.monotonic() - t0:.0f} s; "
          f"{sum(not p['ok'] for p in profiles)} failed their check")
    for mod, op in picks.items():
        print(f"  {mod:16s} {op}")
    print(f"{'':28s} {'pool':>10s} {'sample':>10s}")
    for key in table["pool"]:
        print(f"{key:28s} {table['pool'][key]:10.3f} {table['sample'][key]:10.3f}")
    out = os.path.join(run.ROOT, ".perfbench", "results", f"sample-{args.workload}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"picks": picks, "mix": table, "profiles": profiles,
                   "host": record["host"]}, fh, indent=1)
    print(f"report in {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
