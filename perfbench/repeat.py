"""Counter repeatability report: which per-layer counters repeat exactly?

    python3 perfbench/repeat.py --workload llm_corpus --seed 1 [--seconds 10]

Runs two traced runs with the same seed and compares every per-op
counter between them, op by op and pass by pass. A counter that repeats
exactly on every op is one a later change may rest a count-based claim
on; a counter that drifts is listed with the ops it drifts on and its
largest relative drift. The report is printed and written to
`.perfbench/results/repeat-<workload>-seed<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench", "results")


def traced_run(workload: str, seed: int, seconds: str) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", "1"],
        check=True, stdout=subprocess.DEVNULL,
    )
    with open(os.path.join(RESULTS, f"{workload}-seed{seed}-trace1.json")) as fh:
        return json.load(fh)


def compare(a: dict, b: dict) -> dict:
    """Per counter: ops compared, ops that differ, largest relative drift."""
    recs_b = {(r["op"], r["pass"]): r for r in b["records"]}
    report: dict[str, dict] = {}
    for ra in a["records"]:
        rb = recs_b.get((ra["op"], ra["pass"]))
        if rb is None:
            continue
        ca, cb = ra.get("counters", {}), rb.get("counters", {})
        for key in sorted(set(ca) | set(cb)):
            va, vb = ca.get(key, 0.0), cb.get(key, 0.0)
            row = report.setdefault(key, {"ops": 0, "differ": [], "max_rel_drift": 0.0})
            row["ops"] += 1
            if va != vb:
                drift = abs(va - vb) / max(abs(va), abs(vb))
                row["differ"].append(f"{ra['op']}@{ra['pass']}")
                row["max_rel_drift"] = max(row["max_rel_drift"], drift)
    return report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", default="10")
    args = ap.parse_args()
    first = traced_run(args.workload, args.seed, args.seconds)
    second = traced_run(args.workload, args.seed, args.seconds)
    report = compare(first, second)
    exact = sorted(k for k, r in report.items() if not r["differ"])
    for key, row in sorted(report.items()):
        status = "exact" if not row["differ"] else (
            f"differs on {len(row['differ'])}/{row['ops']} ops, "
            f"max drift {row['max_rel_drift']:.2%}: {', '.join(row['differ'][:6])}")
        print(f"{key:36s} {status}")
    out = os.path.join(RESULTS, f"repeat-{args.workload}-seed{args.seed}.json")
    with open(out, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "exact": exact,
                   "counters": report}, fh, indent=1)
    print(f"{len(exact)}/{len(report)} counters repeat exactly; report in {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
