#!/usr/bin/env python
"""Batch-capture `.explain("formatted")` for registered queries.

    python tools/plansnap.py --out plans/r10 --suffix _before [query ...]

One Spark session for the whole sweep (tools/explain.py pays a session
per query). With no query args, snapshots every registered query.
Writes <out>/<query><suffix>.txt. Queries whose *construction* runs
driver-side jobs (iterative loops, trained models) still only pay plan
cost here — nothing is executed beyond what fn() itself triggers.

Ids that change from run to run (expression ids `#N`, exchange
`plan_id=N`, RDD ids `RDD[N]`, lambda variables `x_N`) are masked, so
two snapshot dirs compare with a plain `diff -r`.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_challenge_spark import registry
from data_engineering_challenge_spark.plans.checks import physical_plan
from data_engineering_challenge_spark.session import get_session

_RUN_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda \w+_)\d+"), r"\1N"),
)


def mask_run_ids(plan: str) -> str:
    for pattern, mask in _RUN_IDS:
        plan = pattern.sub(mask, plan)
    return plan


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="plans/r10")
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args(argv)

    spark = get_session("plansnap")
    os.makedirs(args.out, exist_ok=True)
    specs = registry.all_queries()
    names = args.queries or sorted(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    for name in names:
        registry.drain_cache_ledger()
        plan = mask_run_ids(
            physical_plan(specs[name].fn(spark, args.sf_dir), mode="formatted")
        )
        path = os.path.join(args.out, f"{name}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)
    registry.drain_cache_ledger()
    return 0


if __name__ == "__main__":
    sys.exit(main())
