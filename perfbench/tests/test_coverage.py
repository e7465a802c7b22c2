"""Every registered query is assigned to a workload on purpose.

A query sits in exactly one workload's pool (by the operator module
that defines it) or in `workloads.EXCLUDED` with a reason, and every
pool module has one query in its workload's sample, or sits in
`workloads.UNSAMPLED` with a reason. Registering a query
from a new module fails here until the module is given a pool and a
sampled query.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import workloads  # noqa: E402
from data_engineering_challenge_spark import registry  # noqa: E402


def _specs():
    return registry.all_queries()


def test_every_query_in_exactly_one_pool_or_excluded():
    unassigned, doubled = [], []
    for name, spec in _specs().items():
        owners = [w for w, mods in workloads.POOLS.items() if workloads.module_of(spec) in mods]
        if name in workloads.EXCLUDED:
            assert workloads.EXCLUDED[name].strip(), f"{name}: exclusion needs a reason"
        elif not owners:
            unassigned.append(name)
        elif len(owners) > 1:
            doubled.append((name, owners))
    assert not unassigned, f"queries in no workload pool and not excluded: {unassigned}"
    assert not doubled, f"queries in more than one pool: {doubled}"


def test_pools_name_only_registering_modules():
    modules = {workloads.module_of(s) for s in _specs().values()}
    stale = {m for mods in workloads.POOLS.values() for m in mods} - modules
    assert not stale, f"pool modules that register no query: {sorted(stale)}"
    assert set(workloads.UNSAMPLED) <= modules - stale
    assert all(r.strip() for r in workloads.UNSAMPLED.values()), "unsampled needs a reason"
    assert set(workloads.EXCLUDED) <= set(_specs()), "excluded names must be registered"


def test_samples_run_one_query_of_every_pool_module():
    specs = _specs()
    for workload, names in workloads.SAMPLE.items():
        modules = [workloads.module_of(specs[name]) for name in names]
        want = [m for m in workloads.POOLS[workload] if m not in workloads.UNSAMPLED]
        assert sorted(modules) == sorted(want), (
            f"{workload}: the sample must run exactly one query of each pool module")
        for name in names:
            assert name not in workloads.EXCLUDED, name
            assert specs[name].oracle, f"{name} has no oracle to check against"


def test_benchmark_json_agrees_with_the_code():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {w["name"] for w in bench["workloads"]}
    assert declared == set(workloads.POOLS) == set(workloads.SAMPLE) == set(workloads.WRITE_OPS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_inputs(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 7)
    b = datagen.generate(str(tmp_path / "b"), 7)
    c = datagen.generate(str(tmp_path / "c"), 8)
    assert _digest(a.root) == _digest(b.root)
    da, dc = _digest(a.root), _digest(c.root)
    seeded = {p for p in da if p.startswith(("csv/", "drops/"))}
    assert seeded and all(da[p] != dc[p] for p in seeded)
    assert {p: h for p, h in da.items() if p not in seeded} == {
        p: h for p, h in dc.items() if p not in seeded}, "tables must not depend on the seed"
    assert (a.tx_rows_in, a.tx_invalid_rows, a.docs_distinct_text) == (
        b.tx_rows_in, b.tx_invalid_rows, b.docs_distinct_text)
    assert 0 < a.tx_invalid_rows < 0.05 * a.tx_rows_in  # under the pipeline's gate
