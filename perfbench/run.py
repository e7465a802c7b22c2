"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload retail_olap --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, computes the DuckDB oracle fingerprints, starts the measured
process (`worker.py`), and prints one JSON line as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics (see README.md). Every file the run writes lives under
`.perfbench/` in the checkout; the per-run directory is deleted at the
end, and a full result record (host, per-op records, spans) is kept in
`.perfbench/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

DEADLINE_S = 170  # the whole run must end within 180 s

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "rows_per_s": "1/s", "stored_bytes_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    from workloads import POOLS, UNSAMPLED

    units = {
        "session.get_session_s": "s",
        "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
        "catalog.load_table_jobs": "count",
        "registry.fn_s": "s", "registry.fn_jobs": "count",
        "registry.track_persist_calls": "count", "registry.drain_cache_ledger_s": "s",
        "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
        "exec.collect_s": "s", "exec.jobs": "count", "exec.stages": "count",
        "exec.stages_skipped": "count", "exec.tasks": "count", "exec.task_run_s": "s",
        "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.input_mb": "MiB",
        "exec.shuffle_write_mb": "MiB", "exec.shuffle_read_mb": "MiB",
        "exec.spill_mb": "MiB", "exec.result_rows": "count",
        "python.data_sent_mb": "MiB", "python.data_received_mb": "MiB",
        "python.rows_received": "count",
    }
    for mod in sorted(m for mods in POOLS.values() for m in mods if m not in UNSAMPLED):
        units[f"operators.{mod}_s"] = "s"
    units.update({
        "sources.csv.ingest_csv_files_s": "s", "sources.csv.rows": "count",
        "sinks.write_s": "s", "sinks.files_written": "count",
        "sinks.bytes_written_mb": "MiB",
        "pipeline.run_pipeline.transactions_csv_s": "s",
        "pipeline.run_pipeline.clean_corpus_s": "s",
        "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
        "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
        "streaming.peak_state_mb": "MiB",
        "memory.peak_rss_mb": "MiB",
        "trace.wall_s": "s",
    })
    return units


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_record(seed: int, env: dict, java: str) -> dict:
    import duckdb
    import pyspark

    mem_kb = next(
        int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:")
    )
    return {
        "nproc": _cpus(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_LOCAL_DIRS": env["SPARK_LOCAL_DIRS"],
        "SPARK_GRAFT_DRIVER_MEM": env.get("SPARK_GRAFT_DRIVER_MEM", "16g (default)"),
        "driver_heap_exceeds_host": mem_kb < 16 * 2**20
        and "SPARK_GRAFT_DRIVER_MEM" not in env,
        "seed": seed,
        "commit": _commit(),
    }


def _commit() -> str | None:
    """The checkout's commit: from git when it is a repository, else None."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def child_env(run_dir: str) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_LOCAL_DIRS": f"{run_dir}/spark-local",
        "TMPDIR": f"{run_dir}/tmp",
        "SPARK_GRAFT_INDEX_DIR": f"{run_dir}/index",
        "SPARK_GRAFT_ORACLE_TMP": f"{run_dir}/duck",
        # the status store keeps every job and stage of a run, so the
        # per-layer counters never read an evicted one
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            f"--driver-java-options '-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData' "
            "pyspark-shell"
        ),
    })
    for d in ("spark-local", "tmp", "index", "duck"):
        os.makedirs(f"{run_dir}/{d}", exist_ok=True)
    return env


def run_child(spec: dict, env: dict, run_dir: str, timeout: float) -> dict:
    """Start worker.py in its own process group and kill what is left of
    the group when the worker exits or the time is up."""
    path = f"{spec['out']}.spec.json"
    with open(path, "w") as fh:
        json.dump(spec, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), path],
        env=env, cwd=run_dir, start_new_session=True,
        stdout=sys.stderr, stderr=sys.stderr,
    )
    code = None
    try:
        code = proc.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        pass
    finally:  # also on an interrupt: the worker's group must not outlive the run
        _reap_group(proc.pid)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"worker exited with {code}")
    with open(spec["out"]) as fh:
        return json.load(fh)


def _reap_group(pgid: int, grace_s: float = 10.0) -> None:
    """Kill a worker's process group (the worker, its JVM and Python
    workers) and wait until it has gone."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline:  # after that only unreaped zombies remain
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def warm_wall(records: list[dict]) -> float:
    """Wall time of one warm pass: the sum over queries of each one's
    median warm latency (robust to one slow execution of one query)."""
    by_op: defaultdict[str, list[float]] = defaultdict(list)
    for r in records:
        if r["pass"] > 0:
            by_op[r["op"]].append(r["wall_s"])
    return sum(statistics.median(v) for v in by_op.values())


def end_to_end(out: dict) -> dict:
    writes = [r for r in out["records"] if r["kind"] != "query"]
    sinking = [r for r in writes if r.get("bytes_in")]
    return {
        "setup_s": out["setup_s"],
        "cold_s": out["pass_s"][0],
        "rows_per_s": sum(r["rows_in"] for r in writes) / sum(r["wall_s"] for r in writes),
        "stored_bytes_ratio": sum(r["bytes_out"] for r in sinking)
        / sum(r["bytes_in"] for r in sinking),
    }


def per_layer(out: dict) -> dict:
    """Each counter's total over one warm pass of the queries plus the
    (single) runs of the write ops; the median over warm passes."""
    units = per_layer_units()
    writes: defaultdict[str, float] = defaultdict(float)
    by_pass: dict[int, defaultdict] = defaultdict(lambda: defaultdict(float))
    batches: list[float] = []
    for r in out["records"]:
        if r["kind"] == "query" and r["pass"] == 0:
            continue
        tot = by_pass[r["pass"]] if r["kind"] == "query" else writes
        for k, v in r.get("counters", {}).items():
            if k == "streaming.peak_state_mb":
                tot[k] = max(tot[k], v)
            else:
                tot[k] += v
        if r["kind"] == "query":
            tot[f"operators.{r['module']}_s"] += r["wall_s"]
        batches.extend(r.get("batch_ms", []))
    values = {}
    for name in units:
        vals = [by_pass[p].get(name, 0.0) for p in sorted(by_pass)]
        values[name] = statistics.median(vals) + writes.get(name, 0.0)
    values["session.get_session_s"] = out["setup_counts"].get("session.get_session_s", 0.0)
    values["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
    values["memory.peak_rss_mb"] = out["peak_rss_kb"] / 1024
    values["trace.wall_s"] = warm_wall(out["records"])
    return values


def measure(workload: str, seed: int, seconds: float, trace: int, queries: list[str],
            write_ops: list[str], deadline_s: float, artifacts_per_op: bool = False) -> dict:
    """Generate the inputs, compute the oracles, run the worker once and
    delete every file the run made; returns the full result record.
    `artifacts_per_op` gives every op its own derived-artifact directory,
    so an op's cold latency does not depend on the ops run before it."""
    import datagen
    import ops
    from workloads import ORACLE_AFTER_RUN

    t_begin = time.monotonic()
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        env = child_env(run_dir)
        os.environ["SPARK_GRAFT_ORACLE_TMP"] = env["SPARK_GRAFT_ORACLE_TMP"]
        t0 = time.perf_counter()
        inputs = datagen.generate(f"{run_dir}/inputs", seed)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        cache = os.path.join(base, "oracles")
        expected = ops.oracle_fingerprints(
            [q for q in queries if q not in ORACLE_AFTER_RUN], inputs.sf_dir, cache)
        oracle_s = time.perf_counter() - t0

        spec = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "queries": queries, "write_ops": write_ops, "artifacts_per_op": artifacts_per_op,
            "inputs": vars(inputs), "expected": expected,
            "scratch": f"{run_dir}/scratch", "out": f"{run_dir}/run.json",
        }
        out = run_child(spec, env, run_dir, deadline_s - (time.monotonic() - t_begin))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host": host_record(seed, env, out.pop("java")), "gen_s": gen_s, "oracle_s": oracle_s,
        "passes": len(out["pass_s"]), **out,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()

    try:
        import data_engineering_challenge_spark as engine
    except ImportError as e:
        print(f"perfbench: the engine package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the engine from {engine.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    from workloads import POOLS, SAMPLE, WRITE_OPS

    if args.workload not in POOLS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(POOLS)}",
              file=sys.stderr)
        return 2

    record = measure(args.workload, args.seed, args.seconds, args.trace,
                     list(SAMPLE[args.workload]), list(WRITE_OPS[args.workload]),
                     DEADLINE_S - (time.monotonic() - t_begin))
    failed = [r for r in record["records"] if r["error"]]
    for r in failed:
        print(f"perfbench: op {r['op']} (pass {r['pass']}) failed: {r['error']}",
              file=sys.stderr)
    if args.trace:
        metrics = per_layer(record)
        units = per_layer_units()
    else:
        metrics = end_to_end(record)
        units = END_TO_END
    record["metrics"] = metrics
    record["warm_wall_s"] = warm_wall(record["records"])
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results_dir, name), "w") as fh:
        json.dump(record, fh)
    warm = sum(1 for r in record["records"] if r["pass"] > 0)
    print(f"perfbench: {warm} warm ops over {record['passes'] - 1} warm passes; "
          f"host {json.dumps(record['host'])}", file=sys.stderr)
    if record["host"]["driver_heap_exceeds_host"]:
        print(f"perfbench: note: the default 16g driver heap exceeds this host's "
              f"{record['host']['mem_gb']} GB of memory", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(record["records"]),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
