"""The measured process: one fresh Python process driving one session.

    python perfbench/worker.py SPEC.json

`run.py` writes SPEC.json and starts this process. It sets up, runs one
cold pass over the workload's ops and then warm passes over its
queries, checks every output, and writes one JSON record per op.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def setup(spec: dict, tracer) -> tuple:
    """Session, JVM/codegen spin, table footers, Python worker pool and
    the registry import: everything before the first timed op."""
    from data_engineering_challenge_spark import catalog, registry, session

    spark = session.get_session("perfbench")
    if tracer is not None:
        tracer.spark = spark
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for df in catalog.load_tables(spark, spec["inputs"]["sf_dir"]).values():
        df.limit(1).collect()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(lambda it: (p for p in it), schema="id long").collect()
    queries = registry.spark_queries()
    return spark, queries, registry.all_queries()


def run_op(op, ctx, tracer, pass_no: int) -> dict:
    spark = ctx.spark
    spark.sparkContext.setJobGroup(f"q:{op.name}", op.name)
    rec = {"op": op.name, "kind": op.kind, "module": op.module, "pass": pass_no}
    if tracer is not None:
        tracer.take_counts()
        job0, stage0 = layers.next_job_id(spark), layers.next_stage_id(spark)
    res, error = None, None
    t0 = time.perf_counter()
    try:
        if tracer is None:
            res = op.run(ctx)
        else:
            with tracer.span("op", op=op.name, pass_no=pass_no):
                res = op.run(ctx, tracer)
    except Exception:
        error = traceback.format_exc(limit=3)
    rec["wall_s"] = time.perf_counter() - t0
    if tracer is not None:  # read before the check, whose jobs are not the op's
        c = tracer.take_counts()
        try:
            c.update(layers.exec_counters(spark, (job0, layers.next_job_id(spark)), stage0))
        except RuntimeError as e:
            error = error or f"per-layer counters are incomplete: {e}"
        if res is not None and op.kind == "query":
            c.update(layers.plan_counters(res.df))
        if res is not None:
            c.update(layers.stream_counters(res.progress))
        rec["counters"] = c
    if res is not None:
        try:
            error = op.check(ctx, res) or error
        except Exception:
            error = "check raised: " + traceback.format_exc(limit=3)
        rec.update(rows_in=res.rows_in, bytes_in=res.bytes_in, bytes_out=res.bytes_out)
        rec["batch_ms"] = layers.batch_ms(res.progress)
    rec["error"] = error
    return rec


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    tracer = layers.Tracer() if spec["trace"] else None
    if tracer is not None:
        layers.install(tracer)
        run_span = tracer.start("run", workload=spec["workload"], seed=spec["seed"])
    with (tracer.span("setup") if tracer else nullcontext()):
        spark, queries, specs = setup(spec, tracer)
    out = {"setup_s": time.perf_counter() - T_START}
    if tracer is not None:
        out["setup_counts"] = tracer.take_counts()
    out.update(run(spec, spark, queries, specs, tracer))
    out["peak_rss_kb"] = _vm_hwm_kb("self") + _vm_hwm_kb(_jvm_pid(spark))
    out["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    if tracer is not None:
        tracer.end(run_span)
        out["spans"] = tracer.spans
    with open(spec["out"], "w") as fh:
        json.dump(out, fh)
    # no spark.stop(): run.py kills this process group, JVM included, once
    # this process has exited, which is faster than a graceful shutdown
    sys.stderr.flush()
    os._exit(0)


def run(spec: dict, spark, queries, specs, tracer) -> dict:
    from datagen import Inputs
    from ops import Ctx, build_ops
    from workloads import PASS_SECONDS

    ctx = Ctx(spark, Inputs(**spec["inputs"]), spec["scratch"], spec["expected"])
    ops = build_ops(spec["queries"], spec["write_ops"], queries, specs)
    rng = random.Random(spec["seed"])
    index_dir = os.environ["SPARK_GRAFT_INDEX_DIR"]
    warm_passes = max(1, int(spec["seconds"] // PASS_SECONDS))
    records, passes = [], []
    for pass_no in range(1 + warm_passes):  # pass 0 is the cold pass
        # the queries in seeded order; in the cold pass the pipeline and
        # stream jobs follow them, also in seeded order, so a write op never
        # pays the first op's JIT spin. A write op runs once per process,
        # as deployed.
        order = [op for op in ops if op.kind == "query"]
        rng.shuffle(order)
        if pass_no == 0:
            writes = [op for op in ops if op.kind != "query"]
            rng.shuffle(writes)
            order += writes
        with (tracer.span("pass", pass_no=pass_no) if tracer else nullcontext()):
            for op in order:
                if spec["artifacts_per_op"]:  # each op builds its own artifacts
                    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(index_dir, op.name)
                rec = run_op(op, ctx, tracer, pass_no)
                records.append(rec)
                print(f"[perfbench] pass {pass_no} {op.name} {rec['wall_s']:.3f}s"
                      + (f" FAILED {rec['error']}" if rec["error"] else ""),
                      file=sys.stderr, flush=True)
        # the ops' own times: output checks and counter reads are excluded
        passes.append(sum(r["wall_s"] for r in records if r["pass"] == pass_no))
    return {"records": records, "pass_s": passes}


if __name__ == "__main__":
    main()
