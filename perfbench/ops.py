"""Ops: one registered query, one `pipeline.run_pipeline` call or one
streaming run, each with an output check.

`run` is the timed part. `check` runs after the timer stops and returns
an error string, or None when the output is right. Query outputs are
compared with their DuckDB oracle's strict fingerprint, computed before
the session starts; pipeline outputs with the facts the input generator
planted; streaming outputs with their batch twin.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import Counter

import duckdb

from datagen import Inputs, dir_bytes


class Ctx:
    """What every op needs: the session, the inputs, a scratch dir."""

    def __init__(self, spark, inputs: Inputs, scratch: str, expected: dict) -> None:
        self.spark = spark
        self.inputs = inputs
        self.scratch = scratch
        self.expected = expected
        self.twins: dict[str, list] = {}  # stream op -> batch twin fingerprint


class Result:
    """What an op hands to its check and to the metrics."""

    def __init__(self, df=None, rows=None, stats=None, progress=None) -> None:
        self.df = df
        self.rows = rows
        self.stats = stats or {}
        self.progress = progress or []
        self.rows_in = 0  # input rows of a write op
        self.bytes_in = 0  # input bytes of a sinking op
        self.bytes_out = 0  # bytes its sink holds afterwards


def _fp(cols: list[str], rows: list[tuple]) -> list:
    from data_engineering_challenge_spark import testing

    n, h = testing.fingerprint(list(cols), rows)
    return [sorted(cols), n, h]


# --------------------------------------------------------------------------
# registered queries
# --------------------------------------------------------------------------


class QueryOp:
    kind = "query"

    def __init__(self, name: str, fn, module: str) -> None:
        self.name, self.fn, self.module = name, fn, module

    def run(self, ctx: Ctx, tracer=None) -> Result:
        if tracer is None:
            df = self.fn(ctx.spark, ctx.inputs.sf_dir)
            return Result(df=df, rows=df.collect())
        with tracer.span("registry.fn", op=self.name) as s:
            jobs0 = tracer.job_count()
            df = self.fn(ctx.spark, ctx.inputs.sf_dir)
        tracer.add("registry.fn_s", s.seconds)
        tracer.add("registry.fn_jobs", tracer.job_count() - jobs0)
        with tracer.span("exec.collect", op=self.name) as s:
            rows = df.collect()
        tracer.add("exec.collect_s", s.seconds)
        tracer.add("exec.result_rows", len(rows))
        return Result(df=df, rows=rows)

    def check(self, ctx: Ctx, res: Result) -> str | None:
        from workloads import ORACLE_AFTER_RUN

        if self.name in ORACLE_AFTER_RUN and self.name not in ctx.expected:
            ctx.expected.update(oracle_fingerprints([self.name], ctx.inputs.sf_dir))
        want = ctx.expected.get(self.name)
        got = _fp(res.df.columns, [tuple(r) for r in res.rows])
        if want != got:
            return f"fingerprint {got} != oracle {want}"
        return None


def oracle_fingerprints(names: list[str], sf_dir: str, cache_dir: str | None = None
                        ) -> dict[str, list]:
    """Strict DuckDB fingerprints of the named queries' oracles.

    With `cache_dir`, a fingerprint is kept under a key made of the
    oracle's SQL, the bytes of every table in `sf_dir`, the oracle
    harness (`testing.py`) and the DuckDB version, and reused by later
    runs whose key is the same."""
    from data_engineering_challenge_spark import registry, testing

    specs = registry.all_queries()
    base = hashlib.sha256(duckdb.__version__.encode())
    if cache_dir is not None:
        os.makedirs(cache_dir, exist_ok=True)
        for path in [testing.__file__, *sorted(
                os.path.join(d, f) for d, _, fs in os.walk(sf_dir) for f in fs)]:
            with open(path, "rb") as fh:
                base.update(path.rsplit(os.sep, 2)[-1].encode() + fh.read())
    out, con = {}, None
    for name in names:
        key = base.copy()
        key.update(specs[name].oracle.encode())
        cached = cache_dir and os.path.join(cache_dir, f"{name}-{key.hexdigest()[:24]}.json")
        if cached and os.path.exists(cached):
            with open(cached) as fh:
                out[name] = json.load(fh)
            continue
        con = con or testing.duckdb_con(sf_dir)
        out[name] = _fp(*testing.run_oracle(con, specs[name].oracle))
        if cached:
            with open(cached + ".tmp", "w") as fh:
                json.dump(out[name], fh)
            os.replace(cached + ".tmp", cached)
    if con is not None:
        con.close()
    return out


# --------------------------------------------------------------------------
# pipelines
# --------------------------------------------------------------------------


def _split_of(doc_id: int) -> str:
    """pipeline._stable_split, recomputed independently."""
    b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10
    return "train" if b < 8 else "val" if b == 8 else "test"


class PipelineOp:
    kind = "pipeline"

    def __init__(self, name: str) -> None:
        self.name = name
        self.module = "pipeline"

    def config(self, ctx: Ctx) -> dict:
        inp, out = ctx.inputs, os.path.join(ctx.scratch, "sinks", self.name)
        if self.name == "etl.transactions_csv":
            return {
                "source": {"format": "csv", "table": "transactions",
                           "paths": inp.csv_paths, "sep": "|"},
                "validate": {"table": "transactions", "max_invalid_fraction": 0.05,
                             "drop_invalid": True},
                "dedup": {"keys": ["numero_transaction"]},
                "sink": {"mode": "partitioned", "path": out,
                         "partition_col": "date_transaction"},
            }
        if self.name == "etl.clean_corpus":
            return {
                "source": {"format": "parquet",
                           "path": os.path.join(inp.sf_dir, "documents.parquet")},
                "dedup": {"keys": ["text"]},
                "split": {"key": "doc_id", "column": "split"},
                "sink": {"mode": "zorder", "path": out,
                         "cols": ["doc_id", "n_chars"], "n_files": 4},
            }
        raise ValueError(self.name)

    def run(self, ctx: Ctx, tracer=None) -> Result:
        from data_engineering_challenge_spark import pipeline

        cfg = self.config(ctx)
        if tracer is None:
            stats = pipeline.run_pipeline(ctx.spark, cfg)
        else:
            with tracer.span("pipeline.run_pipeline", op=self.name) as s:
                stats = pipeline.run_pipeline(ctx.spark, cfg)
            tracer.add(f"pipeline.run_pipeline.{self.name.split('.', 1)[1]}_s", s.seconds)
        res = Result(stats=stats)
        res.rows_in = stats["rows_in"]
        res.bytes_in = ctx.inputs.input_bytes[self.name]
        res.bytes_out = dir_bytes(cfg["sink"]["path"])
        if tracer is not None and self.name == "etl.transactions_csv":
            tracer.add("sources.csv.rows", stats["rows_in"])
        return res

    def check(self, ctx: Ctx, res: Result) -> str | None:
        inp, st = ctx.inputs, res.stats
        sink = self.config(ctx)["sink"]["path"]
        if self.name == "etl.transactions_csv":
            want = {"rows_in": inp.tx_rows_in, "invalid_rows": inp.tx_invalid_rows,
                    "rows_out": len(inp.tx_expected)}
            got = {k: st.get(k) for k in want}
            if got != want:
                return f"stats {got} != {want}"
            rows = duckdb.sql(
                "SELECT numero_transaction, point_de_vente, CAST(date_transaction AS VARCHAR),"
                " quantite_vendue, CAST(ca_net_ttc AS VARCHAR), CAST(ca_net_ht AS VARCHAR),"
                " CAST(marge_nette_magasin AS VARCHAR)"
                f" FROM read_parquet('{sink}/**/*.parquet', hive_partitioning = true)"
            ).fetchall()
            got_rows = sorted(tuple("<null>" if v is None else v for v in r) for r in rows)
            if got_rows != [tuple(r) for r in inp.tx_expected]:  # lists after JSON
                return "sink rows differ from the generated clean rows"
            return None
        # etl.clean_corpus
        if (st.get("rows_in"), st.get("rows_out")) != (inp.docs_in, inp.docs_distinct_text):
            return (f"rows_in/rows_out {st.get('rows_in')}/{st.get('rows_out')} != "
                    f"{inp.docs_in}/{inp.docs_distinct_text}")
        rows = duckdb.sql(
            f"SELECT doc_id, text, split FROM read_parquet('{sink}/*.parquet')"
        ).fetchall()
        if len({r[1] for r in rows}) != len(rows) or len(rows) != inp.docs_distinct_text:
            return "sink texts are not the distinct input texts"
        if any(_split_of(d) != s for d, _, s in rows):
            return "sink split column differs from the stable split of doc_id"
        if st.get("split_counts") != dict(Counter(r[2] for r in rows)):
            return f"split_counts {st.get('split_counts')} differ from the sink"
        return None


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------


class StreamOp:
    """Replay a drop directory (one file per trigger) to completion."""

    kind = "stream"

    def __init__(self, name: str) -> None:
        self.name = name
        self.module = "streaming"
        self._runs = 0

    def _frame(self, ctx: Ctx, streaming: bool):
        from pyspark.sql import functions as F

        from data_engineering_challenge_spark.streaming import pipelines as P

        spark, inp = ctx.spark, ctx.inputs
        P.apply_streaming_confs(spark)
        drops = inp.doc_drops if self.name == "stream.landing_dedup" else inp.event_drops
        schema = spark.read.parquet(drops).schema
        raw = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(drops)
            if streaming
            else spark.read.schema(schema).parquet(drops)
        )
        if self.name == "stream.landing_dedup":
            return P.landing_dedup_transform(spark, inp.sf_dir, raw), "append"
        raw = raw.withColumn("ts", F.to_timestamp("ts"))
        if self.name == "stream.hourly_counts":
            return P.hourly_counts_transform(raw), "complete"
        deduped = raw.withWatermark("ts", P.WATERMARK).dropDuplicates(["event_id"])
        return deduped.withColumn("ts", F.col("ts").cast("timestamp_ntz")), "append"

    def run(self, ctx: Ctx, tracer=None) -> Result:
        self._runs += 1
        qname = f"{self.name.replace('.', '_')}_{self._runs}"
        ckpt = os.path.join(ctx.scratch, "checkpoints", qname)
        df, mode = self._frame(ctx, streaming=True)
        q = (
            df.writeStream.outputMode(mode).format("memory").queryName(qname)
            .option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
            progress = list(q.recentProgress)
        finally:
            q.stop()
        out = ctx.spark.table(qname)
        res = Result(df=out, rows=out.collect(), progress=progress)
        ctx.spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt, ignore_errors=True)
        res.rows_in = sum(p.get("numInputRows", 0) for p in progress)
        return res

    def check(self, ctx: Ctx, res: Result) -> str | None:
        if self.name not in ctx.twins:
            twin, _ = self._frame(ctx, streaming=False)
            ctx.twins[self.name] = _fp(twin.columns, [tuple(r) for r in twin.collect()])
        got = _fp(res.df.columns, [tuple(r) for r in res.rows])
        if got != ctx.twins[self.name]:
            return f"stream sink {got} != batch twin {ctx.twins[self.name]}"
        return None


def build_ops(query_names: list[str], write_ops: list[str], queries: dict, specs: dict) -> list:
    from workloads import module_of

    ops: list = [QueryOp(n, queries[n], module_of(specs[n])) for n in query_names]
    for name in write_ops:
        ops.append(StreamOp(name) if name.startswith("stream.") else PipelineOp(name))
    return ops
