"""Declarative end-to-end pipeline runner: one config dict drives
source → clean → validate → dedup → split → sink.

The reference's orchestration is a hard-coded two-table loader
(src/etl/ingest/data_loader.py + src/db/pipeline.py:264-309 — per-file
options, ordered loads, stats dict). This generalizes it to the
pipeline a training-data team actually runs, while staying declarative
so every stage remains a Catalyst-planned DataFrame transform — the
config picks WHAT runs; Spark still decides HOW.

Config schema (all stages optional except source/sink):

    {
      "source":   {"format": "parquet"|"csv"|"synthetic", ...},
      "clean":    {"table": "transactions"},        # schema registry key
      "validate": {"table": "transactions",         # regex contracts
                   "max_invalid_fraction": 0.05},   # fail gate
      "dedup":    {"keys": ["col", ...]},           # exact, keyed
      "span_dedup": true,                           # exact-span rewrite
      "quality_filter": {"min_score": 0.5},         # trained probe
      "split":    {"column": "split", "key": "id"}, # stable 8/1/1
      "sink":     {"mode": "plain"|"partitioned"|"zorder",
                   "path": ..., ...},
    }

A config with a top-level "incremental" key instead runs the nightly
index lifecycle (delta-probe → fold → vacuum) — see _run_incremental.

Every stage reports into the returned stats dict (rows in/out, invalid
counts, output files) — the reference's load-stats surface, widened.

Scale notes: stages compose lazily. A validated source is cached once
(memory and disk, released when the run ends, a failed gate included):
the one stats aggregate (rows in, invalid rows, per-column counts) and
the write both read it, so the source is parsed and cleaned once, and
the cleaning projection is compiled once, instead of once per action.
Re-parsing a CSV batch and re-running every regex contract costs more
than one cache write and read, at any scale. A source without
`validate` is read by one count and the write, uncached. Exact dedup is
a hash shuffle on the key columns; the split is a content-hash
expression (no shuffle); sinks inherit the partitioned/Z-order write
paths' properties; the sink is read back once for `rows_out` (and the
split counts).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .operators.validation import validation_pass
from .sinks.maintenance import write_zordered
from .sinks.writers import write_partitioned_parquet
from .sources.csv import ingest_csv_files
from .sources.synthetic import SyntheticDocsDataSource

_TABLES = {
    "transactions": (schemas.TRANSACTIONS_SCHEMA, schemas.TRANSACTIONS_PATTERNS),
    "products": (schemas.PRODUCT_SCHEMA, schemas.PRODUCT_PATTERNS),
}


def _read(spark: SparkSession, cfg: dict[str, Any]) -> DataFrame:
    fmt = cfg["format"]
    if fmt == "parquet":
        return spark.read.parquet(cfg["path"])
    if fmt == "csv":
        schema, _ = _TABLES[cfg["table"]]
        return ingest_csv_files(
            spark,
            cfg["paths"],
            schema,
            sep=cfg.get("sep", "|"),
            add_surrogate_key=cfg.get("surrogate_key"),
        )
    if fmt == "synthetic":
        spark.dataSource.register(SyntheticDocsDataSource)
        reader = spark.read.format("synthetic_docs")
        for k in ("n_docs", "n_partitions"):
            if k in cfg:
                reader = reader.option(k, cfg[k])
        return reader.load()
    raise ValueError(f"unknown source format: {fmt}")


def _stable_split(df: DataFrame, key: str, out_col: str) -> DataFrame:
    """Deterministic 8/1/1 train/val/test split by content hash of the
    key column — engine- and partitioning-stable, unlike seeded
    sample()."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(key).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    split = F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    return df.withColumn(out_col, split)


def _run_incremental(spark: SparkSession, cfg: dict[str, Any]) -> dict[str, Any]:
    """The nightly incremental lifecycle as ONE declarative stage:
    for each configured index kind, probe the delta batch against the
    FROZEN index snapshot, persist the probe report, fold the delta
    into snapshot v+1 (idempotent — re-running a night replaces the
    delta rows instead of double-counting), then vacuum old versions.

    Config:
        {"incremental": {
            "sf_dir": "...",                  # corpus + delta source
            "indexes": ["span", "minhash"],   # which index families
            "probe_out": "...",               # probe reports land here
            "vacuum_keep": 2                  # snapshot retention
        }}

    Scale: probe cost is O(delta) tokenization + a distinct-gram /
    signature index scan per family (never O(corpus)); fold appends
    delta-sized rows; vacuum is metadata-first then parallel deletes.
    """
    import os

    from .operators import dedup, lm, multimodal as mm, quality_probe as qp
    from .operators import span_dedup as sd
    from .sinks.versioned import history, vacuum_snapshots

    # kind -> (index dir, probe query, fold); every probe builds its own
    # index on first use
    kinds = {
        "span": (
            sd.span_index_dir, sd.incremental_duplicate_spans, sd.extend_span_index
        ),
        "minhash": (
            dedup.minhash_index_dir, dedup.incremental_dedup, dedup.extend_minhash_index
        ),
        # quality / lm probes: the refreshed model (frozen corpus
        # moments/counts + fresh delta ones — bit-identical to a retrain)
        "quality": (
            qp.quality_moments_dir, qp.incremental_quality_weights, qp.extend_quality_moments
        ),
        "lm": (lm.lm_counts_dir, lm.incremental_lm_score, lm.extend_lm_counts),
        **{k.name: (k.index_dir, k.incremental_pairs, k.extend_index) for k in mm.FP_KINDS},
    }
    sf_dir = cfg["sf_dir"]
    keep = cfg.get("vacuum_keep", 2)
    stats: dict[str, Any] = {}
    for kind in cfg.get("indexes", ("span", "minhash")):
        if kind not in kinds:
            raise ValueError(f"unknown incremental index kind: {kind}")
        index_dir, probe_fn, extend_fn = kinds[kind]
        table_dir = index_dir(sf_dir)
        probe = probe_fn(spark, sf_dir)
        out_path = os.path.join(cfg["probe_out"], kind)
        probe.write.mode("overwrite").parquet(out_path)
        probe_rows = spark.read.parquet(out_path).count()
        version = extend_fn(spark, sf_dir, table_dir)
        vacuumed = vacuum_snapshots(table_dir, keep_last=keep)
        stats[kind] = {
            "probe_rows": probe_rows,
            "probe_path": out_path,
            "index_version": version,
            "vacuumed_versions": vacuumed,
            "versions_retained": history(table_dir)["versions"],
        }
    return stats


def run_pipeline(spark: SparkSession, config: dict[str, Any]) -> dict[str, Any]:
    """Execute the configured pipeline; returns per-stage stats."""
    if "incremental" in config:
        return _run_incremental(spark, config["incremental"])
    src = _read(spark, config["source"])
    v = config.get("validate")
    if not v:
        return _run_stages(spark, src, config, {"rows_in": src.count()})
    # the stats pass and the write both read the source: cache it so the
    # parse and the cleaning projection run (and compile) once, and
    # release it on every exit, a failed gate included
    src.persist()
    try:
        _, patterns = _TABLES[v["table"]]
        stats, bad_row = validation_pass(src, patterns)
        gate = v.get("max_invalid_fraction")
        if gate is not None and stats["rows_in"] > 0:
            frac = stats["invalid_rows"] / stats["rows_in"]
            stats["invalid_fraction"] = frac
            if frac > gate:
                raise ValueError(
                    f"validation gate failed: {frac:.4f} invalid > {gate}"
                )
        df = src.filter(~bad_row) if v.get("drop_invalid") else src
        return _run_stages(spark, df, config, stats)
    finally:
        src.unpersist()


def _run_stages(
    spark: SparkSession, df: DataFrame, config: dict[str, Any], stats: dict[str, Any]
) -> dict[str, Any]:
    """The stages after validation: dedup → span dedup → quality filter
    → split → sink, then the sink read back for `rows_out`."""
    d = config.get("dedup")
    if d:
        df = df.dropDuplicates(d["keys"])

    sd = config.get("span_dedup")
    if sd:
        # exact-span rewrite (Lee et al. ExactSubstr) as a corpus
        # stage: cut every non-owner duplicated span, keep the doc,
        # thread the cleaned text back into the pipeline frame.
        # Requires the corpus shape (doc_id, source, text).
        from .operators.span_dedup import apply_span_removal

        rewritten = apply_span_removal(df.select("doc_id", "source", "text"))
        cut = rewritten.agg(
            F.coalesce(F.sum("tokens_removed"), F.lit(0)).alias("t"),
            F.count(F.when(F.col("tokens_removed") > 0, True)).alias("d"),
        ).collect()[0]
        stats["span_tokens_removed"] = cut["t"]
        stats["span_docs_cut"] = cut["d"]
        df = df.drop("text").join(rewritten.select("doc_id", "text"), "doc_id")
        if "n_chars" in df.columns:  # keep derived length consistent
            df = df.withColumn("n_chars", F.length("text").cast("long"))

    q = config.get("quality_filter")
    if q:
        # trained-probe corpus filter (the CCNet/DCLM stage): fit the
        # ridge probe on this frame's labels, score every doc with the
        # frozen weights, keep docs at or above the threshold.
        from .operators.quality_probe import (
            SCORE_THRESHOLD,
            _spark_features,
            _spark_score,
            train_quality_probe,
        )

        w = train_quality_probe(_spark_features(df))
        thr = q.get("min_score", SCORE_THRESHOLD)
        kept_ids = (
            _spark_score(_spark_features(df), w)
            .filter(F.col("score") >= thr)
            .select("doc_id")
        )
        before = df.count()
        df = df.join(kept_ids, "doc_id", "semi")
        stats["quality_weights"] = w
        stats["quality_dropped"] = before - df.count()

    s = config.get("split")
    if s:
        df = _stable_split(df, s["key"], s.get("column", "split"))

    sink = config["sink"]
    mode = sink.get("mode", "plain")
    if mode == "partitioned":
        write_partitioned_parquet(df, sink["path"], sink["partition_col"])
    elif mode == "zorder":
        write_zordered(df, sink["path"], sink["cols"], n_files=sink.get("n_files", 8))
    elif mode == "plain":
        df.write.mode("overwrite").parquet(sink["path"])
    else:
        raise ValueError(f"unknown sink mode: {mode}")

    out = spark.read.parquet(sink["path"])
    if not s:
        stats["rows_out"] = out.count()
        return stats
    # one read-back job: groupBy keeps a null group, so the group
    # counts sum to the row count
    col = s.get("column", "split")
    counts = {r[col]: r["count"] for r in out.groupBy(col).count().collect()}
    stats["rows_out"] = sum(counts.values())
    stats["split_counts"] = counts
    return stats
