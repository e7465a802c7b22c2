"""Big-SF dual-oracle gate for the bigram-LM trio (bigram_lm_score /
bigram_lm_frozen_score / incremental_lm_score).

    PYTHONPATH=/root/repo python tools/check_lm_bigsf.py <sf_dir> [slice_mod]

The registered oracle replays train-from-scratch AND re-scores the
whole corpus — it re-tokenizes the corpus twice, which is what forced
the sf100 ledger onto a 1/16 doc sample in round 9 (the ENGINE ran the
full 5M docs fine). This tool is the cheap second mode, the
tools/check_bpe_bigsf.py protocol generalized to a vocabulary-sized
artifact (the BPE merge table is inlined into SQL; the LM counts table
is read into DuckDB as a parquet view):

Part A — counts integrity, full corpus, ONE oracle tokenize:
  1. the ENGINE trains on the FULL corpus (load_lm_model publishes the
     versioned counts snapshot),
  2. DuckDB recounts the train split's bigrams from `documents` and
     FULL-OUTER-joins its recount against the engine's snapshot —
     mismatched/missing rows must be ZERO (kind 'g'/'p'/'v' rows all
     compared, so the context vocabulary is checked too).

Part B — held-out scoring against the frozen artifact:
  3. both engines score the content-hash doc slice (md5(doc_id) %
     slice_mod == 0, the check_bpe_bigsf sampling family) against the
     SAME stored counts, comparing per-doc (doc_bits, n_bigrams,
     flagged) exactly — strictly finer than the registered rollup,
     which is a pure aggregation of these rows.

Part C — incremental fold == full retrain:
  4. the engine folds frozen corpus-slice counts + fresh delta counts
     (the incremental_lm_score path), materializes the folded table,
     and DuckDB full-outer-joins it against the SAME full recount from
     Part A — zero mismatches proves the fold is bit-identical to a
     full retrain at this scale.

Together: training verified over the FULL corpus (A), scoring verified
exactly on held-out docs (B), the incremental path verified as a full
retrain (C) — with the oracle paying one full tokenize instead of two.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_engineering_challenge_spark import testing
from data_engineering_challenge_spark.catalog import load_table
from data_engineering_challenge_spark.operators.lm import (
    LM_FLAG_CENTIBITS,
    _folded_model,
    _train_counts,
    _bigram_stream,
    build_lm_corpus_counts,
    lm_counts_dir,
    lm_doc_scores,
    lm_model_dir,
    load_lm_model,
)
from data_engineering_challenge_spark.operators.pipeline_ops import (
    _SPLIT_CASE_SQL,
    _TOK_SQL,
    _gram_sql,
)
from data_engineering_challenge_spark.session import get_session
from data_engineering_challenge_spark.sinks.versioned import history

# One full-corpus train-split recount (kind, key, cnt) — the oracle's
# from-scratch model, tokenizing the corpus ONCE.
_RECOUNT_CTES = f"""
        docs AS (
            SELECT doc_id, {_SPLIT_CASE_SQL} AS split, {_gram_sql(2)} AS g2
            FROM documents WHERE len({_TOK_SQL}) >= 2
        ),
        stream AS (
            SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh,
                   ('0x' || substr(md5(split_part(g, ' ', 1)), 1, 15))::BIGINT AS ph
            FROM (SELECT split, unnest(g2) AS g FROM docs)
            WHERE split = 'train'
        ),
        rec AS (
            SELECT 'g' AS kind, gh AS key, COUNT(*)::BIGINT AS cnt
            FROM stream GROUP BY gh
            UNION ALL
            SELECT 'p', ph, COUNT(*)::BIGINT FROM stream GROUP BY ph
            UNION ALL
            SELECT 'v', 0::BIGINT, COUNT(DISTINCT ph)::BIGINT FROM stream
        )
"""


def _diff_counts_sql(model_view: str) -> str:
    """Zero iff the recount and the engine artifact agree row-for-row."""
    return f"""
        WITH {_RECOUNT_CTES}
        SELECT
            (SELECT COUNT(*) FROM rec) AS n_recount,
            (SELECT COUNT(*) FROM {model_view}) AS n_model,
            (SELECT COUNT(*) FROM rec r
             FULL OUTER JOIN {model_view} m
               ON r.kind = m.kind AND r.key = m.key
             WHERE r.cnt IS DISTINCT FROM m.cnt) AS n_mismatch
    """


def _slice_score_sql(model_view: str, slice_mod: int) -> str:
    """Per-doc integer-bits scores of the held-out slice against the
    ENGINE's stored counts (mirrors operators/lm.py lm_doc_scores)."""
    return f"""
        WITH docs AS (
            SELECT doc_id, source, {_SPLIT_CASE_SQL} AS split,
                   {_gram_sql(2)} AS g2
            FROM documents
            WHERE len({_TOK_SQL}) >= 2
              AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % {slice_mod} = 0
        ),
        stream AS (
            SELECT doc_id, source, split,
                   ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh,
                   ('0x' || substr(md5(split_part(g, ' ', 1)), 1, 15))::BIGINT AS ph
            FROM (SELECT doc_id, source, split, unnest(g2) AS g FROM docs)
        ),
        v AS (SELECT cnt AS vctx FROM {model_view} WHERE kind = 'v'),
        scored AS (
            SELECT s.doc_id, s.source, s.split,
                   CAST(length(format('{{:b}}', COALESCE(g.cnt, 0) + 1)) AS BIGINT)
                       AS lo_bits,
                   CAST(length(format('{{:b}}', COALESCE(p.cnt, 0) + v.vctx)) AS BIGINT)
                       AS hi_bits
            FROM stream s
            LEFT JOIN (SELECT key, cnt FROM {model_view} WHERE kind = 'g') g
                   ON s.gh = g.key
            LEFT JOIN (SELECT key, cnt FROM {model_view} WHERE kind = 'p') p
                   ON s.ph = p.key
            CROSS JOIN v
        )
        SELECT doc_id, source, split,
               SUM(hi_bits - lo_bits)::BIGINT AS doc_bits,
               COUNT(*)::BIGINT AS n_bigrams,
               (SUM(hi_bits - lo_bits) * 100 > {LM_FLAG_CENTIBITS} * COUNT(*))
                   AS flagged
        FROM scored GROUP BY doc_id, source, split
        ORDER BY doc_id
    """


def _snapshot_glob(table_dir: str) -> str:
    v = history(table_dir)["latest"]
    return os.path.join(table_dir, f"v={v}", "*.parquet")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    slice_mod = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    spark = get_session("check_lm_bigsf")
    con = testing.duckdb_con(sf_dir)
    failures = []

    # -- engine trains on the FULL corpus (publishes the snapshot) -----
    t0 = time.time()
    c12, c1, vctx = load_lm_model(spark, sf_dir)
    print(f"engine full-corpus train (stored model, vctx={vctx}): "
          f"{time.time() - t0:.1f}s")
    con.execute(
        "CREATE VIEW lm_model AS SELECT * FROM "
        f"read_parquet('{_snapshot_glob(lm_model_dir(sf_dir))}')"
    )

    # -- Part A: full-recount vs engine counts, inside DuckDB ----------
    t0 = time.time()
    n_rec, n_model, n_mm = con.execute(_diff_counts_sql("lm_model")).fetchone()
    print(f"A counts integrity: recount={n_rec} model={n_model} "
          f"mismatch={n_mm} ({time.time() - t0:.1f}s)")
    if n_mm != 0 or n_rec != n_model:
        failures.append(f"A: counts diverge (mismatch={n_mm})")

    # -- Part B: held-out slice scored by both engines -----------------
    in_slice = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % slice_mod
        == 0
    )
    t0 = time.time()
    slice_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(in_slice)
        .select("doc_id", "source", "text")
    )
    got = {
        r["doc_id"]: (r["source"], r["split"], r["doc_bits"], r["n_bigrams"], r["flagged"])
        for r in lm_doc_scores(slice_docs, c12, c1, vctx).collect()
    }
    t_engine = time.time() - t0
    t0 = time.time()
    want = {
        r[0]: (r[1], r[2], r[3], r[4], r[5])
        for r in con.execute(_slice_score_sql("lm_model", slice_mod)).fetchall()
    }
    print(f"B slice scoring: {len(got)} engine docs ({t_engine:.1f}s) vs "
          f"{len(want)} oracle docs ({time.time() - t0:.1f}s)")
    if got != want:
        diff = [d for d in set(got) & set(want) if got[d] != want[d]]
        failures.append(
            f"B: slice scores diverge (engine-only={len(set(got) - set(want))} "
            f"oracle-only={len(set(want) - set(got))} "
            f"first-diffs={[(d, got[d], want[d]) for d in sorted(diff)[:3]]})"
        )

    # -- Part C: incremental fold == full retrain ----------------------
    from data_engineering_challenge_spark.operators.dedup import is_delta_doc
    from data_engineering_challenge_spark.sinks.versioned import (
        ensure_snapshot,
        read_corpus_snapshot,
    )

    t0 = time.time()
    counts_dir = lm_counts_dir(sf_dir)
    ensure_snapshot(
        counts_dir, lambda: build_lm_corpus_counts(spark, sf_dir, counts_dir)
    )
    corpus_counts = read_corpus_snapshot(spark, counts_dir)
    delta_stream = _bigram_stream(spark, sf_dir).filter(is_delta_doc("doc_id"))
    folded = (
        corpus_counts.unionByName(_train_counts(delta_stream))
        .groupBy("kind", "key")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    fold_dir = os.path.join(
        tempfile.gettempdir(), f"lm_fold_check_{abs(hash(sf_dir)) % 10**8}"
    )
    folded.write.mode("overwrite").parquet(fold_dir)
    t_fold = time.time() - t0
    # the fold holds no 'v' row (vctx is DERIVED from folded c1) —
    # compare g/p rows, and vctx as a scalar
    con.execute(
        "CREATE VIEW lm_fold AS "
        f"SELECT * FROM read_parquet('{fold_dir}/*.parquet') "
        "UNION ALL "
        "SELECT 'v', 0::BIGINT, COUNT(*)::BIGINT "
        f"FROM read_parquet('{fold_dir}/*.parquet') WHERE kind = 'p'"
    )
    t0 = time.time()
    n_rec, n_fold, n_mm = con.execute(_diff_counts_sql("lm_fold")).fetchone()
    print(f"C incremental fold: engine fold {t_fold:.1f}s; "
          f"recount={n_rec} fold={n_fold} mismatch={n_mm} "
          f"({time.time() - t0:.1f}s)")
    if n_mm != 0 or n_rec != n_fold:
        failures.append(f"C: folded counts != full retrain (mismatch={n_mm})")

    if failures:
        print("\nFAIL:\n  " + "\n  ".join(failures))
        return 1
    print(f"\nlm dual-oracle OK: full-corpus counts integrity, "
          f"{len(got)} held-out docs scored identically (1/{slice_mod}), "
          f"incremental fold == full retrain")
    return 0


if __name__ == "__main__":
    sys.exit(main())
