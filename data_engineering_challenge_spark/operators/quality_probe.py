"""Trained quality classifier — the CCNet/DCLM-style corpus filter.

The triage surface so far (`doc_quality`, `source_quality_rollup`,
`rare_token_profile`) is all fixed heuristics; production pretraining
pipelines filter with a TRAINED model: featurize every document, fit a
probe against a labeled gold set, store the weights as a versioned
artifact, and score the corpus with the frozen model (CCNet's
wiki-vs-crawl LM filter; DCLM's fastText classifier). This module is
that stage as one exact, engine-parity linear probe:

1. **Featurize** — k=7 integer signals per doc (intercept, token/char/
   unique/stopword/foreign-marker counts, max token length), all pure
   JVM column math shared with the heuristic operators.
2. **Accumulate** — X^T X and X^T y in ONE aggregation: k(k+1)/2 + k
   scalar sums of integer products, accumulated as DECIMAL(38,0) so
   the result is exact and identical under any partitioning/order,
   then cast to DOUBLE (values ≪ 2^53 ⇒ the cast is exact too).
3. **Solve** — ridge-regularized normal equations (A = X^T X + λI)
   by Cholesky on the driver: k×k is 7×7, an SF-independent scalar
   decision — the one place driver-side math is the right call. The
   DuckDB oracle solves the SAME system with a generated unrolled
   CTE chain whose operation order matches ``_chol_py`` step for
   step, so the weights are bit-identical across engines (pinned by
   50-system property test in tests/test_quality_probe.py).
4. **Publish** — weights become a versioned snapshot (the
   `build_pq_index` protocol, sinks/versioned.py): scoring always
   reads a FROZEN model, never retrains implicitly.
5. **Score** — one broadcast-free pass; score = w·x in a fixed
   association order mirrored by the oracle.

Labels here are `lang = 'en'` — the "docs from the target
distribution" gold set (the fixture ships no human quality labels);
the operator seam is label-agnostic and the planted-corpus separation
gate proves the probe actually learns (tests/test_quality_probe.py).

At 100 TB: featurize+accumulate is one map-side-combining pass (the
wire cost is k(k+1)/2+k decimals per partition), the solve is O(k³)
on the driver, scoring is another embarrassingly parallel pass.
No reference counterpart (the reference has no ML surface); modeled
on CCNet (Wenzek et al. 2020) §4.3 and DCLM (Li et al. 2024) §4.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.text import NORM_SQL, count_in_set, normalize_text
from ..registry import register
from .text_analysis import LANG_MARKERS, STOPWORDS

RIDGE = 1.0  # λ on every diagonal entry (keeps A SPD on degenerate corpora)
SCORE_THRESHOLD = 0.5  # ≥ ½ ⇒ predicted in-distribution
SAMPLE_MOD = 97  # per-doc score sample: doc_id % 97 == 0
_FEATV = 1  # bump when FEATURES change → fresh snapshot fingerprint

_FOREIGN = tuple(
    w for lang, words in sorted(LANG_MARKERS.items()) if lang != "en" for w in words
)
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)
_FOREIGN_SQL = ", ".join(f"'{w}'" for w in _FOREIGN)

# (name, DuckDB SQL over the f CTE's (nrm, toks), Spark Column over
# the staged (nrm, t) projection). All BIGINT — exactness relies on it.
FEATURES: tuple[tuple[str, str, object], ...] = (
    ("intercept", "1::BIGINT", lambda: F.lit(1).cast("long")),
    ("n_tokens", "len(toks)::BIGINT", lambda: F.size("t").cast("long")),
    ("n_chars", "length(nrm)::BIGINT", lambda: F.length("nrm").cast("long")),
    (
        "n_unique",
        "len(list_distinct(toks))::BIGINT",
        lambda: F.size(F.array_distinct("t")).cast("long"),
    ),
    (
        "n_stop",
        f"len(list_filter(toks, x -> x IN ({_STOP_SQL})))::BIGINT",
        lambda: count_in_set(F.col("t"), STOPWORDS).cast("long"),
    ),
    (
        "n_foreign",
        f"len(list_filter(toks, x -> x IN ({_FOREIGN_SQL})))::BIGINT",
        lambda: count_in_set(F.col("t"), _FOREIGN).cast("long"),
    ),
    (
        "max_tok_len",
        "list_max(list_transform(toks, x -> length(x)))::BIGINT",
        lambda: F.array_max(F.transform(F.col("t"), lambda x: F.length(x))).cast(
            "long"
        ),
    ),
)
K = len(FEATURES)
_LABEL_SQL = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------------
# Shared solve spec: one generator emits the SQL steps, one Python twin
# replays them — SAME operation order, so doubles match bit for bit.


def _chol_steps(k: int = K) -> list[tuple[str, str]]:
    """(alias, sql) steps of the unrolled Cholesky solve over moment
    columns a_i_j (i ≤ j) and b_i. Each step references only earlier
    aliases; left-associated subtraction chains mirror ``_chol_py``."""
    out = []
    for i in range(k):
        for j in range(i + 1):
            expr = f"a_{j}_{i}"
            for t in range(j):
                expr = f"({expr} - l_{i}_{t} * l_{j}_{t})"
            out.append(
                (f"l_{i}_{j}", f"sqrt({expr})" if j == i else f"({expr} / l_{j}_{j})")
            )
    for i in range(k):
        expr = f"b_{i}"
        for t in range(i):
            expr = f"({expr} - l_{i}_{t} * z_{t})"
        out.append((f"z_{i}", f"({expr} / l_{i}_{i})"))
    for i in reversed(range(k)):
        expr = f"z_{i}"
        for t in range(i + 1, k):
            expr = f"({expr} - l_{t}_{i} * w_{t})"
        out.append((f"w_{i}", f"({expr} / l_{i}_{i})"))
    return out


def _chol_py(a: list[list[float]], b: list[float]) -> list[float]:
    """Driver-side twin of ``_chol_steps`` — identical op order."""
    k = len(b)
    l = [[0.0] * k for _ in range(k)]
    for i in range(k):
        for j in range(i + 1):
            acc = a[j][i]
            for t in range(j):
                acc = acc - l[i][t] * l[j][t]
            l[i][j] = math.sqrt(acc) if j == i else acc / l[j][j]
    z: list[float] = []
    for i in range(k):
        acc = b[i]
        for t in range(i):
            acc = acc - l[i][t] * z[t]
        z.append(acc / l[i][i])
    w = [0.0] * k
    for i in reversed(range(k)):
        acc = z[i]
        for t in range(i + 1, k):
            acc = acc - l[t][i] * w[t]
        w[i] = acc / l[i][i]
    return w


def _feat_sql(docs_rel: str = "documents") -> str:
    """CTE chain text: f (normalize/tokenize once) → x (label + k
    feature columns)."""
    feats = ", ".join(sql + f" AS x_{i}" for i, (_, sql, _) in enumerate(FEATURES))
    return f"""f AS (
            SELECT doc_id, lang, {NORM_SQL} AS nrm,
                   string_split({NORM_SQL}, ' ') AS toks
            FROM {docs_rel}
        ), x AS (
            SELECT doc_id, {_LABEL_SQL} AS y, {feats} FROM f
        )"""


def _mom_sql() -> str:
    """mom CTE: exact decimal moment sums cast to double, ridge on the
    diagonal. COALESCE(0) covers the empty corpus (A degrades to λI)."""
    cols = []
    for i in range(K):
        for j in range(i, K):
            s = f"COALESCE(SUM(x_{i}::DECIMAL(38,0) * x_{j}), 0)::DOUBLE"
            if i == j:
                s = f"({s} + {RIDGE!r})"
            cols.append(f"{s} AS a_{i}_{j}")
        cols.append(f"COALESCE(SUM(x_{i}::DECIMAL(38,0) * y), 0)::DOUBLE AS b_{i}")
    return f"mom AS (SELECT {', '.join(cols)} FROM x)"


def _solve_sql() -> tuple[str, str]:
    """(cte_chain, last_name): chained one-scalar-per-CTE Cholesky —
    a single SELECT with lateral aliases would substitute the shared
    subtrees exponentially; a CTE chain keeps growth linear."""
    ctes, prev = [], "mom"
    for n, (alias, sql) in enumerate(_chol_steps()):
        name = f"c_{n}"
        ctes.append(f"{name} AS (SELECT *, {sql} AS {alias} FROM {prev})")
        prev = name
    return ", ".join(ctes), prev


def _wts_sql() -> str:
    """Full training replay ending in wts(w_0..w_{K-1}) — what the
    oracle uses instead of reading the engine's snapshot artifact."""
    chain, last = _solve_sql()
    ws = ", ".join(f"w_{i}" for i in range(K))
    return f"{_feat_sql()}, {_mom_sql()}, {chain}, wts AS (SELECT {ws} FROM {last})"


def _score_sql() -> str:
    """score expression over x (feature cols) ⨯ wts, fixed association:
    ((w_0·x_0 + w_1·x_1) + …) — mirrored by the Spark literal chain."""
    expr = "(w_0 * x_0)"
    for i in range(1, K):
        expr = f"({expr} + (w_{i} * x_{i}))"
    return expr


def _spark_features(docs: DataFrame) -> DataFrame:
    """(doc_id, y, x_0..x_{K-1}) — normalize/tokenize once, staged."""
    staged = docs.select(
        "doc_id", "lang", normalize_text(F.col("text")).alias("nrm")
    ).select("doc_id", "lang", "nrm", F.split("nrm", " ").alias("t"))
    cols = [
        (F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("y"),
        *[fn().alias(f"x_{i}") for i, (_, _, fn) in enumerate(FEATURES)],
    ]
    return staged.select("doc_id", *cols)


def train_quality_probe(feats: DataFrame) -> list[float]:
    """Fit the ridge probe on a feature frame: one exact aggregation
    (k(k+1)/2 + k decimal sums — SF-independent driver decision), then
    the driver-side Cholesky. Returns the K weights."""
    aggs = []
    for i in range(K):
        for j in range(i, K):
            aggs.append(
                F.coalesce(
                    F.sum(F.col(f"x_{i}").cast("decimal(38,0)") * F.col(f"x_{j}")),
                    F.lit(0).cast("decimal(38,0)"),
                )
                .cast("double")
                .alias(f"a_{i}_{j}")
            )
        aggs.append(
            F.coalesce(
                F.sum(F.col(f"x_{i}").cast("decimal(38,0)") * F.col("y")),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("double")
            .alias(f"b_{i}")
        )
    row = feats.agg(*aggs).collect()[0]
    a = [[0.0] * K for _ in range(K)]
    b = [0.0] * K
    for i in range(K):
        for j in range(i, K):
            a[i][j] = a[j][i] = row[f"a_{i}_{j}"]
            if i == j:
                a[i][j] += RIDGE
        b[i] = row[f"b_{i}"]
    return _chol_py(a, b)


def quality_model_dir(sf_dir: str) -> str:
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", prefix=f"qualityw{_FEATV}_")


def build_quality_model(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Train on sf_dir's documents and publish the weights as a
    versioned snapshot (idx, feature, weight). Returns the version."""
    from ..sinks.versioned import write_snapshot

    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    w = train_quality_probe(_spark_features(d))
    rows = [(i, FEATURES[i][0], w[i]) for i in range(K)]
    df = spark.createDataFrame(rows, "idx int, feature string, weight double")
    return write_snapshot(df.coalesce(1), table_dir)


def _load_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    """Latest stored model for sf_dir (trained+published on first use)."""
    rows = _stored_model(spark, sf_dir).orderBy("idx").collect()
    return [r["weight"] for r in rows]


def _stored_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (idx, feature, weight) model snapshot, built on first use."""
    from ..sinks.versioned import ensure_snapshot, read_snapshot

    table_dir = quality_model_dir(sf_dir)
    ensure_snapshot(table_dir, lambda: build_quality_model(spark, sf_dir, table_dir))
    return read_snapshot(spark, table_dir)


def _spark_score(feats: DataFrame, w: list[float]) -> DataFrame:
    """+ score/pred columns; association order matches ``_score_sql``."""
    expr = F.lit(w[0]) * F.col("x_0")
    for i in range(1, K):
        expr = expr + F.lit(w[i]) * F.col(f"x_{i}")
    return feats.withColumn("score", expr).withColumn(
        "pred", (F.col("score") >= SCORE_THRESHOLD).cast("int")
    )


@register(
    "quality_probe_weights",
    oracle=f"""
        WITH {_wts_sql()}
        {" UNION ALL ".join(
            f"SELECT {i} AS idx, '{FEATURES[i][0]}' AS feature, w_{i} AS weight FROM wts"
            for i in range(K)
        )}
        ORDER BY idx
    """,
    doc="The trained quality-probe model itself: ridge normal-equation "
    "weights over the 7 doc-quality features, read back from the "
    "versioned snapshot the engine published. The oracle RETRAINS from "
    "scratch in SQL — exact decimal moments, then a generated unrolled "
    "Cholesky whose op order matches the driver solve bit for bit — so "
    "a hash match proves training, store, and load all agree.",
    tags=("ml", "text", "extension"),
)
def quality_probe_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(idx, feature, weight) of the stored model, one row per feature."""
    return _stored_model(spark, sf_dir).orderBy("idx")


@register(
    "quality_probe_scores",
    oracle=f"""
        WITH {_wts_sql()}
        SELECT doc_id, y::BIGINT AS y, {_score_sql()} AS score,
               ({_score_sql()} >= {SCORE_THRESHOLD!r})::INT AS pred
        FROM x CROSS JOIN wts
        WHERE doc_id % {SAMPLE_MOD} = 0
        ORDER BY doc_id
    """,
    doc="Frozen-model corpus scoring, per-doc sample (doc_id % "
    f"{SAMPLE_MOD} = 0): score = w·x in a fixed association order, so "
    "the doubles are bit-identical to the oracle's replay. The "
    "production shape: featurize + dot product, one pass, no shuffle.",
    tags=("ml", "text", "extension"),
)
def quality_probe_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, score, pred) for the deterministic doc sample."""
    w = _load_weights(spark, sf_dir)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return (
        _spark_score(_spark_features(d), w)
        .filter(F.col("doc_id") % SAMPLE_MOD == 0)
        .select("doc_id", "y", "score", "pred")
        .orderBy("doc_id")
    )


@register(
    "quality_probe_eval",
    oracle=f"""
        WITH {_wts_sql()}
        SELECT y::BIGINT AS y,
               ({_score_sql()} >= {SCORE_THRESHOLD!r})::INT AS pred,
               COUNT(*) AS n
        FROM x CROSS JOIN wts
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Confusion matrix of the frozen probe over the FULL corpus "
    "(label × prediction × count — integer-exact, so the full-corpus "
    "score pass is pinned, not just the sample). In production this is "
    "the filter's audit table against the gold set before a threshold "
    "is chosen.",
    tags=("ml", "text", "extension"),
)
def quality_probe_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(y, pred, n) over every document."""
    w = _load_weights(spark, sf_dir)
    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return (
        _spark_score(_spark_features(d), w)
        .groupBy("y", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("y", "pred")
    )


# ---------------------------------------------------------------------------
# Incremental training — moments are ADDITIVE sufficient statistics.
#
# X^T X and X^T y are plain sums over rows, so a frozen corpus can be
# summarized once as 35 exact DECIMAL(38,0) scalars and any delta batch
# folds in by decimal addition — the retrain-from-scratch cost drops to
# O(delta) featurization + a 35-row snapshot scan, and the result is
# BIT-IDENTICAL to a full retrain (decimal addition is associative;
# the single double cast happens after the final sum). The nightly
# lifecycle mirrors the span/minhash index protocol.

_MOMENT_NAMES: tuple[str, ...] = tuple(
    f"a_{i}_{j}" for i in range(K) for j in range(i, K)
) + tuple(f"b_{i}" for i in range(K))


def _moment_row(feats: DataFrame):
    """The 35 exact decimal moment sums of a feature frame (one
    bounded-size driver row; NO double cast — decimals stay exact)."""
    aggs = []
    for i in range(K):
        for j in range(i, K):
            aggs.append(
                F.coalesce(
                    F.sum(F.col(f"x_{i}").cast("decimal(38,0)") * F.col(f"x_{j}")),
                    F.lit(0).cast("decimal(38,0)"),
                )
                .cast("decimal(38,0)")
                .alias(f"a_{i}_{j}")
            )
        aggs.append(
            F.coalesce(
                F.sum(F.col(f"x_{i}").cast("decimal(38,0)") * F.col("y")),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("decimal(38,0)")
            .alias(f"b_{i}")
        )
    return feats.agg(*aggs).collect()[0]


def quality_moments_dir(sf_dir: str) -> str:
    from ..sinks.versioned import fingerprint_dir

    return fingerprint_dir(sf_dir, "documents", prefix=f"qualitym{_FEATV}_")


def _split_moments(spark: SparkSession, sf_dir: str, delta: bool):
    """The exact moment row of sf_dir's delta docs (or corpus docs)."""
    from .dedup import is_delta_doc

    d = spread_scan(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    split = is_delta_doc("doc_id")
    return _moment_row(_spark_features(d.filter(split if delta else ~split)))


def _moments_df(spark: SparkSession, row) -> DataFrame:
    from decimal import Decimal

    rows = [(n, Decimal(row[n])) for n in _MOMENT_NAMES]
    return spark.createDataFrame(rows, "name string, val decimal(38,0)").coalesce(1)


def build_quality_moments(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Publish the frozen-corpus moment table (35 decimal rows) as a
    versioned snapshot."""
    from ..sinks.versioned import write_corpus_snapshot

    row = _split_moments(spark, sf_dir, delta=False)
    return write_corpus_snapshot(_moments_df(spark, row), table_dir)


def extend_quality_moments(spark: SparkSession, sf_dir: str, table_dir: str) -> int:
    """Fold the delta batch's moments into snapshot v+1 (corpus rows are
    never re-featurized)."""
    from ..sinks.versioned import fold_delta_snapshot

    row = _split_moments(spark, sf_dir, delta=True)
    return fold_delta_snapshot(spark, table_dir, _moments_df(spark, row))


def _solve_from_moment_sums(total: dict) -> list[float]:
    """Ridge solve from exact decimal moment sums (single double cast
    per scalar, then the shared Cholesky order)."""
    a = [[0.0] * K for _ in range(K)]
    b = [0.0] * K
    for i in range(K):
        for j in range(i, K):
            a[i][j] = a[j][i] = float(total[f"a_{i}_{j}"])
            if i == j:
                a[i][j] += RIDGE
        b[i] = float(total[f"b_{i}"])
    return _chol_py(a, b)


@register(
    "incremental_quality_weights",
    oracle=f"""
        WITH {_wts_sql()}
        {" UNION ALL ".join(
            f"SELECT {i} AS idx, '{FEATURES[i][0]}' AS feature, w_{i} AS weight FROM wts"
            for i in range(K)
        )}
        ORDER BY idx
    """,
    doc="INCREMENTAL probe training: the frozen corpus contributes 35 "
    "stored DECIMAL(38,0) moment scalars (built once by "
    "build_quality_moments, never re-featurized — plan-asserted), the "
    "delta batch (md5 buckets >= 90) is featurized fresh, and the two "
    "moment sets fold by exact decimal addition before ONE double cast "
    "and the shared Cholesky. Because moments are additive sufficient "
    "statistics, the result is bit-identical to retraining on the full "
    "corpus — which is exactly what the oracle does, so the hash match "
    "PROVES the incremental path exact, not approximately right. "
    "Nightly cost: O(delta) featurization + a 35-row snapshot scan.",
    tags=("ml", "text", "incremental", "extension"),
)
def incremental_quality_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(idx, feature, weight) — corpus moments (stored) + delta moments
    (fresh), solved together."""
    from decimal import Decimal

    from ..sinks.versioned import ensure_snapshot, read_corpus_snapshot

    table_dir = quality_moments_dir(sf_dir)
    ensure_snapshot(
        table_dir, lambda: build_quality_moments(spark, sf_dir, table_dir)
    )
    corpus = {r["name"]: r["val"] for r in read_corpus_snapshot(spark, table_dir).collect()}
    drow = _split_moments(spark, sf_dir, delta=True)
    total = {n: corpus[n] + Decimal(drow[n]) for n in _MOMENT_NAMES}
    w = _solve_from_moment_sums(total)
    rows = [(i, FEATURES[i][0], w[i]) for i in range(K)]
    return spark.createDataFrame(rows, "idx int, feature string, weight double")
