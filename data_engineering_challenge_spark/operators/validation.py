"""Data-quality validation operators — the reference's distinctive
surface (SURVEY.md §2.9), fully engine-side.

API parity with the reference's validation layer:
- :func:`col_invalid_expr`        ↔ `_col_invalid_expr` (src/utils/data_validation.py:38-61)
- :func:`invalid_row_mask`        ↔ `invalid_row_mask` (:64-89)
- :func:`per_column_invalid_counts` ↔ (:92-120)
- :func:`validation_pass`         — row count, invalid-row count and
  per-column counts in one aggregate, plus the row mask (the stats the
  reference's loader gates on, src/db/pipeline.py:197-309)
- :func:`invalid_values_by_column`  ↔ (:212-284)
- :func:`value_format_profile`    ↔ `entry_error_proportions`
  (src/utils/dataset_profiling.py:773-960) — redesigned: the reference
  pulls value_counts to the driver and loops compiled regexes in
  Python; here the whole profile is one groupBy + rlike aggregation,
  no driver loop (SURVEY.md §2.8) — the design that survives 100 TB.
- :func:`discover_placeholder_values` ↔ (:287-380) — the reference's
  placeholder heuristics (null-ish token set, all-zero strings,
  punctuation-only) applied engine-side to the invalid-value sets
  instead of driver-side Python over collected JSON.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.cleaning import RE_INT, RE_JSON_OBJECT
from ..registry import register
from ..schemas import ORDERS_PATTERNS


def col_invalid_expr(
    col_name: str,
    pattern: str,
    *,
    null_is_invalid: bool = False,
    empty_is_invalid: bool = True,
) -> Column:
    """Per-column invalid predicate: cast to string, full-string regex
    contract, configurable null/empty policy."""
    s = F.col(col_name).cast("string")
    bad = ~s.rlike(pattern)
    if empty_is_invalid:
        bad = bad | (s == "")
    return F.when(s.isNull(), F.lit(null_is_invalid)).otherwise(bad)


def invalid_row_mask(patterns: dict[str, str], **policy) -> Column:
    """Row invalid iff ANY contracted column is invalid."""
    return reduce(or_, [col_invalid_expr(c, p, **policy) for c, p in patterns.items()])


def per_column_invalid_counts(df: DataFrame, patterns: dict[str, str], **policy) -> DataFrame:
    """1-row frame of `<col>__invalid_count` — one aggregation pass."""
    return df.agg(
        *[
            F.sum(col_invalid_expr(c, p, **policy).cast("int")).alias(f"{c}__invalid_count")
            for c, p in patterns.items()
        ]
    )


def validation_pass(
    df: DataFrame, patterns: dict[str, str], **policy
) -> tuple[dict, Column]:
    """Every gate statistic from ONE aggregate over `df`:
    ({"rows_in", "invalid_rows", "invalid_counts"}, bad_row).

    Each column flag is built once and shared by its per-column sum and
    the row mask, so the counts are `per_column_invalid_counts`' and
    `invalid_row_mask`'s exactly (a column count is null on an empty
    frame). The returned `bad_row` is the same mask, for dropping the
    invalid rows without rebuilding it. Deequ's point (VLDB 2018):
    compute every constraint metric from one scan."""
    flags = {c: col_invalid_expr(c, p, **policy) for c, p in patterns.items()}
    bad_row = reduce(or_, flags.values())
    row = df.agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.count_if(bad_row).alias("invalid_rows"),
        *[F.sum(f.cast("int")).alias(f"{c}__invalid_count") for c, f in flags.items()],
    ).first()
    stats = {
        "rows_in": row["rows_in"],
        "invalid_rows": row["invalid_rows"],
        "invalid_counts": {c: row[f"{c}__invalid_count"] for c in flags},
    }
    return stats, bad_row


def invalid_values_by_column(
    df: DataFrame, patterns: dict[str, str], limit: int = 10, **policy
) -> DataFrame:
    """(column_name, invalid_value) — distinct offending values per
    column, deterministic order, capped at `limit` per column."""
    parts = []
    for c, p in patterns.items():
        parts.append(
            df.filter(col_invalid_expr(c, p, **policy))
            .select(
                F.lit(c).alias("column_name"),
                F.col(c).cast("string").alias("invalid_value"),
            )
            .distinct()
            .orderBy("invalid_value")
            .limit(limit)
        )
    return reduce(DataFrame.unionAll, parts)


def value_format_profile(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Per-column value-format proportions (int / json / null / other)
    in ONE aggregation pass, unpivoted to long form with stack()."""
    aggs = []
    for c in cols:
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.coalesce(s.rlike(RE_INT), F.lit(False)).cast("int")).alias(f"{c}__int"),
            F.sum(F.coalesce(s.rlike(RE_JSON_OBJECT), F.lit(False)).cast("int")).alias(f"{c}__json"),
            F.sum(s.isNull().cast("int")).alias(f"{c}__null"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__n`, `{c}__int`, `{c}__json`, `{c}__null`" for c in cols
    )
    long = one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (column_name, n_values, n_int, n_json, n_null)"
    )
    return long.select(
        "column_name",
        "n_values",
        (F.col("n_int") / F.col("n_values")).alias("frac_int"),
        (F.col("n_json") / F.col("n_values")).alias("frac_json"),
        (F.col("n_null") / F.col("n_values")).alias("frac_null"),
        (
            (F.col("n_values") - F.col("n_int") - F.col("n_json") - F.col("n_null"))
            / F.col("n_values")
        ).alias("frac_other"),
    ).orderBy("column_name")


PLACEHOLDER_TOKENS = (
    "na", "n/a", "none", "null", "nan", "missing", "unknown", "-", "#no value",
)
_RE_ALL_ZEROS = "^0{2,}$"
_RE_PUNCT_ONLY = "^[^a-z0-9]+$"  # applied to lowercased values
_RE_NULLISH_SUBSTR = "(not specified|unknown|missing)"


def placeholder_reason(col: Column) -> Column:
    """Classify a value by the reference's placeholder heuristics
    (data_validation.py:287-380), in priority order; 'none' if clean."""
    v = F.lower(F.trim(col.cast("string")))
    return (
        F.when(v.isin(*PLACEHOLDER_TOKENS), F.lit("null_token"))
        .when(v.rlike(_RE_ALL_ZEROS), F.lit("all_zeros"))
        .when(v.rlike(_RE_PUNCT_ONLY), F.lit("punctuation_only"))
        .when(v.rlike(_RE_NULLISH_SUBSTR), F.lit("null_token_like"))
        .otherwise(F.lit("none"))
    )


def discover_placeholder_values(
    df: DataFrame, patterns: dict[str, str], limit: int = 10, **policy
) -> DataFrame:
    """(column_name, invalid_value, reason, is_placeholder) — the
    contract-violating values of each column classified by the
    placeholder heuristics. Engine-side end to end: the heuristic
    CASE runs where the data lives, only the (small) distinct
    offender sets move."""
    vals = invalid_values_by_column(df, patterns, limit=limit, **policy)
    reason = placeholder_reason(F.col("invalid_value"))
    return vals.select(
        "column_name",
        "invalid_value",
        reason.alias("reason"),
        (reason != "none").alias("is_placeholder"),
    )


# --- registered driver queries ----------------------------------------


def _duck_invalid(col: str, pat: str) -> str:
    return (
        f"CASE WHEN CAST({col} AS VARCHAR) IS NULL THEN 0 "
        f"WHEN CAST({col} AS VARCHAR) = '' OR NOT regexp_matches(CAST({col} AS VARCHAR), '{pat}') "
        f"THEN 1 ELSE 0 END"
    )


@register(
    "contract_violations",
    oracle=f"""
        SELECT CAST(SUM({_duck_invalid('o_orderstatus', '^[OF]$')}) AS BIGINT)
                   AS o_orderstatus__invalid_count,
               CAST(SUM({_duck_invalid('o_orderpriority', '^[0-9]-[A-Z]+$')}) AS BIGINT)
                   AS o_orderpriority__invalid_count
        FROM orders
    """,
    doc="Per-column regex-contract violation counts over orders "
    "(reference per_column_invalid_counts, data_validation.py:92-120).",
    tags=("validation", "reference"),
)
def contract_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return per_column_invalid_counts(o, ORDERS_PATTERNS)


@register(
    "invalid_rows",
    oracle=f"""
        SELECT COUNT(*) AS n_invalid_rows FROM orders
        WHERE {_duck_invalid('o_orderstatus', '^[OF]$')} = 1
           OR {_duck_invalid('o_orderpriority', '^[0-9]-[A-Z]+$')} = 1
    """,
    doc="Rows violating ANY column contract (reference invalid_row_mask, "
    "data_validation.py:64-89).",
    tags=("validation", "reference"),
)
def invalid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(invalid_row_mask(ORDERS_PATTERNS)).agg(
        F.count(F.lit(1)).alias("n_invalid_rows")
    )


@register(
    "invalid_values",
    oracle="""
        (SELECT 'o_orderstatus' AS column_name, v AS invalid_value FROM (
            SELECT DISTINCT o_orderstatus AS v FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND (o_orderstatus = '' OR NOT regexp_matches(o_orderstatus, '^[OF]$'))
            ORDER BY v LIMIT 10))
        UNION ALL
        (SELECT 'o_orderpriority', v FROM (
            SELECT DISTINCT o_orderpriority AS v FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND (o_orderpriority = '' OR NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z]+$'))
            ORDER BY v LIMIT 10))
    """,
    doc="Distinct offending values per contracted column, capped "
    "(reference invalid_values_by_column, data_validation.py:212-284).",
    tags=("validation", "reference"),
)
def invalid_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return invalid_values_by_column(o, ORDERS_PATTERNS, limit=10)


_DUCK_REASON = """
        CASE
            WHEN lower(trim(invalid_value)) IN
                 ('na','n/a','none','null','nan','missing','unknown','-','#no value')
                THEN 'null_token'
            WHEN regexp_matches(lower(trim(invalid_value)), '^0{{2,}}$')
                THEN 'all_zeros'
            WHEN regexp_matches(lower(trim(invalid_value)), '^[^a-z0-9]+$')
                THEN 'punctuation_only'
            WHEN regexp_matches(lower(trim(invalid_value)), '(not specified|unknown|missing)')
                THEN 'null_token_like'
            ELSE 'none'
        END
"""


@register(
    "placeholder_discovery",
    oracle=f"""
        WITH vals AS (
            (SELECT 'o_orderstatus' AS column_name, v AS invalid_value FROM (
                SELECT DISTINCT o_orderstatus AS v FROM orders
                WHERE o_orderstatus IS NOT NULL
                  AND (o_orderstatus = '' OR NOT regexp_matches(o_orderstatus, '^[OF]$'))
                ORDER BY v LIMIT 10))
            UNION ALL
            (SELECT 'o_orderpriority', v FROM (
                SELECT DISTINCT o_orderpriority AS v FROM orders
                WHERE o_orderpriority IS NOT NULL
                  AND (o_orderpriority = '' OR NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z]+$'))
                ORDER BY v LIMIT 10))
        )
        SELECT column_name, invalid_value,
               {_DUCK_REASON.format()} AS reason,
               {_DUCK_REASON.format()} <> 'none' AS is_placeholder
        FROM vals
    """,
    doc="Placeholder-token discovery over contract-violating values "
    "(reference discover_placeholder_values, data_validation.py:287-380): "
    "null-ish token set, all-zero strings, punctuation-only, and "
    "null-ish substrings, classified engine-side.",
    tags=("validation", "reference"),
)
def placeholder_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return discover_placeholder_values(o, ORDERS_PATTERNS, limit=10)


@register(
    "value_format_profile_events",
    oracle="""
        WITH p AS (
            SELECT 'event_id' AS column_name,
                   COUNT(*) AS n_values,
                   SUM(CASE WHEN regexp_matches(CAST(event_id AS VARCHAR), '^[+-]?\\d+$') THEN 1 ELSE 0 END) AS n_int,
                   SUM(CASE WHEN regexp_matches(CAST(event_id AS VARCHAR), '^\\{.*\\}$') THEN 1 ELSE 0 END) AS n_json,
                   SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_null
            FROM events
            UNION ALL
            SELECT 'event_type', COUNT(*),
                   SUM(CASE WHEN regexp_matches(event_type, '^[+-]?\\d+$') THEN 1 ELSE 0 END),
                   SUM(CASE WHEN regexp_matches(event_type, '^\\{.*\\}$') THEN 1 ELSE 0 END),
                   SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
            FROM events
            UNION ALL
            SELECT 'props', COUNT(*),
                   SUM(CASE WHEN regexp_matches(props, '^[+-]?\\d+$') THEN 1 ELSE 0 END),
                   SUM(CASE WHEN regexp_matches(props, '^\\{.*\\}$') THEN 1 ELSE 0 END),
                   SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
            FROM events
            UNION ALL
            SELECT 'user_id', COUNT(*),
                   SUM(CASE WHEN regexp_matches(CAST(user_id AS VARCHAR), '^[+-]?\\d+$') THEN 1 ELSE 0 END),
                   SUM(CASE WHEN regexp_matches(CAST(user_id AS VARCHAR), '^\\{.*\\}$') THEN 1 ELSE 0 END),
                   SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
            FROM events
        )
        SELECT column_name, n_values,
               n_int / n_values AS frac_int,
               n_json / n_values AS frac_json,
               n_null / n_values AS frac_null,
               (n_values - n_int - n_json - n_null) / n_values AS frac_other
        FROM p
        ORDER BY column_name
    """,
    doc="Value-format proportion profile over events columns (reference "
    "entry_error_proportions redesigned as one engine-side pass — no "
    "driver loop, SURVEY.md §2.8).",
    tags=("validation", "profiling", "reference"),
)
def value_format_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return value_format_profile(e, ("event_id", "event_type", "props", "user_id"))


@register(
    "events_json_extract",
    oracle=r"""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^-?\d+$') THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT) AS sum_k,
               COUNT(DISTINCT CAST(CASE WHEN json_valid(props) AND regexp_matches(json_extract_string(props, '$.k'), '^-?\d+$') THEN json_extract_string(props, '$.k') END AS BIGINT)) AS n_distinct_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Semi-structured extraction: parse the props JSON column, "
    "aggregate the extracted key per event type.",
    tags=("validation", "json"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # try_cast + get_json_object: malformed JSON or a non-integral
    # value ('1.5', nested object) must contribute NULL, never abort
    # the job (ANSI casts throw) - mirrored by json_valid/TRY_CAST
    # gates in the oracle
    raw_k = F.get_json_object("props", "$.k")
    # integral-only extraction: engines disagree on numeric-string
    # casts (DuckDB rounds '1.5'->2 and parses '2e2'->200; Spark nulls
    # both), so the defined semantics admit ^-?\d+$ only
    k = F.when(raw_k.rlike(r"^-?\d+$"), raw_k.cast("long"))
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.countDistinct(k).alias("n_distinct_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_props_map",
    oracle=r"""
        SELECT event_type,
               u.key AS prop_key,
               COUNT(*) AS n,
               CAST(SUM(CAST(CASE WHEN regexp_matches(
                       json_extract_string(props, '$.' || u.key), '^-?\d+$')
                   THEN json_extract_string(props, '$.' || u.key) END AS BIGINT)) AS BIGINT)
                   AS sum_value
        FROM (SELECT event_type, props, unnest(json_keys(props)) AS key
              FROM events
              WHERE json_valid(props) AND json_type(props) = 'OBJECT') u
        GROUP BY event_type, prop_key
        ORDER BY event_type, prop_key
    """,
    doc="Map-typed semi-structured handling: props parsed with "
    "from_json into map<string,bigint>, exploded to key/value rows, "
    "aggregated per (event_type, key). Covers MapType + explode-of-map "
    "(the schema-free sibling of the struct-typed from_json path).",
    tags=("validation", "json", "map"),
)
def events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # parse values as STRING first: a non-conforming value (nested
    # object) must not null out the whole map, it just fails its own
    # integral gate below - key occurrences stay countable
    m = F.from_json("props", "map<string,string>")
    kv = e.select("event_type", F.explode(m).alias("prop_key", "raw_v")).withColumn(
        "v", F.when(F.col("raw_v").rlike(r"^-?\d+$"), F.col("raw_v").cast("long"))
    )
    return (
        kv.groupBy("event_type", "prop_key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_value"))
        .orderBy("event_type", "prop_key")
    )


@register(
    "events_variant_extract",
    oracle=r"""
        WITH ext AS (
            SELECT event_type,
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.k') END AS k_raw
            FROM events
        )
        SELECT event_type,
               MIN((CASE WHEN regexp_matches(k_raw, '^-?\d+$') THEN TRY_CAST(k_raw AS BIGINT) ELSE TRY_CAST(trunc(TRY_CAST(k_raw AS DOUBLE)) AS BIGINT) END)) AS min_k,
               MAX((CASE WHEN regexp_matches(k_raw, '^-?\d+$') THEN TRY_CAST(k_raw AS BIGINT) ELSE TRY_CAST(trunc(TRY_CAST(k_raw AS DOUBLE)) AS BIGINT) END)) AS max_k,
               COUNT((CASE WHEN regexp_matches(k_raw, '^-?\d+$') THEN TRY_CAST(k_raw AS BIGINT) ELSE TRY_CAST(trunc(TRY_CAST(k_raw AS DOUBLE)) AS BIGINT) END)) AS n_with_k
        FROM ext
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Spark 4 VARIANT path for semi-structured data: parse_json -> "
    "VariantType -> typed variant_get extraction. Unlike per-query "
    "get_json_object (re-parses the string for every path), a variant "
    "column parses once into a binary-encoded form that any number of "
    "downstream extractions share - the right at-rest representation "
    "for 100-TB semi-structured columns. The oracle replays the "
    "variant typed-get coercion observed from Spark: exact for "
    "integral strings, truncate-toward-zero for other numerics, "
    "NULL for non-numerics.",
    tags=("validation", "json", "variant"),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # try_parse_json: parse_json THROWS on malformed input (ANSI) -
    # a single bad payload must not kill a 100-TB scan
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "bigint")
    return (
        e.groupBy("event_type")
        .agg(
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(k).alias("n_with_k"),
        )
        .orderBy("event_type")
    )
