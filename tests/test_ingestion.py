"""Messy-CSV ingestion kit tests on reference-shaped fixtures
(FIXTURES.md §A): pipe delimiter, multi-token nulls, EU decimal commas,
schema drift (missing numero_tpv), duplicates, Excel cleanup."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineering_challenge_spark.schemas import (
    DUP_AUDIT_COLUMNS,
    TRANSACTIONS_PATTERNS,
    TRANSACTIONS_SCHEMA,
)
from data_engineering_challenge_spark.sources.csv import ingest_csv_files
from data_engineering_challenge_spark.sources.excel import excel_frame_to_spark
from data_engineering_challenge_spark.sources.sniff import (
    detect_delimiter,
    fast_line_count,
    infer_format,
)

HEADER_FULL = (
    "Point_de_Vente|Numero_TPV|Numero_Transaction|Date_Transaction|Heure|"
    "Typologie_Magasin|Numero_Fidelite|Type_de_Vente|Univers_Produit|"
    "Segment_Produit|Famille_Produit|Sous_Famille_Produit|Fedas_Numero|"
    "Fedas_Libelle|Cible_Genre_Age|Modele_Couleur_Ref|Modele_Couleur_Libelle|"
    "Type_de_Vente_NPS|Quantite_Vendue|CA_Net_TTC|CA_Net_HT|Marge_Nette_Magasin"
)


def _row(i: int, *, tpv: bool = True, ttc: str = "12.5") -> str:
    cells = [
        f"PDV-id-{i % 3:04d}",
        f"TPV_{i}" if tpv else None,
        f"TID{i:012d}",
        f"2022-0{1 + i % 3}-15",
        "12:00:00",
        "Typologie_Magasin_1",
        f"N_{i}" if i % 2 else "",  # "" → null token
        "TV1",
        "CL1_1", "CL2_1", "CL3_1", "CL4_1",
        f"FedasNum{i}", f"FedasLib{i}", "CGA1",
        f"MCR{i % 5}", f"MCL{i % 5}", "NPS1",
        "1",
        ttc,
        "#NO VALUE" if i % 4 == 0 else "10.0",
        "737,114" if i % 3 == 0 else "5.25",  # EU decimal comma
    ]
    if not tpv:
        cells.pop(1)
    return "|".join("" if c is None else c for c in cells)


@pytest.fixture(scope="module")
def csv_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("rawcsv")
    f1 = d / "data1.csv"
    f1.write_text(HEADER_FULL + "\n" + "\n".join(_row(i) for i in range(20)) + "\n")
    # drift file: no Numero_TPV column (reference data2.csv)
    hdr2 = HEADER_FULL.replace("Numero_TPV|", "")
    rows2 = [_row(i, tpv=False) for i in range(20, 35)]
    rows2.append(_row(20, tpv=False))  # exact duplicate of row 20
    f2 = d / "data2.csv"
    f2.write_text(hdr2 + "\n" + "\n".join(rows2) + "\n")
    return [str(f1), str(f2)]


def test_sniffers(csv_paths):
    assert infer_format(csv_paths[0]) == "csv"
    assert infer_format("x.parquet") == "parquet"
    assert infer_format("x.xlsx") == "excel"
    assert detect_delimiter(csv_paths[0]) == "|"
    assert fast_line_count(csv_paths[0]) == 21  # header + 20 rows


def test_ingest_messy_csvs(spark, csv_paths):
    df = ingest_csv_files(spark, csv_paths, TRANSACTIONS_SCHEMA, add_surrogate_key="transaction_id")
    assert df.columns[0] == "transaction_id"
    assert df.columns[1:] == [f.name for f in TRANSACTIONS_SCHEMA.fields]
    assert df.count() == 36

    # drift: file-2 rows got NULL numero_tpv (reference data2.csv case)
    assert df.filter(F.col("numero_tpv").isNull()).count() == 16
    # multi-token nulls: "" and "#NO VALUE" both became real NULLs
    # i%4==0: 5 in file1, 4 in file2, +1 for the duplicated row 20
    assert df.filter(F.col("ca_net_ht").isNull()).count() == 10
    assert df.filter(F.col("numero_fidelite").isNull()).count() > 0
    # EU decimal comma parsed exactly: 737,114 → 737.114000
    vals = {
        float(r.marge_nette_magasin)
        for r in df.select("marge_nette_magasin").distinct().collect()
    }
    assert vals == {737.114, 5.25}
    # dates parsed
    assert dict(df.dtypes)["date_transaction"] == "date"
    # surrogate keys unique (reference BIGSERIAL replacement)
    assert df.select("transaction_id").distinct().count() == 36


def test_duplicate_audit_on_ingested(spark, csv_paths):
    """Reference Q12: group by the 15-col subset, count>1 (README.md:192)."""
    df = ingest_csv_files(spark, csv_paths, TRANSACTIONS_SCHEMA)
    dup = (
        df.groupBy(*DUP_AUDIT_COLUMNS)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    rows = dup.collect()
    assert len(rows) == 1  # the one injected duplicate group
    assert rows[0].n == 2


def test_contracts_on_ingested(spark, csv_paths):
    from data_engineering_challenge_spark.operators.validation import (
        per_column_invalid_counts,
    )

    df = ingest_csv_files(spark, csv_paths, TRANSACTIONS_SCHEMA)
    counts = per_column_invalid_counts(
        df, {k: TRANSACTIONS_PATTERNS[k] for k in ("point_de_vente", "numero_transaction")}
    ).collect()[0]
    assert counts["point_de_vente__invalid_count"] == 0
    assert counts["numero_transaction__invalid_count"] == 0


def test_excel_cleanup_bridge(spark):
    """Excel dim-table path (reference notebook cell 36): all-null rows
    and columns dropped, headers normalized, boolean column typed."""
    pdf = pd.DataFrame(
        {
            "CODE MODELE COULEUR ACTUEL": ["MCR1", "MCR2", None, "MCR3"],
            "SIGNATURE PRODUCT?": [True, False, None, True],
            "Unnamed: 2": [None, None, None, None],
            "Unnamed: 3": [None, None, None, None],
        }
    )
    df = excel_frame_to_spark(spark, pdf)
    assert df.columns == ["code_modele_couleur_actuel", "signature_product"]
    assert df.count() == 3  # all-null row dropped


def test_read_csv_audited_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from data_engineering_challenge_spark.sources.csv import read_csv_audited

    p = tmp_path / "mixed.csv"
    p.write_text(
        "id|qty|name\n"
        "1|10|ok-row\n"
        "2|not-a-number|bad-type\n"
        "3|30|ok-row-2\n"
        "4|40|too|many|cols\n"
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    clean, quarantined = read_csv_audited(spark, str(p), schema)
    assert [r.id for r in clean.orderBy("id").collect()] == [1, 3]
    bad = [r.raw_line for r in quarantined.collect()]
    assert len(bad) == 2
    assert any("not-a-number" in b for b in bad)
    assert any("too|many|cols" in b for b in bad)


def test_clean_to_schema_garbage_never_throws_under_ansi(spark):
    """ANSI casts abort on garbage; every typed lane of the cleaning
    kit must map garbage to NULL instead (validation audits it)."""
    from pyspark.sql import types as T

    from data_engineering_challenge_spark.sources.csv import clean_to_schema

    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("x", T.DoubleType()),
            T.StructField("d", T.DateType()),
            T.StructField("m", T.DecimalType(18, 6)),
            T.StructField("b", T.BooleanType()),
        ]
    )
    raw = spark.createDataFrame(
        [
            ("12", "3.5", "2024-01-02", "7,25", "true"),
            ("oops", "oops", "oops", "oops", "oops"),
        ],
        "n string, x string, d string, m string, b string",
    )
    rows = clean_to_schema(raw, schema).orderBy(F.desc("n")).collect()
    import datetime
    from decimal import Decimal

    assert tuple(rows[0]) == (
        12, 3.5, datetime.date(2024, 1, 2), Decimal("7.250000"), True,
    )
    assert tuple(rows[1]) == (None, None, None, None, None)



@pytest.fixture
def validated_paths(csv_paths, tmp_path):
    """The fixture CSVs plus a file of three contract-violating rows."""
    bad = tmp_path / "data3.csv"
    bad.write_text(
        HEADER_FULL + "\n"
        + _row(100).replace("PDV-id-0001", "PDV-x") + "\n"
        + _row(101).replace("TID000000000101", "TIDx") + "\n"
        + _row(102).replace("12:00:00", "noon") + "\n"
    )
    return [*csv_paths, str(bad)]


def _validated_config(paths, out: str, **validate) -> dict:
    return {
        "source": {"format": "csv", "table": "transactions", "paths": paths, "sep": "|"},
        "validate": {"table": "transactions", "drop_invalid": True, **validate},
        "dedup": {"keys": ["numero_transaction"]},
        "sink": {"mode": "plain", "path": out},
    }


def test_validated_pipeline_stats_match_independent_counts(spark, validated_paths, tmp_path):
    """The single validation pass reports exactly what the separate
    per-column, row-mask and row counts say over the same source, and
    the sink holds the distinct keys of the valid rows."""
    from data_engineering_challenge_spark.operators.validation import (
        invalid_row_mask,
        per_column_invalid_counts,
    )
    from data_engineering_challenge_spark.pipeline import run_pipeline

    stats = run_pipeline(spark, _validated_config(validated_paths, str(tmp_path / "out")))

    df = ingest_csv_files(spark, validated_paths, TRANSACTIONS_SCHEMA)
    per_col = per_column_invalid_counts(df, TRANSACTIONS_PATTERNS).first().asDict()
    mask = invalid_row_mask(TRANSACTIONS_PATTERNS)
    assert stats["rows_in"] == df.count() == 39
    assert stats["invalid_rows"] == df.filter(mask).count() == 3
    assert stats["invalid_counts"] == {
        c.removesuffix("__invalid_count"): n for c, n in per_col.items()
    }
    assert stats["rows_out"] == (
        df.filter(~mask).select("numero_transaction").distinct().count()
    )


def test_validated_pipeline_reads_its_source_in_few_jobs(spark, validated_paths, tmp_path):
    """Stats pass and write share one cached parse of the source. With
    a separate row count, per-column count and invalid-row count over
    the uncached source this pipeline ran 14 jobs; one aggregate over
    the cache runs 11 (one header job per CSV file, three for the
    cache and the aggregate, two for the deduplicating write, three
    for the sink read-back)."""
    from data_engineering_challenge_spark.pipeline import run_pipeline

    sc = spark.sparkContext
    group = "test:validated_pipeline_jobs"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(spark, _validated_config(validated_paths, str(tmp_path / "out")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 11


def test_failed_gate_releases_the_source_cache(spark, validated_paths, tmp_path):
    """The gate raises before anything is written, and the cached
    source is released on the way out."""
    from data_engineering_challenge_spark.pipeline import run_pipeline

    out = tmp_path / "out"
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError, match="validation gate"):
        run_pipeline(
            spark, _validated_config(validated_paths, str(out), max_invalid_fraction=0.0)
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert not out.exists()
