#!/usr/bin/env python
"""Ingestion CLI (reference data_loader, src/etl/ingest/data_loader.py):

    python tools/ingest.py --table transactions --files a.csv b.csv \
        --out /path/warehouse [--sep '|'] [--validate]

Reads messy CSVs through the cleaning kit (multi-token nulls,
EU-decimal parse, date parse, schema-drift union), optionally runs the
regex-contract validation audit, writes month-partitioned parquet, and
prints the reference-style load stats dict (rows read / written /
match) as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_challenge_spark import schemas
from data_engineering_challenge_spark.operators.validation import validation_pass
from data_engineering_challenge_spark.session import get_session
from data_engineering_challenge_spark.sinks.writers import (
    verify_rowcount,
    write_partitioned_parquet,
)
from data_engineering_challenge_spark.sources.csv import ingest_csv_files

TABLES = {
    "transactions": (schemas.TRANSACTIONS_SCHEMA, schemas.TRANSACTIONS_PATTERNS, "date_transaction"),
    "products": (schemas.PRODUCT_SCHEMA, schemas.PRODUCT_PATTERNS, None),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--table", required=True, choices=sorted(TABLES))
    ap.add_argument("--files", nargs="+", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sep", default="|")
    ap.add_argument("--validate", action="store_true", help="print contract-violation counts")
    ap.add_argument("--surrogate-key", default="row_id")
    args = ap.parse_args(argv)

    schema, patterns, date_col = TABLES[args.table]
    spark = get_session("ingest")
    df = ingest_csv_files(
        spark, args.files, schema, sep=args.sep, add_surrogate_key=args.surrogate_key
    )
    stats: dict[str, object] = {"table": args.table, "files": args.files}
    if args.validate:
        counts = validation_pass(df, patterns)[0]["invalid_counts"]
        stats["invalid_counts"] = {f"{c}__invalid_count": n for c, n in counts.items() if n}
    write_partitioned_parquet(df, args.out, date_col=date_col)
    src, written, match = verify_rowcount(spark, df, args.out)
    stats.update({"rows_read": src, "rows_written": written, "reconciled": match})
    print(json.dumps(stats))
    return 0 if match else 1


if __name__ == "__main__":
    raise SystemExit(main())
