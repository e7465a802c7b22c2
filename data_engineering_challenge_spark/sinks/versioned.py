"""Versioned snapshot tables: atomic publish, time travel, rollback —
the transactional-table-format essentials (what Delta/Iceberg provide)
on plain parquet + a manifest.

Protocol: each write lands in an immutable `v=N/` directory; readers
never list the table dir — they resolve through `manifest.json`, which
is replaced atomically (write-temp + os.replace). Consequences:

- **Snapshot isolation**: a reader holds one manifest read; a
  concurrent writer publishing v=N+1 cannot affect it. Half-written
  versions are unreachable because the manifest is updated only after
  the parquet write completes.
- **Time travel**: any retained version is readable by number.
- **Rollback**: repoint `latest` — metadata-only, instant at any data
  size, and the rolled-back-from version stays readable for forensics.

At 100 TB the same protocol holds with the manifest on object storage
(conditional-put replaces os.replace); data files are immutable either
way, which is the property that makes all of this cheap.

Incremental indexes (MinHash, pHash, wavhash, span grams, LM counts,
quality moments) share one corpus/delta lifecycle on top of this.
Every row carries an `is_delta` marker: `write_corpus_snapshot`
publishes the frozen corpus with `is_delta=false`, and
`fold_delta_snapshot` publishes v+1 as the latest version's corpus rows
plus the current delta batch marked `is_delta=true`. Because the fold
rebuilds from the corpus rows alone, folding the same delta twice
replaces the delta rows instead of counting them again, and a probe
that reads `read_corpus_snapshot` never sees a folded delta next to
the fresh one it computes itself.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "manifest.json"
_DELTA = "is_delta"


def _read_manifest(table_dir: str) -> dict:
    p = os.path.join(table_dir, _MANIFEST)
    if not os.path.exists(p):
        return {"latest": 0, "versions": []}
    with open(p) as f:
        return json.load(f)


def _publish_manifest(table_dir: str, manifest: dict) -> None:
    tmp = os.path.join(table_dir, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(table_dir, _MANIFEST))  # atomic publish


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Write `df` as the next version and atomically publish it.
    Returns the new version number."""
    os.makedirs(table_dir, exist_ok=True)
    m = _read_manifest(table_dir)
    n = max(m["versions"], default=0) + 1
    path = os.path.join(table_dir, f"v={n}")
    # an unlisted v=n is the leftover of a write that died before its
    # publish: no reader can reach it, so it is safe to replace
    shutil.rmtree(path, ignore_errors=True)
    df.write.mode("errorifexists").parquet(path)
    m["versions"].append(n)
    m["latest"] = n
    _publish_manifest(table_dir, m)
    return n


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the latest (or a specific retained) version."""
    m = _read_manifest(table_dir)
    n = m["latest"] if version is None else version
    if n not in m["versions"]:
        raise ValueError(f"version {n} not in table history {m['versions']}")
    return spark.read.parquet(os.path.join(table_dir, f"v={n}"))


def ensure_snapshot(table_dir: str, build) -> None:
    """Run `build()` unless `table_dir` already has a published version
    (the build-on-first-use step of every lazily built artifact)."""
    if not _read_manifest(table_dir)["versions"]:
        build()


def write_corpus_snapshot(rows: DataFrame, table_dir: str) -> int:
    """Publish the frozen corpus `rows` (marked `is_delta=false`) as the
    next version. Returns the version."""
    return write_snapshot(rows.withColumn(_DELTA, F.lit(False)), table_dir)


def fold_delta_snapshot(
    spark: SparkSession, table_dir: str, delta_rows: DataFrame
) -> int:
    """Publish v+1 = the latest version's corpus rows + `delta_rows`
    (marked `is_delta=true`); idempotent, see the module docstring.
    Returns the new version."""
    corpus = read_snapshot(spark, table_dir).filter(~F.col(_DELTA))
    delta = delta_rows.withColumn(_DELTA, F.lit(True))
    return write_snapshot(corpus.unionByName(delta), table_dir)


def read_corpus_snapshot(spark: SparkSession, table_dir: str) -> DataFrame:
    """The latest version's corpus rows, without the marker column."""
    return read_snapshot(spark, table_dir).filter(~F.col(_DELTA)).drop(_DELTA)


def rollback(table_dir: str, version: int) -> None:
    """Repoint `latest` to an earlier version (metadata-only; newer
    versions stay readable by number)."""
    m = _read_manifest(table_dir)
    if version not in m["versions"]:
        raise ValueError(f"version {version} not in table history {m['versions']}")
    m["latest"] = version
    _publish_manifest(table_dir, m)


def fingerprint_dir(sf_dir: str, source_table: str, prefix: str = "") -> str:
    """Fingerprinted artifact location for a derived index/snapshot of
    `sf_dir`'s `source_table`: keyed on the source file's (path, mtime,
    size), so a regenerated fixture resolves to a FRESH directory
    instead of serving stale derived data — the one failure mode a
    fingerprinted path exists to prevent. Base dir comes from
    SPARK_GRAFT_INDEX_DIR (default: a tmp-dir namespace); `prefix`
    namespaces different artifact kinds over the same source."""
    import hashlib
    import tempfile

    src = os.path.join(sf_dir, f"{source_table}.parquet")
    try:
        st = os.stat(src)
        fp_src = f"{os.path.abspath(src)}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        fp_src = os.path.abspath(src)
    fp = hashlib.md5(fp_src.encode()).hexdigest()[:16]
    base = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(tempfile.gettempdir(), "spark_graft_minhash_index"),
    )
    return os.path.join(base, prefix + fp)


def history(table_dir: str) -> dict:
    """{'latest': N, 'versions': [...]} — the table's version log."""
    return _read_manifest(table_dir)


def vacuum_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Retention: drop the data directories of all but the newest
    `keep_last` versions (the current `latest` is always retained, even
    if rollback pointed it at an old version). Returns the versions
    removed. Ordering matters for crash safety: the manifest is
    republished WITHOUT the doomed versions FIRST (atomic — readers
    resolving after this instant can no longer reach them), then the
    directories are deleted; a crash in between leaves unreachable
    garbage, never a manifest pointing at missing data. At 100 TB this
    is the nightly snapshot-GC job — manifest update is one
    conditional put, deletes are embarrassingly parallel."""
    m = _read_manifest(table_dir)
    keep_last = max(1, keep_last)
    keep = set(sorted(m["versions"])[-keep_last:]) | {m["latest"]}
    doomed = sorted(v for v in m["versions"] if v not in keep)
    if not doomed:
        return []
    m["versions"] = [v for v in m["versions"] if v in keep]
    _publish_manifest(table_dir, m)
    for v in doomed:
        shutil.rmtree(os.path.join(table_dir, f"v={v}"), ignore_errors=True)
    return doomed
