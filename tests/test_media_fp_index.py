"""The shared media-fingerprint index lifecycle (multimodal.FpKind), run
for every kind: landing stream vs batch probe, idempotent extend, and
the stable index dir prefix."""

from __future__ import annotations

import os

import pytest

from data_engineering_challenge_spark.operators.multimodal import FP_KINDS, PHASH, WAVHASH

kinds = pytest.mark.parametrize("kind", FP_KINDS, ids=lambda k: k.name)


@kinds
def test_streaming_landing_matches_batch(kind, spark, tmp_path, monkeypatch):
    """The landing-zone filter: streamed delta docs probed against the
    frozen index emit exactly the corpus-delta pairs the batch
    incremental probe finds (delta-delta pairs are the batch path's
    job), with canonical (least, greatest) ordering."""
    import hashlib as _hl

    import pandas as pd

    from data_engineering_challenge_spark.operators.dedup import (
        INCR_DELTA_BUCKETS,
        INCR_DELTA_FROM,
    )
    from data_engineering_challenge_spark.streaming.pipelines import (
        run_stream_to_memory,
    )

    def bucket(doc_id: int) -> int:
        return int(_hl.md5(f"inc:{doc_id}".encode()).hexdigest()[:8], 16) % INCR_DELTA_BUCKETS

    n = 400
    delta_set = {i for i in range(n) if bucket(i) >= INCR_DELTA_FROM}
    # the fixture must contain a group whose planted Hamming-0 pair
    # (v0, v1) straddles the corpus/delta split — guaranteed by n=400
    # (100 groups, ~10% delta rate per member)
    straddle = [
        g for g in range(n // 4)
        if (4 * g in delta_set) != (4 * g + 1 in delta_set)
    ]
    assert straddle, "fixture must exercise a cross corpus/delta planted pair"

    root = tmp_path / "lz"
    root.mkdir()
    pd.DataFrame(
        {"doc_id": range(n), "text": [kind.name] * n, "source": ["s"] * n}
    ).to_parquet(root / "documents.parquet", index=False)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))

    batch = {
        (r.doc_a, r.doc_b): r.hamming
        for r in kind.incremental_pairs(spark, str(root)).collect()
    }
    batch_cross = {
        k: v for k, v in batch.items() if not (k[0] in delta_set and k[1] in delta_set)
    }
    assert batch_cross, batch
    g = straddle[0]
    pin = (min(4 * g, 4 * g + 1), max(4 * g, 4 * g + 1))
    assert batch_cross[pin] == 0, "straddling planted pair must be found"

    s = kind.stream(spark, str(root))
    assert s.isStreaming
    table = f"incr_{kind.name}_out"
    run_stream_to_memory(s, table, mode="append")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in spark.sql(f"SELECT * FROM {table}").collect()
    }
    assert got == batch_cross


@kinds
def test_extend_index_is_idempotent(kind, spark, tmp_path, monkeypatch):
    """Folding the delta into the index twice must not double-count:
    the fold reads only corpus buckets back (the extend_minhash
    protocol), so v2 and v3 hold identical row sets."""
    import pandas as pd

    from data_engineering_challenge_spark.sinks.versioned import read_snapshot

    root = tmp_path / "lz"
    root.mkdir()
    pd.DataFrame(
        {"doc_id": range(80), "text": [kind.name] * 80, "source": ["s"] * 80}
    ).to_parquet(root / "documents.parquet", index=False)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    d = kind.index_dir(str(root))
    kind.build_index(spark, str(root), d)
    v2 = kind.extend_index(spark, str(root), d)
    rows2 = sorted(
        (r.doc_id, r.fp) for r in read_snapshot(spark, d, v2).collect()
    )
    v3 = kind.extend_index(spark, str(root), d)
    rows3 = sorted(
        (r.doc_id, r.fp) for r in read_snapshot(spark, d, v3).collect()
    )
    assert rows2 == rows3 and len(rows2) == 80


@pytest.mark.parametrize(
    ("kind", "prefix"), [(PHASH, "phash2_"), (WAVHASH, "wavhash2_")], ids=["phash", "wavhash"]
)
def test_index_dir_prefix_is_stable(kind, prefix, tmp_path, monkeypatch):
    """Snapshots already built live under these prefixes; renaming one
    would silently orphan them and rebuild from scratch."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    d = kind.index_dir(str(tmp_path / "sf"))
    assert os.path.dirname(d) == str(tmp_path)
    name = os.path.basename(d)
    assert name.startswith(prefix) and len(name) == len(prefix) + 16
