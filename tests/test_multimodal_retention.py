"""Cross-modal retention plan: greedy keep-first semantics pinned
against a brute-force recomputation from the per-modality evidence
(exact text fp groups + image/audio fingerprint Hamming pairs)."""

from __future__ import annotations

import os

from data_engineering_challenge_spark.operators.multimodal import (
    FP_MAX_HAMMING,
    _phash_doc_image,
    _wavhash_doc_audio,
    ahash60_of_bmp,
    multimodal_retention_plan,
    wavhash60_of_wav,
)


def test_multimodal_retention_matches_bruteforce(spark, tmp_path_factory):
    n = 24
    # texts: docs 0 and 8 are exact dups of doc 4 after normalization
    # (case/whitespace differences only); doc 12 has NULL text (must
    # stay a singleton, not pair with other NULLs); doc 16 empty-ish
    texts = [f"unique text {i}" for i in range(n)]
    texts[0] = "Shared   Body"
    texts[4] = "shared body"
    texts[8] = "  SHARED  BODY "
    texts[12] = None
    texts[13] = None
    path = str(tmp_path_factory.mktemp("mmret"))
    spark.createDataFrame(
        [(i, texts[i], "s") for i in range(n)], "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )

    got = {
        r["doc_id"]: (
            r["min_partner"], r["text_partners"], r["img_partners"], r["audio_partners"]
        )
        for r in multimodal_retention_plan(spark, path).collect()
    }

    # brute force: text groups by normalized content; image/audio by
    # full Hamming sweep over the synthesized fingerprints
    def norm(t):
        return " ".join(t.lower().split()) if t is not None else None

    text_groups: dict[str, list[int]] = {}
    for i in range(n):
        nm = norm(texts[i])
        if nm is not None:
            text_groups.setdefault(nm, []).append(i)
    ifps = [ahash60_of_bmp(_phash_doc_image(d)[2]) for d in range(n)]
    afps = [wavhash60_of_wav(_wavhash_doc_audio(d)[1]) for d in range(n)]
    expect: dict[int, list] = {}
    for g in text_groups.values():
        g.sort()
        for rank, d in enumerate(g):
            if rank > 0:
                expect.setdefault(d, [None, 0, 0, 0])
                expect[d][1] = rank
                expect[d][0] = g[0] if expect[d][0] is None else min(expect[d][0], g[0])
    for fps, slot, maxh in ((ifps, 2, FP_MAX_HAMMING), (afps, 3, FP_MAX_HAMMING)):
        for b in range(n):
            partners = [
                a for a in range(b)
                if bin(fps[a] ^ fps[b]).count("1") <= maxh
            ]
            if partners:
                expect.setdefault(b, [None, 0, 0, 0])
                expect[b][slot] = len(partners)
                m = min(partners)
                expect[b][0] = m if expect[b][0] is None else min(expect[b][0], m)
    assert got == {k: tuple(v) for k, v in expect.items()}
    # the planted structural pins: text dups of doc 4's content drop
    # 4 and 8 (keep 0); every group's v1/v2-style image and audio
    # near-dups appear with nonzero modality counts
    assert got[4][1] == 1 and got[8][1] == 2 and got[8][0] == 0
    assert 12 not in {k for k, v in got.items() if v[1] > 0}, "NULL text never text-pairs"
    assert any(v[2] > 0 for v in got.values()) and any(v[3] > 0 for v in got.values())


def test_multimodal_retention_apply_consistency(spark, tmp_path_factory):
    """The apply half must materialize exactly {all docs} minus the
    plan's drop set, and the per-source report must balance
    (total = kept + dropped) with the checksum recomputed brute-force
    over the surviving docs' texts."""
    import hashlib

    from data_engineering_challenge_spark.operators.multimodal import (
        apply_multimodal_retention,
        multimodal_retention_apply,
    )

    n = 24
    texts = [f"t {i}" if i % 7 else None for i in range(n)]
    texts[3] = texts[19] = "same body"
    path = str(tmp_path_factory.mktemp("mmapply"))
    spark.createDataFrame(
        [(i, texts[i], f"s{i % 2}", len(texts[i]) if texts[i] else 0) for i in range(n)],
        "doc_id long, text string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )

    plan_drops = {
        r["doc_id"] for r in multimodal_retention_plan(spark, path).collect()
    }
    kept_ids = {r["doc_id"] for r in apply_multimodal_retention(spark, path).collect()}
    assert kept_ids == set(range(n)) - plan_drops
    assert 19 in plan_drops and 3 not in plan_drops  # exact-text pair

    rep = {r["source"]: r for r in multimodal_retention_apply(spark, path).collect()}
    for src in ("s0", "s1"):
        r = rep[src]
        assert r["docs_total"] == r["docs_kept"] + r["docs_dropped"] == n // 2
        exp_kept = [i for i in kept_ids if f"s{i % 2}" == src]
        assert r["docs_kept"] == len(exp_kept)
        csum = sum(
            int(hashlib.md5(texts[i].encode()).hexdigest()[:15], 16)
            for i in exp_kept if texts[i] is not None
        ) % (1 << 40)
        assert r["kept_content_sum"] == csum
