"""Perceptual-hash image dedup (phash_pairs): codec-level invariance,
the planted resized-copy recall pin, and exactness of the banded
verify against a brute-force Hamming sweep."""

from __future__ import annotations

import os

from data_engineering_challenge_spark.operators.multimodal import (
    FP_BITS,
    FP_MAX_HAMMING,
    _phash_doc_image,
    ahash60_of_bmp,
    encode_bmp,
    phash_pairs,
)


def _docs(spark, n, path):
    spark.range(n).selectExpr(
        "id AS doc_id", "'img' AS text", "'s' AS source"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    return path


def test_ahash_is_invariant_to_integer_nearest_upscale():
    """The perceptual property itself, on a handmade image: a 2x (and
    3x) nearest-neighbor upscale must hash identically to the original
    — downsampling to the 8x8 grid samples the same source pixels."""
    base = [
        [((3 * i + 7 * j) % 256, (5 * i + 11 * j) % 256, (i + 13 * j) % 256)
         for i in range(16)]
        for j in range(16)
    ]
    def enc(scale):
        def pix(x, y):
            r, g, b = base[y // scale][x // scale]
            return (b, g, r)  # BMP stores BGR
        return encode_bmp(16 * scale, 16 * scale, pix)

    h1 = ahash60_of_bmp(enc(1))
    assert h1 == ahash60_of_bmp(enc(2))
    assert h1 == ahash60_of_bmp(enc(3))
    assert 0 < h1 < (1 << FP_BITS)  # mixed bits, not degenerate


def test_phash_planted_resized_copies_pair(spark, tmp_path_factory):
    """Recall pin: in every synthetic group, v1 is a real 2x-resized
    BMP copy of v0 — the pair MUST be detected at Hamming 0. The full
    result must equal the brute-force set {pairs with Hamming <=
    threshold} (banding is pigeonhole-complete for the threshold, and
    the in-join verify must not over- or under-filter)."""
    n = 24  # 6 groups of 4 (original, resized, perturbed, foil)
    path = _docs(spark, n, str(tmp_path_factory.mktemp("phash")))
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in phash_pairs(spark, path).collect()
    }
    fps = [ahash60_of_bmp(_phash_doc_image(d)[2]) for d in range(n)]
    expect = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in range(n)
        for b in range(a + 1, n)
        if bin(fps[a] ^ fps[b]).count("1") <= FP_MAX_HAMMING
    }
    assert got == expect
    for g in range(n // 4):
        assert got[(4 * g, 4 * g + 1)] == 0, "resized copy must pair at Hamming 0"


def test_phash_perturbed_variant_hamming_is_small_but_not_all_zero():
    """The v2 perturbation (two sampled pixels blown to white/black)
    exists to exercise nonzero-Hamming verification: over many groups
    it must produce at least one pair with 1 <= hamming <= threshold
    (pure-python check — no Spark needed)."""
    nonzero = 0
    for g in range(64):
        f0 = ahash60_of_bmp(_phash_doc_image(4 * g)[2])
        f2 = ahash60_of_bmp(_phash_doc_image(4 * g + 2)[2])
        h = bin(f0 ^ f2).count("1")
        if 1 <= h <= FP_MAX_HAMMING:
            nonzero += 1
    assert nonzero > 0
