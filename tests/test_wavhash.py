"""Audio-fingerprint dedup (wavhash_pairs): resample invariance at the
codec level, the planted resampled-copy recall pin, and exactness of
the shared banded verify against a brute-force Hamming sweep."""

from __future__ import annotations

import os

from data_engineering_challenge_spark.operators.multimodal import (
    FP_MAX_HAMMING,
    _wavhash_doc_audio,
    encode_wav,
    resample_nearest,
    wavhash60_of_wav,
    wavhash_pairs,
)


def _docs(spark, n, path):
    spark.range(n).selectExpr(
        "id AS doc_id", "'wav' AS text", "'s' AS source"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    return path


def test_wavhash_is_invariant_to_integer_nearest_resample():
    """The perceptual property itself, on a handmade clip: a 2x (and
    3x) nearest-neighbor resample must hash identically to the
    original — every frame's energy scales by the same ratio, so the
    average-energy threshold comparison is unchanged."""
    base = [((131 * k) % 65536) - 32768 for k in range(240)]
    h1 = wavhash60_of_wav(encode_wav(8000, base))
    h2 = wavhash60_of_wav(encode_wav(16000, resample_nearest(base, 2.0)))
    h3 = wavhash60_of_wav(encode_wav(24000, resample_nearest(base, 3.0)))
    assert h1 == h2 == h3
    assert h1 > 0  # mixed bits, not degenerate


def test_wavhash_planted_resampled_copies_pair(spark, tmp_path_factory):
    """Recall pin: in every synthetic group, v1 is a real 2x-resampled
    WAV copy of v0 stored at twice the sample rate — the pair MUST be
    detected at Hamming 0. The full result must equal the brute-force
    set {pairs with Hamming <= threshold} (banding is pigeonhole-
    complete for the threshold, and the in-join verify must not over-
    or under-filter)."""
    n = 24  # 6 groups of 4 (original, resampled, perturbed, foil)
    path = _docs(spark, n, str(tmp_path_factory.mktemp("wavhash")))
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in wavhash_pairs(spark, path).collect()
    }
    fps = [wavhash60_of_wav(_wavhash_doc_audio(d)[1]) for d in range(n)]
    expect = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a in range(n)
        for b in range(a + 1, n)
        if bin(fps[a] ^ fps[b]).count("1") <= FP_MAX_HAMMING
    }
    assert got == expect
    for g in range(n // 4):
        assert got[(4 * g, 4 * g + 1)] == 0, "resampled copy must pair at Hamming 0"


def test_wavhash_perturbed_variant_hamming_is_small_but_not_all_zero():
    """The v2 perturbation (one sample blown to full scale, one to
    silence) exists to exercise nonzero-Hamming verification: over
    many groups it must produce at least one pair with 1 <= hamming <=
    threshold (pure-python check — no Spark needed)."""
    nonzero = 0
    for g in range(64):
        f0 = wavhash60_of_wav(_wavhash_doc_audio(4 * g)[1])
        f2 = wavhash60_of_wav(_wavhash_doc_audio(4 * g + 2)[1])
        h = bin(f0 ^ f2).count("1")
        if 1 <= h <= FP_MAX_HAMMING:
            nonzero += 1
    assert nonzero > 0


def test_wavhash_rates_follow_variant():
    """v1 is stored at twice v0's sample rate — the 'same clip, two
    ingest rates' scenario the fingerprint exists to catch — and the
    payload really is RIFF (decode round-trips the sample count)."""
    from data_engineering_challenge_spark.operators.multimodal import decode_wav

    r0, p0 = _wavhash_doc_audio(0)
    r1, p1 = _wavhash_doc_audio(1)
    assert (r0, r1) == (8000, 16000)
    assert len(decode_wav(p1)[1]) == 2 * len(decode_wav(p0)[1])
