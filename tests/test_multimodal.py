"""Multimodal binary-column plumbing: real image resize, REAL audio
features (stdlib WAV decode + FFT band energies), REAL video frame
sampling (indexed motion-PNG random-access decode)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.fonts import render_text  # noqa: E402
from ocr_spark.operators.multimodal import (  # noqa: E402
    MEDIA_SCHEMA,
    N_MEL,
    audio_features,
    make_mpng,
    make_wav,
    resize_images,
    sample_frames,
)

# 440 Hz -> FFT bin 11 of a 400-sample window at 16 kHz (40 Hz/bin), which
# lands in band 0 of 8 contiguous bands over 201 rfft bins; 2400 Hz -> bin
# 60 -> band 2. Known geometry for the band-energy assertions below.
WAV_1S = make_wav([440.0, 2400.0], duration_ms=1000, sample_rate=16000)

# deterministic per-frame gradient patterns so frame decode is assertable
VID1_FRAMES = [
    ((np.arange(8 * 10, dtype=np.int64).reshape(8, 10) * (i + 3)) % 256)
    .astype(np.uint8)
    for i in range(25)
]
VID2_FRAMES = [np.full((4, 6), 40 * (i + 1), dtype=np.uint8)
               for i in range(3)]


@pytest.fixture(scope="module")
def media(spark):
    img = render_text("GRID VALUE TOKEN\nBATCH QUERY TABLE")
    rows = [
        ("img-1", "image", img.tobytes(),
         (img.shape[1], img.shape[0], None, None, None)),
        ("aud-1", "audio", WAV_1S, (None, None, 16000, 1000, None)),
        ("aud-bad", "audio", b"\x01\x02" * 512, (None, None, 16000, 1000, None)),
        ("vid-1", "video", make_mpng(VID1_FRAMES),
         (None, None, None, 1000, 25)),
        ("vid-2", "video", make_mpng(VID2_FRAMES), (None, None, None, 90, 3)),
        # malformed video rows: zero frames / zero duration / null meta /
        # undecodable payload — must be skipped, not fail the task
        ("vid-0f", "video", b"\x07" * 32, (None, None, None, 500, 0)),
        ("vid-0d", "video", b"\x08" * 32, (None, None, None, 0, 10)),
        ("vid-nm", "video", b"\x09" * 32, None),
        ("vid-junk", "video", b"\x03\x04" * 64, (None, None, None, 400, 4)),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA), img


def test_resize_images_real_nearest_neighbor(media):
    df, img = media
    out = {r["asset_id"]: r for r in resize_images(df, 12, 9).collect()}
    assert set(out) == {"img-1"}  # kind predicate keeps images only
    r = out["img-1"]
    got = np.frombuffer(r["payload"], dtype=np.uint8).reshape(9, 12)
    h, w = img.shape
    ys = (np.arange(9) * h) // 9
    xs = (np.arange(12) * w) // 12
    assert np.array_equal(got, img[ys[:, None], xs[None, :]])


def test_sample_frames_geometry_and_real_decode(media):
    df, _ = media
    rows = sample_frames(df, every_ms=200).collect()
    by_asset = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    # 1000 ms at 200 ms cadence -> 5 frames; 90 ms -> 1 frame; the four
    # malformed assets (incl. the non-MPNG payload) are skipped entirely
    assert set(by_asset) == {"vid-1", "vid-2"}
    assert len(by_asset["vid-1"]) == 5
    assert len(by_asset["vid-2"]) == 1
    v1 = sorted(by_asset["vid-1"], key=lambda r: r["ts_ms"])
    assert [r["ts_ms"] for r in v1] == [0, 200, 400, 600, 800]
    assert [r["frame_no"] for r in v1] == [0, 5, 10, 15, 20]
    # REAL random-access decode: sampled frames equal the planted arrays
    for r in v1:
        got = np.frombuffer(bytes(r["frame"]), dtype=np.uint8).reshape(
            r["height"], r["width"])
        assert np.array_equal(got, VID1_FRAMES[r["frame_no"]])
    v2 = by_asset["vid-2"][0]
    got = np.frombuffer(bytes(v2["frame"]), dtype=np.uint8).reshape(
        v2["height"], v2["width"])
    assert np.array_equal(got, VID2_FRAMES[v2["frame_no"]])


def test_audio_features_real_fft(media):
    df, _ = media
    rows = audio_features(df).collect()
    # aud-bad is not decodable WAV -> skipped, never fatal
    assert {r["asset_id"] for r in rows} == {"aud-1"}
    r = rows[0]
    assert r["n_windows"] == 40  # 16000 samples / 400-sample windows
    assert len(r["features"]) == N_MEL
    feats = np.asarray(r["features"], dtype=np.float64)
    # REAL spectral math: the planted 440 Hz / 2400 Hz tones concentrate
    # energy in bands 0 and 2; every other band stays near-silent
    loud, quiet = {0, 2}, set(range(N_MEL)) - {0, 2}
    assert min(feats[list(loud)]) > 10 * max(feats[list(quiet)])
    # and the values match an independent numpy recomputation bit-for-bit
    import io
    import wave

    with wave.open(io.BytesIO(WAV_1S), "rb") as wf:
        samples = np.frombuffer(
            wf.readframes(wf.getnframes()), dtype="<i2"
        ).astype(np.float64) / 32768.0
    frames = samples[:16000].reshape(40, 400)
    spec = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    edges = (np.arange(N_MEL + 1) * spec.shape[1]) // N_MEL
    want = np.log10(1.0 + np.stack(
        [spec[:, edges[b]:edges[b + 1]].sum(axis=1) for b in range(N_MEL)],
        axis=1)).mean(axis=0).astype(np.float32)
    assert np.array_equal(feats.astype(np.float32), want)
    # deterministic across invocations
    again = [x for x in audio_features(df).collect()
             if x["asset_id"] == "aud-1"][0]
    assert again["features"] == r["features"]


def test_payload_bytes_pruned_from_metadata_scans(spark, media, tmp_path):
    """Metadata-only queries over a parquet media table must not read
    payload bytes: column pruning reaches the scan (the property that
    makes opaque-binary + typed-metadata the right 100 TB schema)."""
    df, _ = media
    path = str(tmp_path / "media.parquet")
    df.write.parquet(path)
    meta_only = spark.read.parquet(path).select(
        "asset_id", "kind", "meta.duration_ms")
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    schemas = [ln.split("ReadSchema:", 1)[1]
               for ln in plan.splitlines() if "ReadSchema:" in ln]
    assert schemas and all("payload" not in s for s in schemas), plan
    # nested pruning: only duration_ms survives from the meta struct
    assert "duration_ms" in schemas[0] and "sample_rate" not in schemas[0]


def test_phash64_matches_naive_reference():
    """phash64's pooled-DCT pipeline vs an independent naive
    implementation (direct nested-loop DCT on the pooled image)."""
    import numpy as np

    from ocr_spark.operators.multimodal import phash64

    rng = np.random.default_rng(7)
    img = (rng.random((40, 72)) * 255).astype(np.uint8)

    # naive reference
    grid, block = 32, 8
    h, w = img.shape
    small = np.zeros((grid, grid))
    ys = [(i * h) // grid for i in range(grid + 1)]
    xs = [(i * w) // grid for i in range(grid + 1)]
    for i in range(grid):
        for j in range(grid):
            cell = img[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]
            small[i, j] = cell.mean() if cell.size else 0.0
    freq = np.zeros((grid, grid))
    for u in range(block):
        for v in range(block):
            cu = np.sqrt(1.0 / grid) if u == 0 else np.sqrt(2.0 / grid)
            cv = np.sqrt(1.0 / grid) if v == 0 else np.sqrt(2.0 / grid)
            s = 0.0
            for x in range(grid):
                for y in range(grid):
                    s += (small[x, y]
                          * np.cos((2 * x + 1) * u * np.pi / (2 * grid))
                          * np.cos((2 * y + 1) * v * np.pi / (2 * grid)))
            freq[u, v] = cu * cv * s
    lo = freq[:block, :block].flatten()[1:]
    med = np.median(lo)
    want = 0
    for b in (lo > med)[:64]:
        want = (want << 1) | int(b)
    assert phash64(img) == want


def test_phash_neardup_pairs_planted(spark):
    """Rendered pages + speckled twins: the band-bucketed pair join
    finds exactly the planted near-dups — no all-pairs scan, no false
    positives across different page contents."""
    import random

    import pandas as pd

    from ocr_spark.fonts import render_text
    from ocr_spark.operators.multimodal import (
        phash_blobs,
        phash_neardup_pairs,
    )
    from ocr_spark.preprocess import add_speckles

    texts = {
        "a": "alpha beta gamma delta\nepsilon zeta eta theta",
        "b": "the quick brown fox jumps over\nthe lazy dog again today",
        "c": "numbers 0123 4567 89 mixed\nwith words and spaces here",
        "d": "completely unrelated content\nfills this final page now",
    }
    rows = []
    for seed, (ref, t) in enumerate(sorted(texts.items())):
        img = render_text(t)
        rows.append((ref, img.shape[1], img.shape[0], img.tobytes()))
        sp = add_speckles(img, random.Random(100 + seed), 1)
        rows.append(("v" + ref, sp.shape[1], sp.shape[0], sp.tobytes()))
    media = spark.createDataFrame(
        pd.DataFrame(rows,
                     columns=["media_ref", "width", "height", "pixels"]),
    )
    hashes = phash_blobs(media)
    pairs = {(r["a"], r["b"])
             for r in phash_neardup_pairs(hashes, max_hamming=6,
                                          n_bands=8).collect()}
    assert pairs == {(k, "v" + k) for k in texts}


def test_phash_neardup_pairs_defaults_are_valid(spark):
    """The default (max_hamming, n_bands) satisfies the function's own
    pigeonhole guard: a 4-bit neighbour pairs, a 5-bit one does not."""
    from ocr_spark.operators.multimodal import phash_neardup_pairs

    df = spark.createDataFrame(
        [("a", 0), ("b", 0b1111), ("c", 0b11111 << 40), ("d", -1)],
        "media_ref string, phash long",
    )
    pairs = {(r["a"], r["b"], r["hamming"])
             for r in phash_neardup_pairs(df).collect()}
    assert pairs == {("a", "b", 4)}


def test_phash_neardup_rejects_bad_band_config(spark):
    import pytest as _pytest

    from ocr_spark.operators.multimodal import phash_neardup_pairs

    df = spark.createDataFrame([("x", 1)], "media_ref string, phash long")
    with _pytest.raises(ValueError, match="pigeonhole"):
        phash_neardup_pairs(df, max_hamming=4, n_bands=4)
