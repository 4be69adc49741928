"""Resize / frame-sample plumbing: exact block-mean semantics, artifact
round-trips, and the video container contract — the multimodal dataset-prep
stages whose outputs the hash-matched oracles (image_resize_stats,
video_frame_sample) verify end-to-end per round."""

import numpy as np

from s2geometry_d_spark.operators.multimodal import (
    frame_sample,
    image_checksum_stats,
    resize_images,
)
from s2geometry_d_spark.sources import images
from s2geometry_d_spark.sources.images import (
    H,
    W,
    fake_pixels,
    synth_images_cached,
    synth_videos,
    video_frame_seed,
)

from conftest import SF_DIR


def test_resize_is_exact_block_floor_mean(spark):
    imgs = synth_images_cached(spark, SF_DIR).limit(8)
    rows = {r["image_id"]: r for r in resize_images(imgs, 2).collect()}
    src = {r["image_id"]: r for r in imgs.collect()}
    assert rows.keys() == src.keys()
    for iid, r in rows.items():
        assert (r["w"], r["h"], r["fmt"]) == (W // 2, H // 2, "png")
        got = np.frombuffer(bytes(r["bytes"])[8:], dtype=np.uint8).reshape(
            H // 2, W // 2, 3
        )
        s = src[iid]
        base = np.frombuffer(bytes(s["bytes"])[8:], dtype=np.uint8).reshape(
            H, W, 3
        )
        want = (
            base.astype(np.uint32)
            .reshape(H // 2, 2, W // 2, 2, 3)
            .sum(axis=(1, 3))
            // 4
        ).astype(np.uint8)
        assert np.array_equal(got, want)


def test_resized_artifact_round_trips_through_stats(spark):
    """The resize OUTPUT is a readable image artifact: the checksum-stats
    kernel decodes it through the normal codec path at its own dims."""
    imgs = synth_images_cached(spark, SF_DIR).limit(4)
    out = image_checksum_stats(resize_images(imgs, 4)).collect()
    assert len(out) == 4
    for r in out:
        assert 0.0 <= r["mean_r"] <= 255.0 and r["checksum"] > 0


def test_frame_sample_extracts_exact_frames(spark):
    vids = synth_videos(spark, SF_DIR).limit(6)
    meta = {r["video_id"]: r["n_frames"] for r in vids.collect()}
    frames = frame_sample(vids, every=3).collect()
    want_count = sum(len(range(0, n, 3)) for n in meta.values())
    assert len(frames) == want_count
    for r in frames:
        doc_id = int(r["video_id"][3:])
        assert r["frame_idx"] % 3 == 0 and r["frame_idx"] < meta[r["video_id"]]
        got = np.frombuffer(bytes(r["bytes"])[8:], dtype=np.uint8).reshape(
            H, W, 3
        )
        assert np.array_equal(
            got, fake_pixels(video_frame_seed(doc_id, r["frame_idx"]))
        )
        assert r["image_id"] == f"{r['video_id']}#{r['frame_idx']}"


# -- audio leg --------------------------------------------------------------


def test_audio_codec_roundtrip():
    import numpy as np

    from s2geometry_d_spark.sources.audio import (
        decode_audio,
        fake_encode_audio,
        fake_samples,
    )

    s = fake_samples(42)
    assert s.dtype == np.int16 and len(s) == 4096
    out = decode_audio(fake_encode_audio(s))
    assert np.array_equal(out, s)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_audio(b"RIFF" + b"\0" * 100, "wav")


def test_audio_chunk_stats_match_reference(spark):
    import numpy as np

    from s2geometry_d_spark.operators.multimodal import audio_chunk_stats
    from s2geometry_d_spark.sources.audio import (
        AUDIO_SCHEMA,
        fake_encode_audio,
        fake_samples,
    )

    rows = [
        (f"aud{seed:012d}", fake_encode_audio(fake_samples(seed)), 16000, 4096, 1)
        for seed in (3, 77)
    ]
    df = spark.createDataFrame(rows, AUDIO_SCHEMA)
    got = {
        (r.audio_id, r.chunk_id): (r.mean_abs, r.peak, r.zero_crossings)
        for r in audio_chunk_stats(df).collect()
    }
    assert len(got) == 2 * 8  # 4096 / 512 chunks per clip
    # independent scalar re-derivation (explicit loop, no shared numpy path)
    for seed in (3, 77):
        s = [int(x) for x in fake_samples(seed)]
        for k in range(8):
            c = s[k * 512 : (k + 1) * 512]
            mean_abs = round(sum(abs(x) for x in c) / 512.0, 6)
            peak = max(abs(x) for x in c)
            zc = sum(
                1 for a, b in zip(c, c[1:]) if (a >= 0) != (b >= 0)
            )
            assert got[(f"aud{seed:012d}", k)] == (mean_abs, peak, zc)


def test_fake_pixels_equals_the_batch_render_without_overflow_warning():
    """``fake_pixels`` keeps the bytes of its uint32 hash, equal to
    ``fake_pixels_batch`` row for row, and its intended wrap raises no
    RuntimeWarning (seed 5 wraps the first product)."""
    import warnings

    from s2geometry_d_spark.sources.images import fake_pixels_batch

    seeds = [0, 1, 5, 4_000_000, video_frame_seed(77, 3), 2**32 - 1]
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = [fake_pixels(s) for s in seeds]
    batch = fake_pixels_batch(np.asarray(seeds))
    for s, g, b in zip(seeds, got, batch):
        assert g.dtype == np.uint8 and g.shape == (H, W, 3)
        assert g.tobytes() == b.tobytes(), s
    # the scalar formula the function had, wrap and all
    with np.errstate(over="ignore"):
        v = (np.uint32(5) * np.uint32(2654435761) + images._YXC) * np.uint32(2246822519)
    assert got[2].tobytes() == ((v >> np.uint32(16)) & np.uint32(0xFF)).astype(np.uint8).tobytes()
