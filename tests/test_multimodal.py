"""Multimodal plumbing: schemas, batch shapes, deterministic fake
decode, stub gating, phash blocking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators.multimodal import (
    image_features,
    near_duplicate_images,
    sample_frames,
    synthetic_media,
)


@pytest.fixture(scope="module")
def media(spark):
    df = synthetic_media(spark, 100).cache()
    df.count()
    return df


def test_media_schema(media):
    assert media.columns == [
        "media_id", "kind", "payload", "mime", "width", "height", "duration_ms",
    ]
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "video"}


def test_image_features_deterministic(media):
    f1 = {r["media_id"]: (r["phash"], r["mean_luma"]) for r in image_features(media).collect()}
    f2 = {
        r["media_id"]: (r["phash"], r["mean_luma"])
        for r in image_features(media.repartition(7)).collect()
    }
    assert f1 == f2
    assert len(f1) == media.where(F.col("kind") == "image").count()


def test_planted_duplicates_same_phash(media):
    feats = image_features(media)
    # rows 10k+1 duplicate rows 10k (synthetic_media contract)
    by_id = {r["media_id"]: r["phash"] for r in feats.collect()}
    for base in ("m000010", "m000020", "m000030"):
        dup = base[:-1] + "1"
        if base in by_id and dup in by_id:
            assert by_id[base] == by_id[dup]


def test_stub_decoder_raises(spark, media):
    with pytest.raises(Exception) as exc_info:
        image_features(media, decoder="stub").collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_frame_sampling_fanout(media):
    frames = sample_frames(media, every_ms=1000)
    n_videos = media.where(F.col("kind") == "video").count()
    rows = frames.collect()
    assert len(rows) == n_videos * 3  # 3500ms // 1000ms = 3 frames each
    per_vid = {}
    for r in rows:
        per_vid.setdefault(r["media_id"], set()).add(r["frame_idx"])
    assert all(v == {0, 1, 2} for v in per_vid.values())


def test_near_duplicate_images_blocking(media):
    feats = image_features(media)
    pairs = near_duplicate_images(feats, max_hamming=0)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    # every planted dup pair of image kind must be found
    for r in media.where((F.col("kind") == "image")).collect():
        idx = int(r["media_id"][1:])
        if idx % 10 == 1 and (idx - 1) % 5 != 4:
            assert (f"m{idx-1:06d}", r["media_id"]) in got
    # and all found pairs are hamming<=0 i.e. equal phash
    feats_map = {r["media_id"]: r["phash"] for r in feats.collect()}
    for a, b in got:
        assert feats_map[a] == feats_map[b]


def test_banded_hamming_rejects_broken_pigeonhole(spark):
    """max_hamming >= n_bands would silently miss pairs differing by
    one bit per band — must raise."""
    import pytest

    from dedupe_spark.operators.pairs import banded_hamming_pairs

    df = spark.createDataFrame([("a", 1), ("b", 2)], "media_id string, phash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        banded_hamming_pairs(df, "media_id", "phash", max_hamming=4, n_bands=4)


def test_real_codec_path_when_pillow_available(spark):
    """decoder='real': runs the actual Pillow decode through the same
    mapInPandas plumbing. Skipped where Pillow is absent (this
    container) — the import guard itself is tested below either way."""
    PIL = pytest.importorskip("PIL")
    import io as _io

    from PIL import Image

    from dedupe_spark.operators.multimodal import image_features

    def png(seed: int) -> bytes:
        img = Image.new("L", (16, 16), color=seed % 256)
        buf = _io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    media = spark.createDataFrame(
        [(f"m{i}", "image", png(i), 16, 16) for i in range(4)],
        "media_id string, kind string, payload binary, width int, height int",
    )
    feats = image_features(media, decoder="real").collect()
    assert len(feats) == 4
    # deterministic: same payload → same phash on a second pass
    again = image_features(media, decoder="real").collect()
    assert {(r["media_id"], r["phash"]) for r in feats} == {
        (r["media_id"], r["phash"]) for r in again
    }


def test_real_codec_guard_is_loud_without_pillow():
    """Where Pillow is missing, decoder='real' must raise
    NotImplementedError naming the dependency — never silently fall
    back to the fake twin."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present — the guard path is unreachable")
    except ImportError:
        pass
    from dedupe_spark.operators.multimodal import _decode

    with pytest.raises(NotImplementedError, match="Pillow"):
        _decode(b"not-an-image", "real")
