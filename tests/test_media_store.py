"""Stored binary media fixture (sources/media.py): byte-identity with
the encoder formulas, idempotent `_SUCCESS`-gated build, cache-key
invalidation, and race-loser cleanup."""

from __future__ import annotations

import os

import pytest

from target_hdfs_spark.operators.multimodal import (
    IMG_GROUPS,
    group_pixels,
    encode_avi,
    encode_jpeg,
    encode_pcm_wav,
    encode_png,
    encode_png_full,
)
from target_hdfs_spark.sources.media import (
    build_media,
    media_path,
    media_table,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("media_cache"))
    df = media_table(spark, SF_DIR, cache_root=root)
    return root, df


def test_stored_blobs_match_encoder_formulas(spark, media):
    """The stored bytes must be EXACTLY what the queries previously
    synthesized in-map — that identity is what lets the unchanged
    DuckDB oracles prove the parquet roundtrip."""
    _, df = media
    rows = {
        r["doc_id"]: r
        for r in df.filter("doc_id < 6").collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("doc_id < 6")
        .collect()
    }
    assert len(rows) == 6
    for doc_id, row in rows.items():
        payload = docs[doc_id].encode("utf-8")
        w, h = doc_id % 127 + 1, doc_id % 97 + 1
        expect_img = (
            encode_jpeg(w, h, payload)
            if doc_id % 2 == 0
            else encode_png(w, h, payload)
        )
        assert bytes(row["image"]) == expect_img
        assert bytes(row["image_png"]) == encode_png_full(
            group_pixels(doc_id % IMG_GROUPS)
        )
        assert bytes(row["audio_wav"]) == encode_pcm_wav(doc_id)
        assert bytes(row["video_avi"]) == encode_avi(doc_id)
        assert row["img_format"] == ("jpeg" if doc_id % 2 == 0 else "png")
        assert (row["img_width"], row["img_height"]) == (w, h)


def test_build_is_success_gated_and_idempotent(spark, media):
    """A second media_table call must NOT rebuild: the _SUCCESS marker
    gates the build, so the fixture files keep their mtimes."""
    root, _ = media
    dest = media_path(SF_DIR, cache_root=root)
    marker = os.path.join(dest, "_SUCCESS")
    assert os.path.exists(marker)
    before = os.stat(marker).st_mtime_ns
    media_table(spark, SF_DIR, cache_root=root)
    assert os.stat(marker).st_mtime_ns == before


def test_cache_key_tracks_documents_fingerprint(tmp_path):
    """Different sf_dirs (or a regenerated documents.parquet) must land
    in different cache directories — a stale fixture is unreachable."""
    a = media_path(SF_DIR, cache_root=str(tmp_path))
    b = media_path("/root/testdata/sf0.01", cache_root=str(tmp_path))
    assert a != b
    assert os.path.basename(os.path.dirname(a)).startswith("sf0.001-")


def test_rename_race_loser_discards_tmp(spark, media):
    """If another builder committed first, build_media must keep the
    winner's `_SUCCESS`-complete fixture and remove its own tmp dir."""
    root, _ = media
    dest = media_path(SF_DIR, cache_root=root)
    before = os.stat(os.path.join(dest, "_SUCCESS")).st_mtime_ns
    build_media(spark, SF_DIR, dest)  # dest already exists -> lost race
    assert os.stat(os.path.join(dest, "_SUCCESS")).st_mtime_ns == before
    leftovers = [
        d for d in os.listdir(os.path.dirname(dest)) if ".tmp." in d
    ]
    assert leftovers == []


def test_row_count_matches_documents(spark, media):
    _, df = media
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert df.count() == n_docs
