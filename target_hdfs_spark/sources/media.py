"""Stored binary media columns (SURVEY.md §2B.2 L5 storage path).

The multimodal queries originally synthesized their blobs inside the
decode ``mapInPandas`` from ``doc_id`` — real codecs, but the measured
path skipped what a 100 TB multimodal corpus actually stresses first:
the parquet **binary-column scan**. This module materializes the same
deterministic blobs ONCE per scale-factor directory into a parquet
fixture with ``BinaryType`` columns plus typed metadata, and the
queries then read stored bytes like production would.

Layout (one row per document):

  doc_id        long     join key back to ``documents``
  image         binary   mixed corpus: even doc_ids valid JFIF/SOF0
                         JPEG, odd doc_ids valid PNG sig+IHDR (text
                         bytes as the entropy/IDAT payload) — q61
  image_png     binary   COMPLETE valid 8-bit RGB PNG (zlib IDAT,
                         mixed row filters) — q147
  audio_wav     binary   COMPLETE valid 16-bit mono PCM WAV — q152/q64
  video_avi     binary   valid RIFF/AVI ('00db' frames in a movi
                         LIST, word-aligned) — q153/q62
  img_format    string   'jpeg' | 'png'   (metadata, prunes pre-decode)
  img_width     int      header width     (metadata)
  img_height    int      header height    (metadata)
  wav_n_samples int      PCM frame count  (metadata)
  avi_n_frames  int      container frames (metadata)

The metadata columns exist so predicates prune row groups BEFORE any
blob is decoded — parquet column statistics make ``img_format =
'png'`` or ``avi_n_frames > 4`` a scan-level filter that never
deserializes the binary column for skipped groups (pinned by
tests/test_plans.py).

Build is fully distributed: one map-only ``mapInPandas`` pass over
``documents`` (no shuffle, no driver materialization), written with
Spark's parquet writer and committed by atomic directory rename — the
``_SUCCESS``-gated idempotent-build convention used by the streaming
sinks. At 100 TB the corpus already ARRIVES as stored binary columns,
so this builder is the fixture-ingest stand-in and the queries measure
the real shape: binary scan → Arrow batch → decode.

Cache keying: the fixture directory name hashes the absolute sf_dir
path plus the size/mtime of its ``documents.parquet``, so fanned
scale-sweep corpora and regenerated testdata each get their own build
and a stale fixture can never be read. Bump ``MEDIA_FORMAT_VERSION``
whenever any encoder formula changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from target_hdfs_spark.sources.readers import load_table

# bump when any stored-blob formula changes (invalidates all caches)
MEDIA_FORMAT_VERSION = 1

MEDIA_DDL = (
    "doc_id long, image binary, image_png binary, audio_wav binary, "
    "video_avi binary, img_format string, img_width int, img_height int, "
    "wav_n_samples int, avi_n_frames int"
)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def media_cache_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_MEDIA_CACHE", os.path.join(_REPO_ROOT, ".media_cache")
    )


def _docs_fingerprint(sf_dir: str) -> str:
    """Stable fingerprint of the documents table file(s): path + per-file
    (name, size, mtime_ns) so a regenerated corpus invalidates the cache."""
    path = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    h = hashlib.md5(f"v{MEDIA_FORMAT_VERSION}:{path}".encode())
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            st = os.stat(os.path.join(path, name))
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def media_path(sf_dir: str, cache_root: str | None = None) -> str:
    base = os.path.basename(os.path.abspath(sf_dir).rstrip("/"))
    return os.path.join(
        cache_root or media_cache_root(),
        f"{base}-{_docs_fingerprint(sf_dir)}",
        "media.parquet",
    )


def _encode_batches(batches):
    """Map-only encoder: documents (doc_id, text) -> media rows. The
    blob formulas are byte-identical to what the queries previously
    synthesized in-map (pinned by tests/test_media_store.py), so the
    unchanged DuckDB oracles prove the stored bytes round-trip."""
    import pandas as pd

    from target_hdfs_spark.operators.multimodal import (
        AVI_MAX_FRAMES,
        IMG_GROUPS,
        PCM_N,
        group_pixels,
        encode_avi,
        encode_jpeg,
        encode_pcm_wav,
        encode_png,
        encode_png_full,
    )

    for pdf in batches:
        rows = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            doc_id = int(doc_id)
            payload = str(text).encode("utf-8")
            w, h = doc_id % 127 + 1, doc_id % 97 + 1
            image = (
                encode_jpeg(w, h, payload)
                if doc_id % 2 == 0
                else encode_png(w, h, payload)
            )
            rows.append(
                (
                    doc_id,
                    image,
                    encode_png_full(group_pixels(doc_id % IMG_GROUPS)),
                    encode_pcm_wav(doc_id),
                    encode_avi(doc_id),
                    "jpeg" if doc_id % 2 == 0 else "png",
                    w,
                    h,
                    PCM_N,
                    1 + doc_id % AVI_MAX_FRAMES,
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "image",
                "image_png",
                "audio_wav",
                "video_avi",
                "img_format",
                "img_width",
                "img_height",
                "wav_n_samples",
                "avi_n_frames",
            ],
        )


def build_media(spark: SparkSession, sf_dir: str, dest: str) -> None:
    """Distributed one-time build, committed by atomic rename. Safe
    under concurrent builders: each writes its own tmp dir; the loser
    of the rename race discards its copy."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # pre-explosion rebalance (readers.fan_out rationale): the test
    # corpora are single-row-group files, and encoding is the
    # compute-amplifying stage here
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    tmp = f"{dest}.tmp.{os.getpid()}"
    docs.mapInPandas(_encode_batches, MEDIA_DDL).write.mode("overwrite").parquet(tmp)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    try:
        os.rename(tmp, dest)
    except OSError:
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race; done
        else:
            raise


def media_table(
    spark: SparkSession, sf_dir: str, cache_root: str | None = None
) -> DataFrame:
    """The stored-media scan for ``sf_dir`` — builds the fixture on
    first use (``_SUCCESS``-gated), then always returns a plain
    declarative parquet read so Catalyst keeps pushdown/pruning."""
    dest = media_path(sf_dir, cache_root)
    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        build_media(spark, sf_dir, dest)
    return spark.read.parquet(dest)
