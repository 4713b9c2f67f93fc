"""Small-file compaction — the Spark-native equivalent of the
reference's defining append-to-recent-file behavior (SURVEY.md §4.3).

The reference keeps file counts low by downloading the most recent
HDFS file when it is under 85% of the block size, seeding its buffer
with it, and later rewriting it in place (reference:
target_hdfs/sinks.py:31-44, target_hdfs/utils/hdfs.py:91-117). Spark
cannot append rows to an existing Parquet file, so the engine
(a) prevents small files at write time (plans/writer.py sizing) and
(b) repairs them with this job: gather all undersized files in a
stream directory, rewrite them as consolidated files into a temp dir,
then commit by moving the new files in and deleting the old ones —
the same write-new-then-swap commit the reference performs per file
(reference: target_hdfs/utils/hdfs.py:56-73), generalized from "the
most recent file" to "all undersized files" (the mtime-max selection
at hdfs.py:85-88 is the k=1 special case).

Guards preserved:
- strict schema equality before touching anything (hdfs.py:111-116);
- `skip_existing_files` / `partition_cols` opt-outs mirror the
  reference's disabling of append mode (sinks.py:38, target.py:39-44)
  — partitioned datasets are compacted per partition directory.

Scale: listing and planning are Hadoop-FS metadata calls; the rewrite
reads only undersized files (never the healthy ones) and is one
narrow Spark job per directory. Safe to run while writers append new
files: the job only ever deletes files it read.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import SparkSession

from target_hdfs_spark import storage
from target_hdfs_spark.plans.upsert import recover_dataset
from target_hdfs_spark.plans.writer import (
    BLOCK_FILL_FACTOR,
    SchemaChangedError,
    get_block_size,
    normalize,
)


@dataclass(frozen=True)
class FileEntry:
    path: str
    size: int
    mtime: int


@dataclass(frozen=True)
class CompactionReport:
    directory: str
    files_before: int
    files_compacted: int
    files_after: int
    bytes_compacted: int


MANIFEST_NAME = "_compact_manifest.json"


def _manifest_path(jvm, directory: str):
    return jvm.org.apache.hadoop.fs.Path(f"{directory.rstrip('/')}/{MANIFEST_NAME}")


def _write_manifest(fs, jvm, directory: str, input_names: list[str]) -> None:
    """Atomically publish the commit intent: the exact input files the
    in-flight compaction will delete. Written AFTER the consolidated
    tmp files are durable, BEFORE any of them moves in — from that
    point the commit can always be completed by recovery."""
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{directory.rstrip('/')}/{MANIFEST_NAME}.tmp"
    )
    dst = _manifest_path(jvm, directory)
    storage.write_text(fs, tmp, json.dumps({"inputs": input_names}))
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise OSError(f"could not publish compaction manifest in {directory}")


def _move_tmp_files_in(fs, jvm, tmp_path, directory: str) -> int:
    moved = 0
    for status in fs.listStatus(tmp_path):
        name = status.getPath().getName()
        if status.isFile() and (
            name.endswith(".parquet") or name.endswith(".orc")
        ):
            dest = jvm.org.apache.hadoop.fs.Path(
                f"{directory.rstrip('/')}/compacted-{status.getModificationTime()}-{moved}-{name}"
            )
            if not fs.rename(status.getPath(), dest):
                raise OSError(f"rename failed: {status.getPath()} -> {dest}")
            moved += 1
    return moved


def _recover_interrupted_compaction(fs, jvm, directory: str) -> None:
    """Complete a compaction commit that crashed mid-way. The manifest
    marks the point of no return: once it exists, the consolidated
    files are durable in the tmp dir, so recovery finishes the commit
    (move remaining tmp files in, delete the listed inputs, drop the
    manifest). Without this, a crash between move-in and input-delete
    would leave the rows duplicated PERMANENTLY — and a rerun would
    bake the duplicates into the compacted output."""
    man = _manifest_path(jvm, directory)
    if not fs.exists(man):
        return
    inputs = json.loads(storage.read_text(fs, jvm, man))["inputs"]
    tmp_path = jvm.org.apache.hadoop.fs.Path(directory.rstrip("/") + "/_compact_tmp")
    if fs.exists(tmp_path):
        _move_tmp_files_in(fs, jvm, tmp_path, directory)
        fs.delete(tmp_path, True)
    for name in inputs:
        p = jvm.org.apache.hadoop.fs.Path(f"{directory.rstrip('/')}/{name}")
        if fs.exists(p):
            fs.delete(p, False)
    fs.delete(man, False)


def list_data_files(
    spark: SparkSession, directory: str, fmt: str = "parquet"
) -> list[FileEntry]:
    """Non-recursive data-file listing for the dataset's format
    (``.parquet`` or ``.orc`` — the engine's two native sinks); empty
    when the directory is missing (reference:
    target_hdfs/utils/hdfs.py:76-82)."""
    suffix = f".{fmt}"
    fs, jvm = storage.filesystem(spark, directory)
    jpath = jvm.org.apache.hadoop.fs.Path(directory)
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        p = status.getPath().toString()
        if status.isFile() and p.endswith(suffix):
            out.append(FileEntry(p, int(status.getLen()), int(status.getModificationTime())))
    return out


def list_parquet_files(spark: SparkSession, directory: str) -> list[FileEntry]:
    """Backward-compatible parquet listing (see list_data_files)."""
    return list_data_files(spark, directory, "parquet")


def most_recent_file(spark: SparkSession, directory: str) -> FileEntry | None:
    """Max-mtime parquet file (reference: target_hdfs/utils/hdfs.py:85-88)."""
    files = list_parquet_files(spark, directory)
    return max(files, key=lambda f: f.mtime) if files else None


def list_partition_dirs(spark: SparkSession, directory: str) -> list[str]:
    """Leaf `col=value` directories of a (possibly multi-column)
    partitioned dataset — recurses through nested partition levels
    (`year=2024/month=1/...`) and returns the directories that
    actually hold data files; a single-level listing would make the
    repair job a silent no-op for multi-column partitioning."""
    fs, jvm = storage.filesystem(spark, directory)
    jpath = jvm.org.apache.hadoop.fs.Path(directory)
    if not fs.exists(jpath):
        return []
    leaves: list[str] = []

    def walk(p) -> None:
        children = [
            s for s in fs.listStatus(p)
            if s.isDirectory() and "=" in s.getPath().getName()
        ]
        if children:
            for s in children:
                walk(s.getPath())
        elif "=" in p.getName():
            leaves.append(p.toString())

    walk(jpath)
    return leaves


def compact_directory(
    spark: SparkSession,
    directory: str,
    size_limit: int | None = None,
    expected_schema=None,
    compression: str = "gzip",
    fmt: str = "parquet",
) -> CompactionReport:
    """Merge all undersized data files in one directory.

    `size_limit` defaults to 85% of the FS block size (reference:
    target_hdfs/utils/hdfs.py:97-101). Files >= the limit are never
    touched (the reference's new-file condition, hdfs.py:104-106).
    `compression` should match the dataset's configured codec
    (TargetConfig.compression, default gzip) so compaction never
    silently changes the codec of a dataset.
    """
    limit = size_limit or int(get_block_size(spark) * BLOCK_FILL_FACTOR)
    fs, jvm = storage.filesystem(spark, directory)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(directory)):
        _recover_interrupted_compaction(fs, jvm, directory)
    files = list_data_files(spark, directory, fmt)
    small = [f for f in files if f.size < limit]
    report = CompactionReport(directory, len(files), 0, len(files), 0)
    if len(small) < 2:
        return report

    # mergeSchema: an additively-evolved directory mixes old files
    # missing newer columns with new files that have them; a
    # single-footer schema pick would silently DROP those columns and
    # the originals are deleted below — permanent data loss.
    small_df = (
        spark.read.option("mergeSchema", "true")
        .format(fmt)
        .load([f.path for f in small])
    )
    if expected_schema is not None and normalize(small_df.schema) != normalize(
        expected_schema
    ):
        raise SchemaChangedError(
            f"compaction schema drift at {directory}: "
            f"{normalize(small_df.schema)} != {normalize(expected_schema)}"
        )

    # tmp dir INSIDE the directory with a leading underscore: Spark and
    # Hive skip `_`/`.`-prefixed paths during listing and partition
    # discovery, so concurrent readers of a partitioned root never see
    # the in-flight rewrite (a sibling dir named `<part>=v__compact_tmp`
    # would surface as a bogus partition value with duplicate rows).
    tmp_dir = directory.rstrip("/") + "/_compact_tmp"
    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp_dir)
    if fs.exists(tmp_path):
        fs.delete(tmp_path, True)

    total_bytes = sum(f.size for f in small)
    n_out = max(1, -(-total_bytes // limit))  # ceil-div: fill to the limit
    # ORC names its codecs differently (gzip -> zlib); translate the
    # config-level codec name the same way the writer does, so an ORC
    # compaction with default args doesn't fail at write time.
    if fmt == "orc":
        from target_hdfs_spark.config import ORC_COMPRESSION

        compression = ORC_COMPRESSION.get(compression, compression)
    (
        small_df.repartition(n_out)
        .write.mode("overwrite")
        .option("compression", compression)
        .format(fmt)
        .save(tmp_dir)
    )

    # Commit: publish the manifest (intent = these inputs are now
    # superseded by the durable tmp files), move consolidated files
    # in, delete the inputs, drop the manifest. New data becomes
    # visible before old data disappears, so a concurrent reader sees
    # duplicates at worst, never a gap (same ordering as the
    # reference's copy-to-_new-then-rename, target_hdfs/utils/
    # hdfs.py:56-73) — and a crash anywhere after the manifest is
    # finished by _recover_interrupted_compaction on the next run.
    input_names = [f.path.rstrip("/").rsplit("/", 1)[-1] for f in small]
    _write_manifest(fs, jvm, directory, input_names)
    moved = _move_tmp_files_in(fs, jvm, tmp_path, directory)
    for f in small:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f.path), False)
    fs.delete(tmp_path, True)
    fs.delete(_manifest_path(jvm, directory), False)

    return CompactionReport(
        directory=directory,
        files_before=len(files),
        files_compacted=len(small),
        files_after=len(files) - len(small) + moved,
        bytes_compacted=total_bytes,
    )


def compact_stream(
    spark: SparkSession,
    stream_dir: str,
    size_limit: int | None = None,
    partitioned: bool = False,
    compression: str = "gzip",
    fmt: str = "parquet",
) -> list[CompactionReport]:
    """Compact a stream directory; partitioned datasets are handled
    per partition child so partition layout is preserved (the
    reference disables append mode entirely for partition_cols,
    reference: target_hdfs/sinks.py:38 — compacting within each
    partition directory is the generalization that keeps its
    invariant: files never move across partition boundaries).

    Entry recovery first (`upsert.recover_dataset`): a partition swap
    stranded at `<col>=<v>__old` would otherwise be listed, and
    compacted, as a partition of its own."""
    recover_dataset(spark, stream_dir, partitioned=partitioned)
    dirs = list_partition_dirs(spark, stream_dir) if partitioned else [stream_dir]
    return [
        compact_directory(spark, d, size_limit, compression=compression, fmt=fmt)
        for d in dirs
    ]
