"""The engine's one seam to the Hadoop FileSystem — the counterpart of
the reference's `target_hdfs/utils/hdfs.py`, which keeps client, block
size and file moves in one module.

Every job under `plans/`, `sources/` and `streaming/` resolves its
FileSystem through :func:`filesystem`, looked up as
``storage.filesystem`` at call time, so one substitution of that name
(a fault-injecting proxy in the crash tests, say) reaches every job.
Paths resolve against the session's ``hadoopConfiguration``, so the
same code serves file://, hdfs:// and s3a:// destinations.

The commit protocols that sit on top (compaction manifest, directory
swap, upsert manifest) stay with the jobs that own them; this module
holds only the primitives they share.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

SUCCESS = "_SUCCESS"
_GLOB_SPECIAL = re.compile(r"([\\\[\]{}*?^-])")


def filesystem(spark: SparkSession, path: str):
    """``(fs, jvm)``: the Hadoop FileSystem that owns ``path``, plus the
    JVM view for building ``org.apache.hadoop.fs.Path`` objects."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.Path(path).getFileSystem(hconf), jvm


def block_size(spark: SparkSession, default: int) -> int:
    """``dfs.blocksize`` from the live Hadoop conf (no subprocess;
    reference: target_hdfs/utils/hdfs.py:34-41)."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return int(conf.getLongBytes("dfs.blocksize", default))


def glob(fs, jvm, directory: str, pattern: str) -> list:
    """FileStatus of ``directory``'s children matching the Hadoop glob
    ``pattern`` — one metadata call, however many children there are.
    ``directory`` is matched literally (its glob characters escaped)."""
    escaped = _GLOB_SPECIAL.sub(r"\\\1", directory.rstrip("/"))
    return list(fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{escaped}/{pattern}")) or [])


def read_text(fs, jvm, jpath) -> str:
    """The whole UTF-8 file at Hadoop path ``jpath``, in one JVM call
    (py4j cannot fill a Python buffer through ``read(byte[])``)."""
    stream = fs.open(jpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(fs, jpath, text: str) -> None:
    """Create (or overwrite) the file at ``jpath`` holding ``text``."""
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def is_committed(spark: SparkSession, directory: str) -> bool:
    """True once Spark's output committer published ``directory``'s
    ``_SUCCESS`` marker (written after every task committed)."""
    fs, jvm = filesystem(spark, directory)
    marker = jvm.org.apache.hadoop.fs.Path(f"{directory.rstrip('/')}/{SUCCESS}")
    return bool(fs.exists(marker))


def child_dirs(spark: SparkSession, root: str, prefix: str) -> dict[int, str]:
    """``id -> path`` for every ``<prefix>=<id>`` child directory of
    ``root`` with an integer id; empty when ``root`` is missing."""
    fs, jvm = filesystem(spark, root)
    jroot = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(jroot):
        return {}
    out = {}
    for st in fs.listStatus(jroot):
        key, _, ident = st.getPath().getName().partition("=")
        if st.isDirectory() and key == prefix and ident.isdigit():
            out[int(ident)] = f"{root.rstrip('/')}/{prefix}={ident}"
    return out


def committed_dirs(spark: SparkSession, root: str, prefix: str) -> dict[int, str]:
    """:func:`child_dirs` restricted to directories carrying
    ``_SUCCESS`` — a directory a crash left half-written (replayed
    later with identical content) is never exposed to readers."""
    fs, jvm = filesystem(spark, root)
    Path = jvm.org.apache.hadoop.fs.Path
    return {
        i: p
        for i, p in child_dirs(spark, root, prefix).items()
        if fs.exists(Path(f"{p}/{SUCCESS}"))
    }
