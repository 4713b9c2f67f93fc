"""Row-level upsert (MERGE) and soft-delete over plain Parquet —
the read-modify-write generalization of the reference's defining
trick (download most-recent file, modify buffer, atomically replace:
target_hdfs/sinks.py:31-44 + utils/hdfs.py:56-73). The reference
mutates one file; these jobs mutate a dataset with the same
write-new-then-swap commit discipline.

Without a table format (Delta/Iceberg) an upsert must rewrite data
files; the cost control is *touching only the partitions that contain
affected keys*:

1. prune: find every partition holding an affected key — both the
   partitions the updates land in AND the partitions currently holding
   old copies of those keys (keys may move across partitions);
2. rewrite: for affected partitions only — anti-join out the updated
   keys, union the new rows, write to a temp dir;
3. commit: swap rewritten partitions in (stage-old -> rename-new ->
   delete-old, with crash recovery), leave every other partition
   byte-untouched.

Scale: an upsert touching 0.1% of partitions rewrites 0.1% of the
dataset; the key probe is a semi-join that prunes to partition values
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from target_hdfs_spark import storage
from target_hdfs_spark.plans.writer import SchemaChangedError, normalize


def _pending_deletes_path(jvm, path: str):
    return jvm.org.apache.hadoop.fs.Path(
        path.rstrip("/") + "/__upsert_pending_deletes"
    )


def _upsert_tmp_path(path: str) -> str:
    return path.rstrip("/") + "__upsert_tmp"


def _write_upsert_manifest(
    fs, jvm, path: str, written: list[str], to_delete: list[str]
) -> None:
    """Durably record the partitioned-merge commit plan BEFORE the
    partition-swap loop runs: `S <dir>` lines are partitions staged in
    the tmp dataset that must be swapped in, `D <dir>` lines are stale
    moved-key partitions that must be dropped once every swap has
    committed. Writing the plan first means a crash at ANY later point
    is recoverable by roll-forward (:func:`_recover_pending_deletes`);
    the old scheme (deletes-only manifest written after the swaps)
    left a window between the last swap and the manifest write where
    moved-key stale copies survived permanently.

    The ``#end`` terminator makes the manifest itself crash-safe: a
    write torn mid-flush leaves a file WITHOUT the terminator, and
    recovery treats that as "commit never started" (correct — the
    manifest completes before any swap runs) instead of rolling a
    partial plan forward."""
    lines = ["#upsert-manifest-v2"]
    lines += [f"S {n}" for n in written]
    lines += [f"D {n}" for n in to_delete]
    lines.append("#end")
    storage.write_text(fs, _pending_deletes_path(jvm, path), "\n".join(lines))


def _recover_pending_deletes(fs, jvm, path: str) -> None:
    """Roll an interrupted partitioned-merge commit forward. The
    manifest is written before the swap loop, so on entry each `S`
    partition is in one of two states — already committed (its tmp
    copy was renamed away) or still staged under the tmp dataset —
    and re-running the swap for the latter completes the commit.
    Only after every `S` partition is live are the `D` (stale
    moved-key) partitions dropped: their rows' replacements are
    guaranteed committed by then, so the deletes can never lose data.
    Legacy deletes-only manifests (no `#upsert-manifest-v2` header,
    written post-swap by older versions) execute directly. Idempotent
    throughout — a crash during recovery just recovers again."""
    man = _pending_deletes_path(jvm, path)
    if not fs.exists(man):
        return
    lines = storage.read_text(fs, jvm, man).splitlines()
    tmp = _upsert_tmp_path(path)
    tmp_jpath = jvm.org.apache.hadoop.fs.Path(tmp)
    if lines and lines[0] == "#upsert-manifest-v2":
        if not lines or lines[-1] != "#end":
            # torn manifest write: the plan is incomplete, but the
            # manifest is written BEFORE any swap, so nothing has
            # touched the live dataset — discard the aborted commit
            # (the caller's at-least-once retry re-runs the upsert)
            fs.delete(man, False)
            if fs.exists(tmp_jpath):
                fs.delete(tmp_jpath, True)
            return
        swaps = [ln[2:] for ln in lines[1:] if ln.startswith("S ")]
        deletes = [ln[2:] for ln in lines[1:] if ln.startswith("D ")]
        for name in swaps:
            staged = jvm.org.apache.hadoop.fs.Path(f"{tmp}/{name}")
            if fs.exists(staged):
                # stranded partition swaps were healed first, so the
                # destination is consistent (old or new content);
                # staged-still-present means this swap never committed.
                swap_dirs(fs, jvm, staged.toString(), f"{path.rstrip('/')}/{name}")
    else:
        deletes = [ln for ln in lines if ln]
    for name in deletes:
        p = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{name}")
        if name and fs.exists(p):
            fs.delete(p, True)
    fs.delete(man, False)
    if fs.exists(tmp_jpath):
        fs.delete(tmp_jpath, True)


def _recover_interrupted_partition_swaps(fs, jvm, path: str) -> None:
    """Heal the per-partition swap crash window of the partitioned
    upsert: a crash between staging a partition aside and committing
    its replacement strands `<col>=<v>__old` next to a missing
    `<col>=<v>`. This MUST run before any read of the dataset —
    Spark's partition discovery would parse `v__old` as a bogus
    partition value and surface stale rows. One glob finds the
    strands, so a healthy dataset costs one metadata call however
    many partitions it has."""
    for status in storage.glob(fs, jvm, path, "*=*__old"):
        if not status.isDirectory():
            continue
        name = status.getPath().getName()
        dst = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{name[: -len('__old')]}")
        if fs.exists(dst):
            # crash landed after the commit rename, before cleanup:
            # the new partition is live, drop the staged copy
            fs.delete(status.getPath(), True)
        elif not fs.rename(status.getPath(), dst):
            raise OSError(f"partition swap recovery failed: {name}")


def swap_dirs(fs, jvm, new_dir: str, dst_dir: str) -> None:
    """Directory replacement with no no-data window in normal
    operation: stage old aside, rename new in, delete old. The one
    crash window (between the two renames) leaves the data stranded at
    `dst__old`; every job that writes the dataset runs
    :func:`recover_dataset` on entry, so the next one heals it before
    reading or appending."""
    dst = jvm.org.apache.hadoop.fs.Path(dst_dir)
    old = jvm.org.apache.hadoop.fs.Path(dst_dir.rstrip("/") + "__old")
    new = jvm.org.apache.hadoop.fs.Path(new_dir)
    if fs.exists(old):
        fs.delete(old, True)
    had_old = fs.exists(dst)
    if had_old and not fs.rename(dst, old):
        raise OSError(f"swap: could not stage old dataset {dst}")
    if not fs.rename(new, dst):
        if had_old:
            fs.rename(old, dst)  # roll back
        raise OSError(f"swap: could not commit new dataset {dst}")
    if had_old:
        fs.delete(old, True)


def recover_dataset(spark: SparkSession, path: str, partitioned: bool = True) -> None:
    """Entry-point recovery for a dataset managed by the swap
    protocols: heal a whole-dataset swap stranded at `path__old`, and,
    when `partitioned`, per-partition swaps stranded at
    `<part>=<v>__old` and an interrupted partitioned-upsert commit
    (its manifest). Every engine job that writes the dataset runs this
    on entry — an append that recreated `path` first would let the
    next swap delete the stranded data. Exposed publicly so operators
    can also heal a dataset before handing it to plain readers.

    Cheap when healthy (a few metadata calls, no listing loop) and
    issues no rename or delete then. Like the swaps it heals, it
    assumes one writing job per dataset at a time."""
    fs, jvm = storage.filesystem(spark, path)
    Path = jvm.org.apache.hadoop.fs.Path
    dst = Path(path)
    if not fs.exists(dst):
        old = Path(path.rstrip("/") + "__old")
        if not fs.exists(old):
            return
        if not fs.rename(old, dst):
            raise OSError(f"swap recovery failed: {old} -> {dst}")
    if partitioned:
        _recover_interrupted_partition_swaps(fs, jvm, path)
        _recover_pending_deletes(fs, jvm, path)


def _norm_for_compare(schema, partition_col: str | None):
    """Schema items for the drift compare. The PARTITION column's type
    is excluded (name-only): hive directory-name type inference changes
    it on read-back (a string '20240101' comes back int), which would
    fail every second upsert — the same name-only posture
    writer.enforce_schema_unchanged takes for partition columns."""
    items = normalize(schema)
    if partition_col is None:
        return sorted(items)
    return sorted(
        (n, "<partition>") if n == partition_col else (n, t) for n, t in items
    )


def _keys_condition(left: DataFrame, right: DataFrame, keys: list[str]):
    """Null-safe equi-key condition: '=' never matches NULL = NULL, so
    a plain key-list join would DUPLICATE null-key rows on every
    upsert instead of replacing them (groupBy in
    _reject_duplicate_update_keys already treats NULLs as one key —
    the join must agree)."""
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(right[k])
        cond = c if cond is None else cond & c
    return cond


def _reject_duplicate_update_keys(updates: DataFrame, keys: list[str]) -> None:
    """Standard MERGE posture: multiple source rows per key is an
    error, not a silent double-insert (CDC batches must be reduced to
    latest-per-key first)."""
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        key_desc = ", ".join(f"{k}={dup[0][k]!r}" for k in keys)
        raise ValueError(
            f"updates contain multiple rows for key ({key_desc}); "
            "reduce to one row per key (e.g. latest by sequence) before upsert"
        )


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str | None = None,
) -> None:
    """MERGE `updates` into the Parquet dataset at `path`: rows whose
    `keys` match are replaced (wherever they currently live, including
    other partitions), new keys are inserted. Duplicate keys within
    `updates` are rejected.

    With `partition_col`, only partitions containing affected keys are
    rewritten (partition-pruned merge); without it the whole dataset
    rewrites (correct, priced for small tables).
    """
    if partition_col:
        from pyspark.sql import types as T

        ptype = updates.schema[partition_col].dataType
        if isinstance(ptype, T.BooleanType):
            # Spark's partition-directory type inference cannot
            # round-trip booleans (flag=true reads back as string), so
            # the second upsert would always fail the drift guard.
            raise ValueError(
                f"partition_col {partition_col!r} is boolean: Spark cannot "
                "round-trip boolean hive partitions; cast to string first"
            )
    _reject_duplicate_update_keys(updates, keys)
    recover_dataset(spark, path)
    fs, jvm = storage.filesystem(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
        # genuinely first write: nothing to merge. (An existence check,
        # NOT a bare try/except around the read — a transient read
        # failure must surface, not silently overwrite the dataset.)
        # Bootstrap MUST honor partition_col: an unpartitioned bootstrap
        # followed by a partitioned merge would rename partition dirs in
        # next to root-level part files and lose the untouched keys.
        writer = updates.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)
        return
    existing = spark.read.parquet(path)
    if _norm_for_compare(existing.schema, partition_col) != _norm_for_compare(
        updates.schema, partition_col
    ):
        raise SchemaChangedError(
            f"upsert schema drift at {path}: "
            f"{normalize(existing.schema)} != {normalize(updates.schema)}"
        )

    tmp = _upsert_tmp_path(path)

    if partition_col:
        # A partitioned merge over an unpartitioned layout would rename
        # partition dirs next to root-level part files and silently lose
        # data — refuse instead.
        base_jpath = jvm.org.apache.hadoop.fs.Path(path)
        for status in fs.listStatus(base_jpath):
            name = status.getPath().getName()
            if status.isFile() and not name.startswith(("_", ".")):
                raise ValueError(
                    f"upsert(partition_col={partition_col!r}) over an "
                    f"unpartitioned dataset at {path}: found root-level data "
                    f"file {name!r}; rewrite the dataset partitioned first"
                )
        # affected partitions = where updates land + where old copies
        # of the updated keys currently live (keys can move partitions).
        # Collect each value alongside its Spark string rendering: the
        # raw value drives the pruning filter, the string rendering is
        # what hive directory names decode to (bools, dates, timestamps
        # all render differently from Python str()).
        update_parts = updates.select(F.col(partition_col).alias("_p"))
        upd_keys = F.broadcast(updates.select(*keys))
        moved_parts = existing.join(
            upd_keys, _keys_condition(existing, upd_keys, keys), "left_semi"
        ).select(F.col(partition_col).alias("_p"))
        affected_rows = (
            update_parts.unionByName(moved_parts)
            .distinct()
            .select("_p", F.col("_p").cast("string").alias("_ps"))
            .collect()
        )
        affected = [r["_p"] for r in affected_rows]
        non_null = [v for v in affected if v is not None]
        cond = F.col(partition_col).isin(non_null)
        if None in affected:
            cond = cond | F.col(partition_col).isNull()
        kept = existing.filter(cond)
        anti_keys = F.broadcast(updates.select(*keys))
        merged = kept.join(
            anti_keys, _keys_condition(kept, anti_keys, keys), "left_anti"
        ).unionByName(updates)
        (
            merged.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(tmp)
        )
        # The partition directories Spark ACTUALLY wrote: the tmp
        # listing carries the hive-escaped names (%XX escapes,
        # __HIVE_DEFAULT_PARTITION__ for null). A rewritten partition
        # that came out EMPTY (all its rows were keys that moved away)
        # won't appear in tmp — those destinations must be dropped.
        written = [
            s.getPath().getName() for s in storage.glob(fs, jvm, tmp, "*=*") if s.isDirectory()
        ]
        # stale moved-key partitions: affected but produced no output
        # rows (every row they held was a key that moved elsewhere).
        # Compare decoded directory values against the SPARK string
        # rendering of each affected value (matches how Spark names
        # hive directories).
        affected_strs = {r["_ps"] for r in affected_rows if r["_ps"] is not None}
        written_set = set(written)
        base = jvm.org.apache.hadoop.fs.Path(path)
        to_delete = []
        for status in fs.listStatus(base):
            name = status.getPath().getName()
            if not status.isDirectory() or "=" not in name or name in written_set:
                continue
            value = _partition_value_of(name, partition_col)
            if (value is None and None in affected) or (
                value is not None and value in affected_strs
            ):
                to_delete.append(name)
        # Commit protocol: durably record the FULL plan (swaps AND
        # stale deletions) before touching the live dataset, so a crash
        # anywhere in the loop below is healed by roll-forward on the
        # next entry (_recover_pending_deletes re-runs un-committed
        # swaps from tmp, then executes the deletions). Deletions run
        # only after every swap commits — their rows' replacements are
        # live by then, so no crash point can lose data.
        _write_upsert_manifest(fs, jvm, path, written, to_delete)
        for name in written:
            # same stage-old/rename/rollback protocol as the
            # whole-dataset path — one implementation, two call sites
            swap_dirs(fs, jvm, f"{tmp}/{name}", f"{path.rstrip('/')}/{name}")
        for name in to_delete:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{name}"),
                True,
            )
        fs.delete(_pending_deletes_path(jvm, path), False)
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)
    else:
        anti_keys = F.broadcast(updates.select(*keys))
        merged = existing.join(
            anti_keys, _keys_condition(existing, anti_keys, keys), "left_anti"
        ).unionByName(updates)
        merged.write.mode("overwrite").parquet(tmp)
        swap_dirs(fs, jvm, tmp, path)


def _partition_value_of(dir_name: str, partition_col: str):
    """Decode a hive partition directory name back to its value
    (string-typed comparison; __HIVE_DEFAULT_PARTITION__ -> None)."""
    raw = dir_name.split("=", 1)[1]
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    from urllib.parse import unquote

    return unquote(raw)


def soft_delete_older_versions(
    spark: SparkSession,
    path: str,
    active_version: int,
    version_col: str = "_sdc_table_version",
    deleted_at_col: str = "_sdc_deleted_at",
    partition_cols: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> int:
    """Singer ACTIVATE_VERSION finalization: stamp `deleted_at_col` on
    every live row whose `version_col` predates `active_version`
    (soft delete — the SDK's non-hard-delete behavior). Returns the
    number of rows stamped. A missing dataset (stream that activated a
    version but never wrote records — a full-truncate refresh) is a
    no-op, not a crash.

    Implemented as a whole-dataset rewrite with the swap commit.
    ``partition_cols``/``fmt`` MUST match the stream's write config:
    a plain rewrite of a hive-partitioned dataset would flatten the
    partition column into a data column (the next partitioned append
    then produces a mixed layout Spark's discovery rejects), and a
    parquet read of an ORC stream fails outright. The read uses
    mergeSchema so an additively-evolved dataset keeps its newest
    columns through the rewrite.
    """
    if fmt not in ("parquet", "orc"):
        raise ValueError(
            f"soft_delete_older_versions supports native formats only, "
            f"got {fmt!r} (delta/iceberg manage versions in their own "
            "metadata layer)"
        )
    # recovery includes an interrupted partitioned upsert's commit
    # manifest: unhealed, the mergeSchema read below would resurrect
    # stale moved-key partitions INTO the rewrite, making the
    # duplicates permanent once swap_dirs replaces the dataset (and
    # its manifest) wholesale
    recover_dataset(spark, path)
    fs, jvm = storage.filesystem(spark, path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
        return 0
    existing = (
        spark.read.option("mergeSchema", "true").format(fmt).load(path)
    )
    if version_col not in existing.columns:
        return 0
    # NULL versions are rows written before any activation — they
    # predate the active version by definition and must retire with it
    # (a plain `<` comparison silently skips them: NULL < v is NULL)
    older = F.col(version_col).isNull() | (F.col(version_col) < active_version)
    stale = older & (
        F.col(deleted_at_col).isNull()
        if deleted_at_col in existing.columns
        else F.lit(True)
    )
    n_stale = existing.filter(stale).count()
    if n_stale == 0:
        return 0
    if deleted_at_col not in existing.columns:
        existing = existing.withColumn(deleted_at_col, F.lit(None).cast("timestamp"))
        stale = older & F.col(deleted_at_col).isNull()
    updated = existing.withColumn(
        deleted_at_col,
        F.when(stale, F.current_timestamp()).otherwise(F.col(deleted_at_col)),
    )
    tmp = path.rstrip("/") + "__softdel_tmp"
    writer = updated.write.mode("overwrite").format(fmt)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(tmp)
    swap_dirs(fs, jvm, tmp, path)
    return n_stale
