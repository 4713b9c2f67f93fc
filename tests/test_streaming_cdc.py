"""Streaming CDC apply: the folded snapshot must equal the batch
q143 rule over all changes seen so far (including delete tombstones
beating older upserts across micro-batch boundaries), and the
versioned-snapshot protocol must survive restart and replay."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from target_hdfs_spark.streaming.cdc import (
    classify_ops,
    current_state,
    latest_per_key,
    stream_cdc_apply,
)

SCHEMA = "user_id long, event_id long, ts timestamp, value double, event_type string"


def _write_jsonl(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as fh:
        for user_id, event_id, ts, value, etype in rows:
            fh.write(
                json.dumps(
                    {
                        "user_id": user_id,
                        "event_id": event_id,
                        "ts": ts,
                        "value": value,
                        "event_type": etype,
                    }
                )
                + "\n"
            )


def _run(spark, src, sink, ckpt):
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    q = stream_cdc_apply(spark, stream, str(sink), str(ckpt))
    q.awaitTermination(120)


def _to_df(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [
            (u, e, dt.datetime.fromisoformat(ts), v, t)
            for u, e, ts, v, t in rows
        ],
        SCHEMA,
    )


def _batch_rule(spark, rows):
    """q143's rule over the union of all changes."""
    df = _to_df(spark, rows)
    final = latest_per_key(classify_ops(df))
    return {
        (r.user_id, r.value)
        for r in final.filter(F.col("op") == "upsert").collect()
    }


ROWS_A = [
    (1, 10, "2024-01-01T10:00:00", 1.0, "view"),
    (1, 11, "2024-01-01T11:00:00", 2.0, "click"),     # key 1 -> 2.0
    (2, 12, "2024-01-01T10:30:00", 5.0, "purchase"),  # key 2 -> 5.0
    (3, 13, "2024-01-01T12:00:00", 7.0, "signup"),
    (3, 14, "2024-01-01T13:00:00", 0.0, "error"),     # key 3 deleted
]
ROWS_B = [
    (2, 20, "2024-01-02T09:00:00", 9.0, "view"),      # key 2 -> 9.0
    (3, 21, "2024-01-01T12:30:00", 8.0, "click"),     # OLDER than key 3's
                                                      # delete: must lose
    (4, 22, "2024-01-02T10:00:00", 4.0, "view"),      # new key
    (1, 23, "2024-01-02T11:00:00", 0.0, "error"),     # key 1 deleted
]


def test_stream_cdc_matches_batch_rule(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _write_jsonl(src / "a.jsonl", ROWS_A)
    _run(spark, src, sink, ckpt)
    got = {
        (r.user_id, r.final_value)
        for r in current_state(spark, str(sink)).collect()
    }
    assert got == _batch_rule(spark, ROWS_A) == {(1, 2.0), (2, 5.0)}


def test_tombstone_beats_older_upsert_across_batches(spark, tmp_path):
    """The adversarial CDC case: key 3's delete arrives in batch 1;
    batch 2 carries an out-of-order upsert with an OLDER timestamp.
    Without tombstone retention the key would resurrect."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _write_jsonl(src / "a.jsonl", ROWS_A)
    _run(spark, src, sink, ckpt)
    _write_jsonl(src / "b.jsonl", ROWS_B)
    _run(spark, src, sink, ckpt)
    got = {
        (r.user_id, r.final_value)
        for r in current_state(spark, str(sink)).collect()
    }
    expected = _batch_rule(spark, ROWS_A + ROWS_B)
    assert got == expected == {(2, 9.0), (4, 4.0)}  # 1 deleted, 3 stays dead


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """Simulate foreachBatch replay after a crash between snapshot
    write and checkpoint commit: re-running the fold for the same
    batch id must leave the state unchanged."""
    from target_hdfs_spark.streaming.sampling import snapshot_versions

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _write_jsonl(src / "a.jsonl", ROWS_A)
    _run(spark, src, sink, ckpt)
    before = {
        tuple(r) for r in current_state(spark, str(sink)).collect()
    }
    replay_id = max(snapshot_versions(spark, str(sink)))
    batch_df = _to_df(spark, ROWS_A)
    # re-invoke the fold exactly as Structured Streaming would on
    # replay, via the module's building blocks (the fold closure is
    # internal to stream_cdc_apply)
    prior = [v for v in snapshot_versions(spark, str(sink)) if v < replay_id]
    merged = latest_per_key(classify_ops(batch_df))
    if prior:
        prev = spark.read.parquet(f"{sink}/snap={max(prior)}").select(
            "user_id", "op", "value", "ts", "event_id"
        )
        merged = latest_per_key(
            prev.unionByName(merged.select("user_id", "op", "value", "ts", "event_id"))
        )
    merged.select("user_id", "op", "value", "ts", "event_id").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{sink}/snap={replay_id}")
    after = {
        tuple(r) for r in current_state(spark, str(sink)).collect()
    }
    assert after == before


def test_cdc_snapshot_write_fans_out_with_key_space(spark, tmp_path):
    """r6 verdict item 4: the snapshot write is no longer forced to a
    single partition. At an inflated key space (20k keys, two
    batches) the fold still equals the batch rule, AND the snapshot
    directory carries multiple part files once the state exceeds the
    AQE advisory size — the write scales with the key space instead
    of making one task the micro-batch straggler. The advisory size
    is pinned tiny for the test so 20k keys is "large"; production
    keeps the 64 MB default, so small states still land in one file."""
    import glob
    import time as _time

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    n = 20_000
    rows_a = [
        (i, i, f"2026-08-13T10:00:{i % 60:02d}", float(i), "view")
        for i in range(n)
    ]
    rows_b = [
        (i, n + i, f"2026-08-13T11:00:{i % 60:02d}", float(i * 2),
         "error" if i % 10 == 0 else "view")
        for i in range(0, n, 2)
    ]
    _write_jsonl(src / "a.jsonl", rows_a)
    # shrink BOTH AQE knobs: advisory sets the target partition size,
    # minPartitionSize (1MB default) is the coalescing floor that
    # would otherwise still merge a ~1MB test state into one task
    knobs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    prev = {k: spark.conf.get(k, None) for k in knobs}
    for k, v in knobs.items():
        spark.conf.set(k, v)
    try:
        t0 = _time.time()
        _run(spark, src, sink, ckpt)
        _write_jsonl(src / "b.jsonl", rows_b)
        _run(spark, src, sink, ckpt)
        wall = _time.time() - t0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    got = {
        (r.user_id, r.final_value)
        for r in current_state(spark, str(sink)).collect()
    }
    assert got == _batch_rule(spark, rows_a + rows_b)
    from target_hdfs_spark.streaming.sampling import snapshot_versions

    latest = max(snapshot_versions(spark, str(sink)))
    parts = glob.glob(f"{sink}/snap={latest}/part-*.parquet")
    assert len(parts) > 1, (
        f"snapshot write stayed single-partition ({len(parts)} file) "
        f"at 20k keys with an 8KB advisory — straggler guard regressed"
    )
    # observability breadcrumb for BENCH_NOTES-style review
    print(f"cdc fan-out: 2 batches over {n} keys in {wall:.2f}s, "
          f"{len(parts)} snapshot part files")
