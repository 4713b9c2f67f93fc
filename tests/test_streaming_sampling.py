"""Streaming priority sample: the running top-k over a stream must
equal the batch q121 rule over all documents seen so far, and the
snapshot protocol must survive restart."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from target_hdfs_spark.streaming.sampling import (
    KEEP_SNAPSHOTS,
    doc_priority,
    latest_sample,
    snapshot_versions,
    stream_priority_sample,
)

K = 5


def _write_jsonl(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as fh:
        for doc_id, n_chars in rows:
            fh.write(json.dumps({"doc_id": doc_id, "n_chars": n_chars}) + "\n")


def _run(spark, src, sink, ckpt):
    stream = spark.readStream.schema("doc_id long, n_chars long").json(str(src))
    q = stream_priority_sample(spark, stream, str(sink), str(ckpt), k=K)
    q.awaitTermination(120)


def _batch_topk(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    return {
        (r.doc_id, r.priority)
        for r in df.select(
            "doc_id", "n_chars", doc_priority("n_chars").alias("priority")
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(K)
        .collect()
    }


ROWS_A = [(i, 100 + 37 * (i % 11)) for i in range(40)]
ROWS_B = [(100 + i, 5000 + 13 * i) for i in range(10)]  # heavy docs arrive later


def test_stream_sample_matches_batch_rule(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _write_jsonl(src / "a.jsonl", ROWS_A)
    _run(spark, src, sink, ckpt)
    got = {
        (r.doc_id, r.priority) for r in latest_sample(spark, str(sink)).collect()
    }
    assert got == _batch_topk(spark, ROWS_A)


def test_stream_sample_restart_folds_new_batch(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _write_jsonl(src / "a.jsonl", ROWS_A)
    _run(spark, src, sink, ckpt)
    # restart with new heavy documents: the merged sample must equal
    # the batch rule over EVERYTHING seen, displacing light docs
    _write_jsonl(src / "b.jsonl", ROWS_B)
    _run(spark, src, sink, ckpt)
    got = {
        (r.doc_id, r.priority) for r in latest_sample(spark, str(sink)).collect()
    }
    assert got == _batch_topk(spark, ROWS_A + ROWS_B)
    # heavy late arrivals entered the sample
    assert any(doc_id >= 100 for doc_id, _ in got)


def test_incomplete_snapshot_is_invisible(spark, tmp_path):
    """A snapshot directory without _SUCCESS (crash mid-write) must be
    ignored by readers and by the fold."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    _write_jsonl(src / "a.jsonl", ROWS_A)
    _run(spark, src, sink, ckpt)
    committed = max(snapshot_versions(spark, str(sink)))
    before = {
        (r.doc_id, r.priority) for r in latest_sample(spark, str(sink)).collect()
    }
    # forge a half-written later snapshot: rows present, no _SUCCESS
    bogus = sink / f"snap={committed + 7}"
    spark.createDataFrame(
        [(999999, 1, 1e18)], "doc_id long, n_chars long, priority double"
    ).write.mode("overwrite").parquet(str(bogus))
    (bogus / "_SUCCESS").unlink()
    assert committed + 7 not in snapshot_versions(spark, str(sink))
    after = {
        (r.doc_id, r.priority) for r in latest_sample(spark, str(sink)).collect()
    }
    assert after == before


def test_snapshots_are_pruned(spark, tmp_path):
    """The sink retains at most KEEP_SNAPSHOTS complete versions no
    matter how many micro-batches have run."""
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    # one file per run -> one micro-batch per restart
    for n in range(KEEP_SNAPSHOTS + 3):
        _write_jsonl(src / f"f{n}.jsonl", [(1000 * n + i, 100 + i) for i in range(5)])
        _run(spark, src, sink, ckpt)
    versions = snapshot_versions(spark, str(sink))
    assert len(versions) <= KEEP_SNAPSHOTS
    # and the surviving newest snapshot still equals the batch rule
    all_rows = [
        (1000 * n + i, 100 + i)
        for n in range(KEEP_SNAPSHOTS + 3)
        for i in range(5)
    ]
    got = {
        (r.doc_id, r.priority) for r in latest_sample(spark, str(sink)).collect()
    }
    assert got == _batch_topk(spark, all_rows)
