"""lake_ops: writes beside reads on one partitioned stream directory.

Set-up stages lineitem JSONL and bulk-loads it with ``ingest_jsonl_dir``
(``target_file_bytes`` set, so ``estimate_rows_per_file`` runs); the
load (after a small untimed one) is reported as ``bulk_load_mb_per_s``.
One untimed cycle warms the rest. Then seeded cycles until the
deadline: a Structured Streaming drain of a newly staged drop
(``streaming.ingest.stream_jsonl_dir``, availableNow, one file per
micro-batch, ``write_stream`` in foreachBatch), a ``write_stream``
append of new rows, a partition-pruned ``upsert`` of one year's
corrections (plus a few new keys), and a scan (``read_dataset`` +
group-by aggregate, checked against the model); every second cycle
ends with ``compact_stream``. File count rises between compactions, so
scan latency carries the small-file cost that compaction trades
against.

The generator keeps a model of the dataset (surrogate key ``l_id`` ->
quantity, year); the final dataset must match it. One cycle's latency
is the sum of each operation's median (compaction counted at half
weight, as it runs every second cycle).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from harness import Bench, data_files, progress_p50, stream_progress, timing_summary

BASE_ROWS = 100_000
DROP_ROWS = 4_000
DROP_FILES = 2
APPEND_ROWS = 2_000
UPDATE_ROWS = 800
INSERT_ROWS = 200
COMPACT_EVERY = 2
TARGET_FILE = "8M"
# below the base load's files (~65 KB) and above the cycles' (<= 25 KB)
COMPACT_BELOW = 40 << 10
RECENT = gen.SHIP_YEARS[-2:]

SCHEMA = T.StructType([
    T.StructField("l_id", T.LongType()),
    T.StructField("l_orderkey", T.LongType()),
    T.StructField("l_partkey", T.LongType()),
    T.StructField("l_suppkey", T.LongType()),
    T.StructField("l_linenumber", T.LongType()),
    T.StructField("l_quantity", T.DoubleType()),
    T.StructField("l_extendedprice", T.DoubleType()),
    T.StructField("l_discount", T.DoubleType()),
    T.StructField("l_tax", T.DoubleType()),
    T.StructField("l_returnflag", T.StringType()),
    T.StructField("l_linestatus", T.StringType()),
    T.StructField("l_shipdate", T.TimestampType()),
    T.StructField("ship_year", T.LongType()),
])


class Model:
    """What the dataset must hold: quantity and year per key."""

    def __init__(self) -> None:
        self.qty = np.zeros(0)
        self.year = np.zeros(0, dtype=np.int64)

    def insert(self, frame) -> None:
        ids = frame["l_id"].to_numpy()
        size = max(len(self.qty), int(ids.max()) + 1)
        if size > len(self.qty):
            self.qty = np.concatenate([self.qty, np.zeros(size - len(self.qty))])
            self.year = np.concatenate(
                [self.year, np.zeros(size - len(self.year), dtype=np.int64)])
        self.qty[ids] = frame["l_quantity"].to_numpy()
        self.year[ids] = frame["ship_year"].to_numpy()

    def per_year(self) -> dict[int, tuple[int, int]]:
        return {int(y): (int((self.year == y).sum()), int(self.qty[self.year == y].sum()))
                for y in np.unique(self.year)}

    def checksum(self) -> int:
        ids = np.arange(len(self.qty), dtype=np.int64)
        return int(((ids % 1_000_003) * self.qty.astype(np.int64)).sum())


def run(b: Bench) -> dict:
    from target_hdfs_spark.config import TargetConfig
    from target_hdfs_spark.plans import compaction, upsert, writer
    from target_hdfs_spark.sources import singer
    from target_hdfs_spark.streaming import ingest

    spark = b.spark
    config = TargetConfig(destination_path=b.path("lake"), partition_cols=("ship_year",),
                          target_file_bytes=TARGET_FILE)
    path = config.stream_path("lineitem")
    rng = np.random.default_rng(b.seed)

    def stage(i):
        frame = gen.lineitem_frame(np.random.default_rng(b.seed), 0, BASE_ROWS)
        return frame, b.path(f"base{i}"), gen.write_jsonl(frame, b.path(f"base{i}"), 4)

    base, base_dir, base_bytes = b.stage(stage)
    model = Model()
    model.insert(base)
    next_id = BASE_ROWS

    times: dict[str, list[float]] = {k: [] for k in ("drop", "append", "upsert", "scan", "compact")}
    rows_landed = 0
    progress: list[dict] = []

    def timed(kind, fn, *args, **kwargs):
        b.set_op(f"{kind}-{len(times[kind])}")
        with b.outcome.guarded(kind):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            times[kind].append((time.perf_counter() - t0) * 1e3)
        return out

    src = b.path("drops")
    os.makedirs(src)

    def stage_drop(first_id, tag):
        """Stage a drop of recent rows where the stream source sees it
        whole (written aside, then renamed in)."""
        frame = gen.lineitem_frame(rng, first_id, DROP_ROWS, RECENT)
        gen.write_jsonl(frame, b.path(tag), DROP_FILES)
        for name in sorted(os.listdir(b.path(tag))):
            os.rename(b.path(tag, name), os.path.join(src, f"{tag}-{name}"))
        return frame

    def drain():
        q = ingest.stream_jsonl_dir(
            spark, config, "lineitem", gen.LINEITEM_JSON_SCHEMA, src,
            b.path("checkpoint"), max_files_per_trigger=1, available_now=True)
        return stream_progress(q)

    def updates_for(first_id, existing_year_ids, year):
        frame = gen.lineitem_frame(rng, 0, UPDATE_ROWS + INSERT_ROWS, (year,))
        picked = rng.choice(existing_year_ids, UPDATE_ROWS, replace=False)
        frame["l_id"] = np.concatenate(
            [picked, np.arange(first_id, first_id + INSERT_ROWS)]).astype(np.int64)
        return frame

    def scan():
        with b.span("scan"):
            return {r["ship_year"]: (r["n"], r["q"]) for r in
                    writer.read_dataset(spark, path).groupBy("ship_year")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.col("l_quantity").cast("long")).alias("q")).collect()}

    def cycle(cycle_no, first_id, record):
        """One cycle (``cycle_no`` -1: the untimed warm-up); returns the
        next free key."""
        run_op = timed if record else (lambda kind, fn, *a, **k: fn(*a, **k))
        frame = stage_drop(first_id, f"drop{cycle_no}")
        progress.extend(run_op("drop", drain))
        first_id += DROP_ROWS
        appended = gen.lineitem_frame(rng, first_id, APPEND_ROWS, RECENT)
        first_id += APPEND_ROWS
        run_op("append", writer.write_stream, spark,
               spark.createDataFrame(appended, SCHEMA), path, config)
        # late corrections to an older year
        year = int(rng.choice(gen.SHIP_YEARS[:-2]))
        updates = updates_for(first_id, np.flatnonzero(model.year == year), year)
        first_id += INSERT_ROWS
        run_op("upsert", upsert.upsert, spark, spark.createDataFrame(updates, SCHEMA),
               path, ["l_id"], partition_col="ship_year")
        for f in (frame, appended, updates):
            model.insert(f)
        got = run_op("scan", scan)
        b.outcome.op(got == model.per_year(), f"scan after cycle {cycle_no}: {got}")
        if cycle_no % COMPACT_EVERY == COMPACT_EVERY - 1:
            run_op("compact", compaction.compact_stream, spark, path,
                   size_limit=COMPACT_BELOW, partitioned=True, compression=config.compression)
        return first_id

    bulk_s = 0.0

    def warm():
        nonlocal bulk_s, next_id
        # a small load first, so the timed bulk load runs warm
        gen.write_jsonl(gen.lineitem_frame(rng, 0, 2_000), b.path("warm-src"), 2)
        singer.ingest_jsonl_dir(spark, TargetConfig(destination_path=b.path("warm")),
                                "lineitem", b.path("warm-src"), gen.LINEITEM_JSON_SCHEMA)
        with b.outcome.guarded("bulk load"):
            t0 = time.perf_counter()
            singer.ingest_jsonl_dir(spark, config, "lineitem", base_dir, gen.LINEITEM_JSON_SCHEMA)
            bulk_s = time.perf_counter() - t0
        next_id = cycle(-1, next_id, record=False)  # -1: compacts too
        progress.clear()

    b.warm(warm)

    with b.measuring():
        deadline = b.deadline()
        n = 0
        while time.perf_counter() < deadline:
            next_id = cycle(n, next_id, record=True)
            n += 1
            rows_landed += DROP_ROWS + APPEND_ROWS + UPDATE_ROWS + INSERT_ROWS

    # the final dataset against the model: rows, unique keys, and a
    # per-key checksum of the updated column
    final = writer.read_dataset(spark, path)
    got = final.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_id").alias("keys"),
        F.sum((F.col("l_id") % 1_000_003) * F.col("l_quantity").cast("long")).alias("sum"),
    ).first()
    rows = int((model.year > 0).sum())
    b.outcome.op(got["n"] == rows, f"final rows {got['n']} != model {rows}")
    b.outcome.op(got["keys"] == got["n"], f"duplicate keys: {got['n'] - got['keys']}")
    b.outcome.op(got["sum"] == model.checksum(), "per-key quantity checksum differs")

    b.layer.update({
        "upsert.rows_in": len(times["upsert"]) * (UPDATE_ROWS + INSERT_ROWS),
        "stream_ingest.batches": len(progress),
        "stream_ingest.trigger_p50_ms": progress_p50(progress, "triggerExecution"),
        "stream_ingest.addbatch_p50_ms": progress_p50(progress, "addBatch"),
        "stream_ingest.rows_per_batch": (
            statistics.mean(p["numInputRows"] for p in progress) if progress else 0.0),
    })
    med = {k: statistics.median(v) for k, v in times.items()}
    op_s = sum(sum(v) for k, v in times.items()) / 1e3
    files = data_files(path)
    detail = {
        "bulk_load_mb_per_s": (base_bytes / 1e6 / bulk_s, "MB/s"),
        "stream_records_per_s": (DROP_ROWS * len(times["drop"]) / (sum(times["drop"]) / 1e3),
                                 "rec/s"),
        "cycles": (n, "count"),
        "lake_bytes_per_row": (sum(size for _, size in files) / rows, "B/row"),
        "lake_files": (len(files), "files"),
    }
    for k, v in times.items():
        detail.update(timing_summary(k, v))
    return {
        "items": rows_landed,
        "items_per_s": rows_landed / op_s,
        "cycle_ms": med["drop"] + med["append"] + med["upsert"] + med["scan"]
        + med["compact"] / COMPACT_EVERY,
        "detail": detail,
    }
