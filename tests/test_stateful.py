"""applyInPandasWithState operator test: state must persist across
micro-batches (the detector's running statistics include batch-1
events when scoring batch-2 events)."""

from __future__ import annotations

import json
import time

from target_hdfs_spark.sources.jsonschema import jsonschema_to_spark
from target_hdfs_spark.streaming.stateful import running_zscore_anomalies

SCHEMA = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "value": {"type": "number"},
    }
}


def _write(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def test_state_persists_across_batches(spark, tmp_path):
    src = tmp_path / "src"
    base = [
        {"user_id": 1, "event_id": i, "ts": f"2026-08-13T10:00:{i:02d}Z", "value": 10.0 + (i % 2)}
        for i in range(8)
    ]
    _write(src / "f1.jsonl", base)
    time.sleep(1.1)
    # batch 2: one normal event, one wild outlier
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 100, "ts": "2026-08-13T10:01:00Z", "value": 10.5},
            {"user_id": 1, "event_id": 101, "ts": "2026-08-13T10:01:01Z", "value": 500.0},
        ],
    )

    schema = jsonschema_to_spark(SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    anomalies = running_zscore_anomalies(stream, threshold=3.0)
    q = (
        anomalies.writeStream.format("memory")
        .queryName("anom_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM anom_t").collect()
    # only the outlier fires; its n_prior counts batch-1 events too,
    # proving state crossed the micro-batch boundary
    assert [r.event_id for r in rows] == [101]
    assert rows[0].n_prior == 9  # 8 from batch 1 + 1 earlier in batch 2
    assert abs(rows[0].zscore) > 3.0


def test_no_anomalies_below_min_prior(spark, tmp_path):
    src = tmp_path / "src"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 2, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "value": 1.0},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "value": 999.0},
        ],
    )
    schema = jsonschema_to_spark(SCHEMA)
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        running_zscore_anomalies(stream, threshold=1.0)
        .writeStream.format("memory")
        .queryName("anom_cold")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT * FROM anom_cold").count() == 0


# ---------------------------------------------------------------------------
# Consecutive-pattern matcher (streaming twin of q148)
# ---------------------------------------------------------------------------

PAT_SCHEMA = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "event_type": {"type": "string"},
    }
}


def _run_pattern(spark, src, name):
    from target_hdfs_spark.streaming.stateful import consecutive_pattern_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        consecutive_pattern_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.user_id, r.event_id)
        for r in spark.sql(f"select * from {name}").collect()
    }


def test_pattern_run_straddles_batch_boundary(spark, tmp_path):
    """view+click arrive in batch 1, purchase in batch 2: the carried
    suffix state must complete the run; an unrelated interleaved user
    must not match."""
    src = tmp_path / "psrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
            {"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"},
            {"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "error"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "purchase"},
            {"user_id": 2, "event_id": 6, "ts": "2026-08-13T10:00:05Z", "event_type": "purchase"},
        ],
    )
    got = _run_pattern(spark, src, "pat_straddle")
    assert got == {(1, 5)}  # user 2's run was broken by the error event


import pytest


@pytest.mark.parametrize("seed", [7, 11, 13])
def test_pattern_stream_equals_batch_q148(spark, tmp_path, seed):
    """On an in-order event log the stream's match count per user must
    equal the batch lead()-formulation (q148) — three seeded corpora,
    each with planted runs (one straddling the batch boundary)."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    seq_types = [rng.choice(types) for _ in range(90)]
    # plant complete runs at known offsets — user_id cycles mod 3, so
    # one user's consecutive events sit at stride 3; the run planted
    # at 47 (events 47/50/53) straddles the two files below,
    # exercising the state carry
    for start in (10, 47, 80):
        for j, t in enumerate(["view", "click", "purchase"]):
            seq_types[start + 3 * j] = t
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": seq_types[i],
        }
        for i in range(90)
    ]
    src = tmp_path / "psrc2"
    _write(src / "a.jsonl", rows[:50])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[50:])
    got = _run_pattern(spark, src, f"pat_parity_{seed}")

    # batch twin (q148's formulation) over the same rows
    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_id", 2).over(w).alias("final_id"),
    )
    expected = {
        (r.user_id, r.final_id)
        for r in seq.filter(
            (F.col("event_type") == "view")
            & (F.col("t1") == "click")
            & (F.col("t2") == "purchase")
        ).collect()
    }
    assert got == expected
    assert expected, "corpus produced no runs — pattern generator broken"


def test_pattern_straddle_on_rocksdb_state_store(spark, tmp_path):
    """The pattern matcher's suffix state must behave identically on
    the RocksDB provider (the production backend once keyed state
    outgrows executor heap)."""
    src = tmp_path / "rpsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "purchase"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _run_pattern(spark, src, "pat_rocksdb")
    finally:
        spark.conf.set(key, prev)
    assert got == {(1, 5)}


# ---------------------------------------------------------------------------
# Round-5: multi-pattern matcher (MATCH_RECOGNIZE-lite, q161 twin)
# ---------------------------------------------------------------------------


def _run_multi_pattern(spark, src, name):
    from target_hdfs_spark.streaming.stateful import multi_pattern_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        multi_pattern_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.user_id, r.pattern, r.last_event_id)
        for r in spark.sql(f"select * from {name}").collect()
    }


def test_multi_pattern_straddle_and_overlap(spark, tmp_path):
    """All patterns match in one pass: user 1's click-click-purchase
    tail fires double_click AND (with the preceding view) the funnel;
    the purchase arrives in batch 2, so both runs straddle the state
    boundary. User 2's error->view fires error_recovery."""
    src = tmp_path / "mpsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
            {"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "error"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "purchase"},
            {"user_id": 2, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "view"},
        ],
    )
    got = _run_multi_pattern(spark, src, "mp_straddle")
    assert got == {
        (1, "view_click_purchase", 4),
        (2, "error_recovery", 5),
    }


@pytest.mark.parametrize("seed", [5, 17])
def test_multi_pattern_stream_equals_batch_q161(spark, tmp_path, seed):
    """The streaming matcher's full (user, pattern, last_event_id) set
    must equal the q161 batch formulation over the same in-order log,
    with the log split across two micro-batches."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(120)
    ]
    src = tmp_path / "mpsrc2"
    _write(src / "a.jsonl", rows[:60])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[60:])
    got = _run_multi_pattern(spark, src, f"mp_parity_{seed}")

    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from target_hdfs_spark.streaming.stateful import MULTI_PATTERNS

    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = max(len(p) for p in MULTI_PATTERNS.values())
    seq = df.select(
        "user_id",
        "event_type",
        "event_id",
        *[F.lead("event_type", i).over(w).alias(f"t{i}") for i in range(1, k)],
        *[F.lead("event_id", i).over(w).alias(f"id{i}") for i in range(1, k)],
    )
    expected = set()
    for name, pat in MULTI_PATTERNS.items():
        cond = F.col("event_type") == pat[0]
        for i, t in enumerate(pat[1:], start=1):
            cond = cond & (F.col(f"t{i}") == t)
        last = f"id{len(pat) - 1}" if len(pat) > 1 else "event_id"
        expected |= {
            (r.user_id, name, r[last]) for r in seq.filter(cond).collect()
        }
    assert got == expected
    assert expected, "corpus produced no matches — generator broken"


# ---------------------------------------------------------------------------
# Round-5: gapped-funnel stage tracker (q138 twin)
# ---------------------------------------------------------------------------


def _run_funnel(spark, src, name, **kwargs):
    from target_hdfs_spark.streaming.stateful import funnel_stage_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        funnel_stage_stream(stream, **kwargs)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_funnel_stage_straddles_batches(spark, tmp_path):
    """view in batch 1, click+purchase in batch 2 (with a distractor
    click BEFORE the view that must not count): prerequisites cross
    the state boundary; latency is measured from the view."""
    src = tmp_path / "fsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "click"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:05Z", "event_type": "click"},
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:00:07Z", "event_type": "purchase"},
        ],
    )
    rows = {(r.stage, r.since_view_us) for r in _run_funnel(spark, src, "fun_straddle")}
    assert rows == {("view", None), ("click", None), ("purchase", 6_000_000)}


def test_funnel_state_bound_adversarial_heavy_user():
    """r7 verdict item 4: pin the kept-candidate cardinality on the
    adversarial key — a user with thousands of clicks before any view.
    Exactness genuinely requires every DISTINCT stamp there (a future
    view at any position selects min{click > view}), so the default
    keeps exactly the distinct set (the honest bound: the user's
    distinct funnel-event stamps, never the stream), duplicates
    compact to one entry at zero accuracy cost, and the opt-in cap
    hard-bounds state to the smallest values."""
    from target_hdfs_spark.streaming.stateful import (
        _funnel_chain,
        _funnel_prune,
    )

    clicks = [i * 10 for i in range(5000)]
    cands = [[], list(clicks), []]
    stamps = _funnel_chain(cands)
    assert stamps == [-1, -1, -1]
    kept = _funnel_prune(cands, stamps)
    assert kept[1] == sorted(clicks)  # exact default: all distinct
    # duplicate stamps are redundant for min{c > v} — compacted
    dup = [[], [7] * 5000, []]
    kept_dup = _funnel_prune(dup, _funnel_chain(dup))
    assert kept_dup[1] == [7]
    # opt-in hard cap: smallest values survive
    capped = _funnel_prune(cands, stamps, max_pending=64)
    assert capped[1] == sorted(clicks)[:64]
    assert capped[2] == []
    # well-formed key (view before clicks): frontier defined, kept set
    # is the below-frontier candidates only — O(1), cap irrelevant
    wf = [[100], [50, 150, 200], []]
    wf_stamps = _funnel_chain(wf)
    assert wf_stamps[:2] == [100, 150]
    assert _funnel_prune(wf, wf_stamps, max_pending=64)[1] == [50, 150]


def test_funnel_capped_stream_matches_uncapped_on_wellformed_log(
    spark, tmp_path
):
    """max_pending_candidates must be a no-op on well-formed logs
    (views arrive with the earliest stamps): capped and uncapped runs
    emit identical stage rows."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(120):
        uid = 1 + (i % 5)
        # each user's first event is their view (well-formed): event
        # times ascend with i
        etype = (
            "view"
            if i < 5
            else rng.choice(["click", "purchase", "error", "signup"])
        )
        rows.append(
            {
                "user_id": uid,
                "event_id": i,
                "ts": f"2026-08-13T11:{i // 60:02d}:{i % 60:02d}Z",
                "event_type": etype,
            }
        )
    src_a = tmp_path / "fc_a"
    src_b = tmp_path / "fc_b"
    for src in (src_a, src_b):
        _write(src / "a.jsonl", rows[:60])
        time.sleep(1.1)
        _write(src / "b.jsonl", rows[60:])
    plain = {
        (r.user_id, r.stage, r.stage_ts_us, r.since_view_us)
        for r in _run_funnel(spark, src_a, "fun_nocap")
    }
    capped = {
        (r.user_id, r.stage, r.stage_ts_us, r.since_view_us)
        for r in _run_funnel(
            spark, src_b, "fun_cap8", max_pending_candidates=8
        )
    }
    assert capped == plain
    assert any(s == "purchase" for _, s, _, _ in plain)


@pytest.mark.parametrize("seed", [3, 23])
def test_funnel_stream_equals_batch_q138(spark, tmp_path, seed):
    """Aggregating the streamed stage rows must reproduce q138's
    summary (per-stage counts + total conversion micros) over the
    same two-batch log."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 7),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(140)
    ]
    src = tmp_path / "fsrc2"
    _write(src / "a.jsonl", rows[:70])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[70:])
    got = _run_funnel(spark, src, f"fun_parity_{seed}")
    n_view = sum(1 for r in got if r.stage == "view")
    n_click = sum(1 for r in got if r.stage == "click")
    n_purchase = sum(1 for r in got if r.stage == "purchase")
    total_us = sum(r.since_view_us for r in got if r.stage == "purchase")

    import datetime as dt

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    v = (
        df.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        df.alias("e")
        .join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        df.alias("e")
        .join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    exp_total = (
        p.join(v, "user_id")
        .select(
            F.sum(
                F.unix_micros("t_purchase") - F.unix_micros("t_view")
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    assert n_view == v.count()
    assert n_click == c.count()
    assert n_purchase == p.count()
    assert total_us == (exp_total or 0)
    assert n_purchase > 0, "corpus produced no conversions — generator broken"


@pytest.mark.parametrize("seed", [5, 31])
def test_funnel_stream_equals_batch_q138_shuffled(spark, tmp_path, seed):
    """UNCONDITIONAL parity (r6 verdict item 3): the log is delivered
    in a random — NOT event-time — order across two batches, so late
    batches carry event-time-earlier views/clicks that must revise
    already-emitted stages, including re-enabling previously
    sub-frontier clicks (the case a commit-once stamp can never
    repair). Reading the sink as final-truth-per-(user, stage)
    reproduces batch q138's chain exactly. Final truth is recovered
    order-independently: stamps only revise DOWNWARD, so the final
    stage time is the min emitted stage_ts_us, and for the purchase
    stage since_view_us at fixed t_purchase only grows (t_view only
    decreases) — max since_view among min-ts rows."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 7),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(140)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / "fsrc_shuf"
    _write(src / "a.jsonl", shuffled[:70])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[70:])
    got = _run_funnel(spark, src, f"fun_shuf_{seed}")

    final_ts: dict = {}
    final_since: dict = {}
    for r in got:
        k = (r.user_id, r.stage)
        if k not in final_ts or r.stage_ts_us < final_ts[k]:
            final_ts[k] = r.stage_ts_us
            final_since[k] = r.since_view_us
        elif r.stage_ts_us == final_ts[k] and r.since_view_us is not None:
            if final_since[k] is None or r.since_view_us > final_since[k]:
                final_since[k] = r.since_view_us

    import datetime as dt

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    v = (
        df.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        df.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        df.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    exp_v = {r.user_id: r.t_view for r in v.collect()}
    exp_c = {r.user_id: r.t_click for r in c.collect()}
    exp_p = {r.user_id: r.t_purchase for r in p.collect()}
    us = lambda t: int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)  # noqa: E731

    got_v = {u: t for (u, s), t in final_ts.items() if s == "view"}
    got_c = {u: t for (u, s), t in final_ts.items() if s == "click"}
    got_p = {u: t for (u, s), t in final_ts.items() if s == "purchase"}
    assert got_v == {u: us(t) for u, t in exp_v.items()}
    assert got_c == {u: us(t) for u, t in exp_c.items()}
    assert got_p == {u: us(t) for u, t in exp_p.items()}
    got_total = sum(
        since for (u, s), since in final_since.items() if s == "purchase"
    )
    exp_total = sum(us(exp_p[u]) - us(exp_v[u]) for u in exp_p)
    assert got_total == exp_total
    assert exp_p, "corpus produced no conversions — generator broken"


# ---------------------------------------------------------------------------
# Round-5: SCD-2 interval builder (q105 twin)
# ---------------------------------------------------------------------------

SCD2_SCHEMA = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "event_type": {"type": "string"},
        "value": {"type": "number"},
    }
}


def _run_scd2(spark, src, name):
    from target_hdfs_spark.streaming.stateful import scd2_interval_stream

    schema = jsonschema_to_spark(SCD2_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        scd2_interval_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.user_id, r.event_type, r.value, r.valid_from_us, r.valid_to_us)
        for r in spark.sql(f"select * from {name}").collect()
    }


def test_scd2_interval_straddles_batches(spark, tmp_path):
    """An interval opened in batch 1 closes on batch 2's type change;
    same-type repeats never close it."""
    src = tmp_path / "ssrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:02Z", "event_type": "view", "value": 7.0},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:05Z", "event_type": "click", "value": 2.0},
        ],
    )
    got = _run_scd2(spark, src, "scd2_straddle")
    t0 = 1_786_615_200_000_000  # 2026-08-13T10:00:00Z epoch micros
    assert got == {(1, "view", 1.0, t0, t0 + 5_000_000)}


@pytest.mark.parametrize("seed", [9, 29])
def test_scd2_stream_equals_batch_q105_closed_rows(spark, tmp_path, seed):
    """The streamed closed intervals must equal q105's formulation's
    non-current rows over the same two-batch log (the open interval is
    state, not sink — q105's valid_to-IS-NULL row)."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error"]
    rows = [
        {
            "user_id": 1 + (i % 5),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
            "value": float(i),
        }
        for i in range(100)
    ]
    src = tmp_path / "ssrc2"
    _write(src / "a.jsonl", rows[:50])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[50:])
    got = _run_scd2(spark, src, f"scd2_parity_{seed}")

    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
                r["value"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string, v double",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        df.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    closed = (
        changes.select(
            "user_id",
            "event_type",
            "v",
            F.unix_micros("ts").alias("valid_from_us"),
            F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
        )
        .where(F.col("valid_to_us").isNotNull())
    )
    expected = {
        (r.user_id, r.event_type, r.v, r.valid_from_us, r.valid_to_us)
        for r in closed.collect()
    }
    assert got == expected
    assert expected, "corpus produced no closed intervals — generator broken"


# ---------------------------------------------------------------------------
# Round-5: checkpoint-restart + RocksDB coverage for the new operators
# ---------------------------------------------------------------------------


def test_scd2_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: the open interval crosses a full query RESTART
    (state restored from the checkpoint, not just a batch boundary) —
    the second run closes the interval opened before the stop."""
    from target_hdfs_spark.streaming.stateful import scd2_interval_stream

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    schema = jsonschema_to_spark(SCD2_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            scd2_interval_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0}],
    )
    run_once()  # interval opens; nothing closed yet
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:05Z", "event_type": "click", "value": 2.0},
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:09Z", "event_type": "purchase", "value": 3.0},
        ],
    )
    run_once()  # restarted query must close [view) then [click)
    rows = {
        (r.event_type, r.valid_from_us, r.valid_to_us)
        for r in spark.read.parquet(str(sink)).collect()
    }
    t0 = 1_786_615_200_000_000
    assert rows == {
        ("view", t0, t0 + 5_000_000),
        ("click", t0 + 5_000_000, t0 + 9_000_000),
    }


def test_funnel_and_multi_pattern_on_rocksdb(spark, tmp_path):
    """The new stateful operators must behave identically on the
    RocksDB provider (production backend for large keyed state)."""
    src = tmp_path / "rsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:04Z", "event_type": "purchase"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        mp = _run_multi_pattern(spark, src, "mp_rocksdb")
        fu = {
            (r.stage, r.since_view_us)
            for r in _run_funnel(spark, tmp_path / "rsrc", "fun_rocksdb")
        }
    finally:
        spark.conf.set(key, prev)
    assert mp == {(1, "view_click_purchase", 3)}
    assert fu == {("view", None), ("click", None), ("purchase", 4_000_000)}


def test_scd2_skips_null_event_types(spark, tmp_path):
    """Null event_type rows are skipped (documented divergence from
    SQL's three-valued lag artifact): they neither open intervals nor
    merge with a genuine 'None' string type."""
    src = tmp_path / "nsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:02Z", "value": 9.0},  # null type
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:04Z", "event_type": "view", "value": 2.0},
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:00:06Z", "event_type": "click", "value": 3.0},
        ],
    )
    got = _run_scd2(spark, src, "scd2_nulls")
    t0 = 1_786_615_200_000_000
    # the null row is invisible: one view interval [0, 6), closed by click
    assert got == {(1, "view", 1.0, t0, t0 + 6_000_000)}


# ---------------------------------------------------------------------------
# Round-5: event-time TTL on the pattern/funnel trackers
# ---------------------------------------------------------------------------


def _run_multi_pattern_ttl(spark, src, name, ttl_ms):
    from target_hdfs_spark.streaming.stateful import multi_pattern_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        multi_pattern_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.user_id, r.pattern, r.last_event_id)
        for r in spark.sql(f"select * from {name}").collect()
    }


def test_multi_pattern_ttl_evicts_idle_suffix(spark, tmp_path):
    """User 1's view+click suffix must evict once the watermark
    (advanced by user 2's events while user 1 idles) passes their last
    event + TTL — the purchase arriving after the gap completes
    nothing. A fresh full run afterwards still matches."""
    src = tmp_path / "ttlsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
        ],
    )
    time.sleep(1.1)
    # u2 traffic advances the watermark far past u1's TTL horizon
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    # u1 returns: suffix must be gone (no view_click_purchase), and a
    # fresh complete run must still match
    _write(
        src / "f4.jsonl",
        [
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "purchase"},
            {"user_id": 1, "event_id": 6, "ts": "2026-08-13T10:32:01Z", "event_type": "view"},
            {"user_id": 1, "event_id": 7, "ts": "2026-08-13T10:32:02Z", "event_type": "click"},
            {"user_id": 1, "event_id": 8, "ts": "2026-08-13T10:32:03Z", "event_type": "purchase"},
        ],
    )
    got = _run_multi_pattern_ttl(spark, src, "mp_ttl", ttl_ms=60_000)
    assert got == {(1, "view_click_purchase", 8)}


def test_funnel_ttl_expires_abandoned_progress(spark, tmp_path):
    """Attribution-window funnel: a view+click left idle past the TTL
    evicts, so a late purchase opens a FRESH funnel (no purchase row
    without prerequisites) instead of converting."""
    from target_hdfs_spark.streaming.stateful import funnel_stage_stream

    src = tmp_path / "fttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "purchase"}],
    )
    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        funnel_stage_stream(stream, state_ttl_ms=60_000)
        .writeStream.format("memory")
        .queryName("fun_ttl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from fun_ttl").collect()
    u1 = {(r.stage) for r in rows if r.user_id == 1}
    # view+click recorded pre-eviction; the late purchase must NOT
    # convert (its prerequisites were evicted with the state)
    assert u1 == {"view", "click"}


def test_zscore_ttl_rebaselines_after_idle(spark, tmp_path):
    """With TTL, an idle user's running statistics evict: the outlier
    arriving after the gap is NOT scored (MIN_PRIOR warm-up restarts)
    where the unbounded operator would have flagged it."""
    from target_hdfs_spark.streaming.stateful import running_zscore_anomalies

    src = tmp_path / "zttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": i, "ts": f"2026-08-13T10:00:{i:02d}Z", "value": 10.0 + (i % 2)}
            for i in range(8)
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 100, "ts": "2026-08-13T10:30:00Z", "value": 1.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 101, "ts": "2026-08-13T10:31:00Z", "value": 1.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 200, "ts": "2026-08-13T10:32:00Z", "value": 500.0}],
    )
    schema = jsonschema_to_spark(SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        running_zscore_anomalies(stream, threshold=3.0, state_ttl_ms=60_000)
        .writeStream.format("memory")
        .queryName("z_ttl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM z_ttl").collect()
    assert rows == []  # stats evicted; the 500.0 is a fresh baseline's first point


# ---------------------------------------------------------------------------
# Round-6: quantified / bounded-gap pattern matcher (q162 twin)
# ---------------------------------------------------------------------------


def _run_gap_pattern(spark, src, name, ttl_ms=None, patterns=None):
    from target_hdfs_spark.streaming.stateful import gapped_pattern_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        gapped_pattern_stream(stream, state_ttl_ms=ttl_ms, patterns=patterns)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.user_id, r.pattern, r.first_event_id, r.last_event_id, r.span)
        for r in spark.sql(f"select * from {name}").collect()
    }


def test_gap_pattern_quantifier_and_gap_straddle(spark, tmp_path):
    """User 1: view click click purchase — the B+ quantifier (2
    clicks) with the purchase arriving in batch 2, so the match
    straddles the state boundary. User 2: view signup error — the
    bounded-gap form matches across the non-error signup. User 3:
    view click purchase with 3 leading fillers — within bound
    respected from the view, not the stream head."""
    src = tmp_path / "gapsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "click"},
            {"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "view"},
            {"user_id": 2, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "signup"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 6, "ts": "2026-08-13T10:00:05Z", "event_type": "purchase"},
            {"user_id": 2, "event_id": 7, "ts": "2026-08-13T10:00:06Z", "event_type": "error"},
            {"user_id": 3, "event_id": 8, "ts": "2026-08-13T10:00:07Z", "event_type": "signup"},
            {"user_id": 3, "event_id": 9, "ts": "2026-08-13T10:00:08Z", "event_type": "signup"},
            {"user_id": 3, "event_id": 10, "ts": "2026-08-13T10:00:09Z", "event_type": "signup"},
            {"user_id": 3, "event_id": 11, "ts": "2026-08-13T10:00:10Z", "event_type": "view"},
            {"user_id": 3, "event_id": 12, "ts": "2026-08-13T10:00:11Z", "event_type": "click"},
            {"user_id": 3, "event_id": 13, "ts": "2026-08-13T10:00:12Z", "event_type": "purchase"},
        ],
    )
    got = _run_gap_pattern(spark, src, "gap_straddle")
    assert got == {
        (1, "quick_convert", 1, 6, 4),
        (2, "view_then_error", 4, 7, 3),
        (3, "quick_convert", 11, 13, 3),
    }


def test_gap_pattern_earliest_completion_only(spark, tmp_path):
    """A start emits exactly its EARLIEST completion: view error error
    fires view_then_error at the first error only; a second view
    starting later is an independent start (skip-to-next-row)."""
    src = tmp_path / "gapearliest"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "error"},
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "error"},
        ],
    )
    got = _run_gap_pattern(spark, src, "gap_earliest")
    # start 1 completes at 3 (span 3); start 2 completes at 3 (span 2);
    # neither re-fires at event 4 (not the earliest completion); and no
    # start is within range of event 4 unconsumed: event 4's only
    # candidate starts 1,2 already completed at 3
    assert got == {
        (1, "view_then_error", 1, 3, 3),
        (1, "view_then_error", 2, 3, 2),
    }


@pytest.mark.parametrize("seed", [5, 17])
def test_gapped_stream_equals_batch_q162(spark, tmp_path, seed):
    """Full batch-stream parity on a random two-batch log: the
    streaming matcher's output set must equal the REGISTERED q162
    batch query run over the same events written as a parquet table."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(120)
    ]
    src = tmp_path / "gapsrc2"
    _write(src / "a.jsonl", rows[:60])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[60:])
    got = _run_gap_pattern(spark, src, f"gap_parity_{seed}")

    import datetime as dt

    from target_hdfs_spark.operators.analytics import q162_gapped_pattern_match

    sf_dir = tmp_path / "sfgap"
    spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r.user_id, r.pattern, r.first_event_id, r.last_event_id, r.span)
        for r in q162_gapped_pattern_match(spark, str(sf_dir)).collect()
    }
    assert got == expected
    assert expected, "corpus produced no matches — generator broken"


def test_alt_pattern_alternation_and_negation_straddle(spark, tmp_path):
    """ALT_PATTERNS vocabulary (q233 twin): user 1 opens
    any_entry_convert from a SIGNUP (alternation start) and converts
    across an error — the bounded gap permits it; user 2's
    clean_convert is KILLED by the in-gap error (negation); user 3's
    clean_convert crosses the batch boundary over a clean two-event
    gap, and both alternation starts (view and signup) convert."""
    from target_hdfs_spark.streaming.stateful import ALT_PATTERNS

    src = tmp_path / "altsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "signup"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "error"},
            {"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "click"},
            {"user_id": 2, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "error"},
            {"user_id": 3, "event_id": 7, "ts": "2026-08-13T10:00:06Z", "event_type": "click"},
            {"user_id": 3, "event_id": 8, "ts": "2026-08-13T10:00:07Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "purchase"},
            {"user_id": 2, "event_id": 6, "ts": "2026-08-13T10:00:05Z", "event_type": "purchase"},
            {"user_id": 3, "event_id": 9, "ts": "2026-08-13T10:00:08Z", "event_type": "signup"},
            {"user_id": 3, "event_id": 10, "ts": "2026-08-13T10:00:09Z", "event_type": "purchase"},
        ],
    )
    got = _run_gap_pattern(spark, src, "alt_straddle", patterns=ALT_PATTERNS)
    assert got == {
        (1, "any_entry_convert", 1, 3, 3),
        (3, "clean_convert", 7, 10, 4),
        (3, "any_entry_convert", 8, 10, 3),
        (3, "any_entry_convert", 9, 10, 2),
    }


@pytest.mark.parametrize("seed", [7, 29])
def test_alt_stream_equals_batch_q233(spark, tmp_path, seed):
    """Batch-stream parity for the alternation/negation vocabulary:
    the streaming matcher over ALT_PATTERNS must equal the REGISTERED
    q233 batch query on the same two-batch log (single-compiler
    discipline: one dict drives plan, oracle, and matcher)."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(120)
    ]
    src = tmp_path / "altsrc2"
    _write(src / "a.jsonl", rows[:60])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[60:])
    from target_hdfs_spark.streaming.stateful import ALT_PATTERNS

    got = _run_gap_pattern(
        spark, src, f"alt_parity_{seed}", patterns=ALT_PATTERNS
    )

    import datetime as dt

    from target_hdfs_spark.operators.analytics import (
        q233_alternation_negation_match,
    )

    sf_dir = tmp_path / "sfalt"
    spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r.user_id, r.pattern, r.first_event_id, r.last_event_id, r.span)
        for r in q233_alternation_negation_match(spark, str(sf_dir)).collect()
    }
    assert got == expected
    assert expected, "corpus produced no matches — generator broken"


def test_alt_pattern_ttl_evicts_idle_suffix(spark, tmp_path):
    """TTL discipline carries over to the ALT vocabulary: a click
    left idle past the TTL cannot complete clean_convert when the
    purchase finally arrives; a fresh post-return run still matches."""
    from target_hdfs_spark.streaming.stateful import ALT_PATTERNS

    src = tmp_path / "altttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "click"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "purchase"},
            {"user_id": 1, "event_id": 6, "ts": "2026-08-13T10:32:01Z", "event_type": "click"},
            {"user_id": 1, "event_id": 7, "ts": "2026-08-13T10:32:02Z", "event_type": "purchase"},
        ],
    )
    got = _run_gap_pattern(
        spark, src, "alt_ttl", ttl_ms=60_000, patterns=ALT_PATTERNS
    )
    assert got == {(1, "clean_convert", 6, 7, 2)}


def test_seq_pattern_three_step_semantics_straddle(spark, tmp_path):
    """SEQ_PATTERNS (q235 twin): user 1's full funnel completes
    across the batch boundary through free gap events; user 2 pins
    the earliest-completion subtlety — an in-gap purchase WITHOUT a
    preceding click neither completes nor kills, so the later
    purchase (after the click) is the match; user 3's second
    purchase is suppressed (the first already completed)."""
    from target_hdfs_spark.streaming.stateful import SEQ_PATTERNS

    src = tmp_path / "seqsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "error"},
            {"user_id": 2, "event_id": 6, "ts": "2026-08-13T10:00:05Z", "event_type": "view"},
            {"user_id": 2, "event_id": 7, "ts": "2026-08-13T10:00:06Z", "event_type": "purchase"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "click"},
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "signup"},
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "purchase"},
            {"user_id": 2, "event_id": 8, "ts": "2026-08-13T10:00:07Z", "event_type": "click"},
            {"user_id": 2, "event_id": 9, "ts": "2026-08-13T10:00:08Z", "event_type": "purchase"},
            {"user_id": 3, "event_id": 10, "ts": "2026-08-13T10:00:09Z", "event_type": "view"},
            {"user_id": 3, "event_id": 11, "ts": "2026-08-13T10:00:10Z", "event_type": "click"},
            {"user_id": 3, "event_id": 12, "ts": "2026-08-13T10:00:11Z", "event_type": "purchase"},
            {"user_id": 3, "event_id": 13, "ts": "2026-08-13T10:00:12Z", "event_type": "purchase"},
        ],
    )
    got = _run_gap_pattern(spark, src, "seq_straddle", patterns=SEQ_PATTERNS)
    assert got == {
        (1, "full_funnel_path", 1, 5, 5),
        (2, "full_funnel_path", 6, 9, 4),
        (3, "full_funnel_path", 10, 12, 3),
    }


@pytest.mark.parametrize("seed", [11, 37])
def test_seq_stream_equals_batch_q235(spark, tmp_path, seed):
    """Batch-stream parity for the multi-step vocabulary: the
    streaming matcher over SEQ_PATTERNS must equal the REGISTERED
    q235 batch query on the same two-batch log."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(120)
    ]
    src = tmp_path / "seqsrc2"
    _write(src / "a.jsonl", rows[:60])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[60:])
    from target_hdfs_spark.streaming.stateful import SEQ_PATTERNS

    got = _run_gap_pattern(
        spark, src, f"seq_parity_{seed}", patterns=SEQ_PATTERNS
    )

    import datetime as dt

    from target_hdfs_spark.operators.analytics import (
        q235_three_step_gapped_match,
    )

    sf_dir = tmp_path / "sfseq"
    spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r.user_id, r.pattern, r.first_event_id, r.last_event_id, r.span)
        for r in q235_three_step_gapped_match(spark, str(sf_dir)).collect()
    }
    assert got == expected
    assert expected, "corpus produced no matches — generator broken"


def test_gap_pattern_ttl_evicts_idle_suffix(spark, tmp_path):
    """An idle user's suffix evicts past the TTL: the purchase
    arriving after the gap completes nothing, while a fresh run after
    the return still matches."""
    src = tmp_path / "gapttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "purchase"},
            {"user_id": 1, "event_id": 6, "ts": "2026-08-13T10:32:01Z", "event_type": "view"},
            {"user_id": 1, "event_id": 7, "ts": "2026-08-13T10:32:02Z", "event_type": "click"},
            {"user_id": 1, "event_id": 8, "ts": "2026-08-13T10:32:03Z", "event_type": "purchase"},
        ],
    )
    got = _run_gap_pattern(spark, src, "gap_ttl", ttl_ms=60_000)
    assert got == {(1, "quick_convert", 6, 8, 3)}


def test_gap_pattern_on_rocksdb(spark, tmp_path):
    """The straddling quantifier match also fires under the RocksDB
    state store provider (flat two-string state roundtrips)."""
    src = tmp_path / "gaprocks"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "click"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "purchase"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        got = _run_gap_pattern(spark, src, "gap_rocks")
    finally:
        spark.conf.set(key, prev)
    assert got == {(1, "quick_convert", 1, 3, 3)}


# ---------------------------------------------------------------------------
# time_weighted_stream (stateful twin of q174_time_weighted_value)
# ---------------------------------------------------------------------------

TWAP_SCHEMA_JSON = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "value": {"type": "number"},
    }
}


def _run_twap(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import time_weighted_stream

    schema = jsonschema_to_spark(TWAP_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = time_weighted_stream(stream, state_ttl_ms=ttl_ms)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_twap_open_interval_straddles_batches(spark, tmp_path):
    """An observation whose interval closes in a LATER micro-batch must
    carry its (stamp, value) through the state store: batch 1 holds a
    single observation (no emission — nothing closed), batch 2 closes
    it, and the weight is the exact cross-batch µs span."""
    src = tmp_path / "twsrc"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "value": 2.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:30Z", "value": 10.0}],
    )
    rows = _run_twap(spark, src, "twap_straddle")
    # exactly one emission: the batch that closed the interval
    assert len(rows) == 1
    r = rows[0]
    assert (r.user_id, r.n_intervals, r.total_us) == (1, 1, 30_000_000)
    # the CLOSED observation's value (200 cents) is the weighted one
    assert r.twap_cents == 200


@pytest.mark.parametrize("seed", [5, 19])
def test_twap_stream_equals_batch_q174(spark, tmp_path, seed):
    """On an in-order log the stream's LATEST row per user equals the
    batch q174 formulation (lead-interval weights, int64 truncated
    division) — seeded corpora, intervals straddling the file split."""
    import datetime as dt
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "value": round(rng.uniform(-5, 120), 2),
        }
        for i in range(90)
    ]
    src = tmp_path / f"twp_{seed}"
    _write(src / "a.jsonl", rows[:50])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[50:])
    got_rows = _run_twap(spark, src, f"twap_parity_{seed}")
    latest = {}
    for r in got_rows:
        if r.user_id not in latest or r.n_intervals > latest[r.user_id][0]:
            latest[r.user_id] = (r.n_intervals, r.total_us, r.twap_cents)

    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["value"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, value double",
    )
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    obs = df.select(
        "user_id",
        us.alias("t_us"),
        F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
        F.lead(us).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    expected = {
        r.user_id: (r.n, r.total_us, r.twap)
        for r in obs.select(
            "user_id", "v_cents", (F.col("next_us") - F.col("t_us")).alias("w_us")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w_us").alias("total_us"),
            F.expr("sum(v_cents * w_us) div sum(w_us)").alias("twap"),
        )
        .collect()
    }
    assert latest == expected
    assert expected, "corpus produced no intervals — generator broken"


def test_twap_ttl_expires_open_observation(spark, tmp_path):
    """Exposure-window semantics: user 1's open observation idles past
    the TTL (watermark advanced by user 2) and must NOT close against
    a much-later return — the return starts a fresh accumulation, and
    only the post-return interval accrues."""
    src = tmp_path / "twttl"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "value": 50.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:30:00Z", "value": 1.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:31:00Z", "value": 1.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:32:00Z", "value": 7.0},
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:10Z", "value": 9.0},
        ],
    )
    rows = _run_twap(spark, src, "twap_ttl", ttl_ms=60_000)
    u1 = [r for r in rows if r.user_id == 1]
    # the 32-minute stale interval never forms; only the fresh 10 s one
    assert [(r.n_intervals, r.total_us, r.twap_cents) for r in u1] == [
        (1, 10_000_000, 700)
    ]


# ---------------------------------------------------------------------------
# transition_stream (stateful twin of q178's transition-count stage)
# ---------------------------------------------------------------------------

TRANS_SCHEMA_JSON = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "event_type": {"type": "string"},
    }
}


def _run_trans(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import transition_stream

    schema = jsonschema_to_spark(TRANS_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = transition_stream(stream, state_ttl_ms=ttl_ms)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_transition_straddles_batches(spark, tmp_path):
    """The last event type must bridge micro-batches: view in batch 1,
    click in batch 2 -> exactly one (view -> click) transition."""
    src = tmp_path / "trsrc"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:05Z", "event_type": "click"}],
    )
    rows = _run_trans(spark, src, "trans_straddle")
    assert [(r.user_id, r.src, r.dst) for r in rows] == [(1, "view", "click")]


@pytest.mark.parametrize("seed", [7, 21])
def test_transition_counts_equal_batch_q178_stage(spark, tmp_path, seed):
    """Aggregating emitted transitions by (src, dst) must equal the
    batch lead() transition-count formulation (q178's count stage) on
    an in-order log."""
    import datetime as dt
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = [
        {
            "user_id": 1 + (i % 4),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(80)
    ]
    src = tmp_path / f"trp_{seed}"
    _write(src / "a.jsonl", rows[:40])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[40:])
    got_rows = _run_trans(spark, src, f"trans_parity_{seed}")
    got: dict[tuple, int] = {}
    for r in got_rows:
        got[(r.src, r.dst)] = got.get((r.src, r.dst), 0) + 1

    df = spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expected = {
        (r.src, r.dst): r.n
        for r in df.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expected
    assert expected, "corpus produced no transitions — generator broken"


def test_transition_ttl_breaks_chain(spark, tmp_path):
    """With a TTL, an idle gap must NOT produce a bridging transition:
    the dangling last-event evicts, and the post-gap events chain only
    among themselves."""
    src = tmp_path / "trttl"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:30:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:31:00Z", "event_type": "signup"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [
            {"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:32:00Z", "event_type": "click"},
            {"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:05Z", "event_type": "purchase"},
        ],
    )
    rows = _run_trans(spark, src, "trans_ttl", ttl_ms=60_000)
    u1 = sorted((r.src, r.dst) for r in rows if r.user_id == 1)
    # no (view -> click) bridge across the 32-min gap; only the fresh pair
    assert u1 == [("click", "purchase")]


# ---------------------------------------------------------------------------
# ema_stream (stateful twin of q213_dyadic_ema)
# ---------------------------------------------------------------------------


def _run_ema(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import ema_stream

    schema = jsonschema_to_spark(TWAP_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = ema_stream(stream, state_ttl_ms=ttl_ms)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def _ema_fold(values):
    """The q213 recurrence in plain Python (positive micro-units)."""
    ema = None
    for v in values:
        vm = int(v * 1_000_000 // 1)  # floor for positive values
        ema = vm if ema is None else (ema + vm) // 2
    return ema


def test_ema_recurrence_straddles_batches(spark, tmp_path):
    """The running EMA must cross the micro-batch boundary through the
    state store: batch 2's readout blends batch 1's value, not just
    its own."""
    src = tmp_path / "emasrc"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "value": 8.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:30Z", "value": 2.0}],
    )
    rows = _run_ema(spark, src, "ema_straddle")
    latest = max(rows, key=lambda r: r.n_events)
    # (8e6 + 2e6) div 2 = 5e6 — requires batch-1 state
    assert (latest.user_id, latest.n_events, latest.ema_micro) == (1, 2, 5_000_000)


@pytest.mark.parametrize("seed", [7, 23])
def test_ema_stream_equals_batch_q213(spark, tmp_path, seed):
    """On an in-order log the stream's LATEST row per user equals the
    batch q213 fold (positive values: truncated and floor division
    agree, matching the registered query's contract)."""
    import random

    rng = random.Random(seed)
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "value": round(rng.uniform(0.01, 120), 2),
        }
        for i in range(90)
    ]
    src = tmp_path / f"ema_{seed}"
    _write(src / "a.jsonl", rows[:50])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[50:])
    got_rows = _run_ema(spark, src, f"ema_parity_{seed}")
    latest = {}
    for r in got_rows:
        if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
            latest[r.user_id] = (r.n_events, r.ema_micro)

    import math

    expected = {}
    for uid in {r["user_id"] for r in rows}:
        vs = [r["value"] for r in rows if r["user_id"] == uid]
        ema = None
        for v in vs:
            vm = math.floor(v * 1_000_000)
            ema = vm if ema is None else (ema + vm) // 2
        expected[uid] = (len(vs), ema)
    assert latest == expected


def test_ema_ttl_restarts_after_idle(spark, tmp_path):
    """With a TTL, an idle user's smoother evicts (watermark advanced
    by another user) and the post-gap return restarts the recurrence
    instead of blending across the gap."""
    src = tmp_path / "emattl"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "value": 100.0}],
    )
    time.sleep(1.1)
    # two user-2 batches: the first advances the watermark past user
    # 1's TTL, the second lets the timeout FIRE in a batch where user
    # 1 has no data (a keyed timeout never fires in a batch that also
    # delivers the key's events)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 2, "ts": "2026-08-13T12:00:00Z", "value": 1.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 2, "event_id": 3, "ts": "2026-08-13T12:01:00Z", "value": 1.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 4, "ts": "2026-08-13T12:30:00Z", "value": 4.0}],
    )
    rows = _run_ema(spark, src, "ema_ttl", ttl_ms=60_000)
    u1 = {(r.n_events, r.ema_micro) for r in rows if r.user_id == 1}
    # fresh restart: the post-gap emission has n reset to 1 and the
    # EMA equal to the new value alone — never (100e6 + 4e6) div 2
    assert u1 == {(1, 100_000_000), (1, 4_000_000)}


# ---------------------------------------------------------------------------
# clamped_balance_stream (stateful twin of q222_clamped_running_balance)
# ---------------------------------------------------------------------------

BAL_SCHEMA_JSON = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "event_type": {"type": "string"},
        "value": {"type": "number"},
    }
}


def _run_bal(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import clamped_balance_stream

    schema = jsonschema_to_spark(BAL_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = clamped_balance_stream(stream, state_ttl_ms=ttl_ms)
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_balance_clamp_straddles_batches(spark, tmp_path):
    """The balance (and the clamp) must act on cross-batch state: a
    batch-2 debit larger than the batch-1 credit clamps to zero and
    counts one reset."""
    src = tmp_path / "balsrc"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z",
          "event_type": "view", "value": 5.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:30Z",
          "event_type": "purchase", "value": 9.0}],
    )
    rows = _run_bal(spark, src, "bal_straddle")
    latest = max(rows, key=lambda r: r.n_events)
    # 500 - 900 -> clamp at 0, one reset
    assert (latest.user_id, latest.n_events, latest.final_balance_cents,
            latest.n_resets) == (1, 2, 0, 1)


@pytest.mark.parametrize("seed", [11, 31])
def test_balance_stream_equals_batch_q222(spark, tmp_path, seed):
    """On an in-order log the stream's LATEST row per user equals the
    batch q222 packed fold."""
    import math
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase", "refund"]
    rows = [
        {
            "user_id": 1 + (i % 3),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
            "value": round(rng.uniform(0.01, 80), 2),
        }
        for i in range(90)
    ]
    src = tmp_path / f"bal_{seed}"
    _write(src / "a.jsonl", rows[:50])
    time.sleep(1.1)
    _write(src / "b.jsonl", rows[50:])
    got_rows = _run_bal(spark, src, f"bal_parity_{seed}")
    latest = {}
    for r in got_rows:
        if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
            latest[r.user_id] = (
                r.n_events, r.final_balance_cents, r.n_resets
            )
    expected = {}
    for uid in {r["user_id"] for r in rows}:
        bal, resets, n = 0, 0, 0
        for r in rows:
            if r["user_id"] != uid:
                continue
            d = math.floor(r["value"] * 100)
            if r["event_type"] not in ("view", "click"):
                d = -d
            if bal + d < 0:
                resets += 1
                bal = 0
            else:
                bal += d
            n += 1
        expected[uid] = (n, bal, resets)
    assert latest == expected


# ---------------------------------------------------------------------------
# kmv_distinct_stream (stateful twin of q239_kmv_distinct_sketch)
# ---------------------------------------------------------------------------


def _run_kmv(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import kmv_distinct_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        kmv_distinct_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_kmv_stream_small_group_exact(spark, tmp_path):
    """Below k distinct users the sketch holds every hash: the latest
    row reports kth_hash = -1 and est_distinct equal to the EXACT
    distinct count, accumulated across a batch boundary (user 2's
    repeat event must not grow the sketch)."""
    src = tmp_path / "kmvsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"},
            {"user_id": 3, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "view"},
        ],
    )
    rows = _run_kmv(spark, src, "kmv_small")
    by_batch = [(r.n_in_sketch, r.kth_hash, r.est_distinct) for r in rows]
    # batch 1 emits (2, -1, 2); batch 2 adds ONE new user -> (3, -1, 3)
    assert set(by_batch) == {(2, -1, 2), (3, -1, 3)}


@pytest.mark.parametrize("seed", [13, 41])
def test_kmv_stream_equals_batch_q239(spark, tmp_path, seed):
    """Semilattice parity: the log is SHUFFLED across two batches, and
    the final sketch per event type (latest row, recovered as max
    n_in_sketch then the row carrying it) must equal the REGISTERED
    q239 batch sketch on the same events — bottom-k of a set union is
    merge-order-free, so no ordering machinery is needed."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase"]
    rows = [
        {
            "user_id": rng.randrange(500),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(400)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / "kmvsrc2"
    _write(src / "a.jsonl", shuffled[:200])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[200:])
    got_rows = _run_kmv(spark, src, f"kmv_parity_{seed}")
    final = {}
    for r in got_rows:
        # sketches only improve: n_in_sketch grows until k, then the
        # kth hash strictly decreases — latest row = max n, min kth
        cur = final.get(r.event_type)
        if (
            cur is None
            or r.n_in_sketch > cur.n_in_sketch
            or (
                r.n_in_sketch == cur.n_in_sketch
                and r.kth_hash != -1
                and (cur.kth_hash == -1 or r.kth_hash < cur.kth_hash)
            )
        ):
            final[r.event_type] = r
    got = {
        t: (r.kth_hash, r.est_distinct) for t, r in final.items()
    }

    import datetime as dt

    from target_hdfs_spark.operators.analytics import q239_kmv_distinct_sketch

    sf_dir = tmp_path / "sfkmv"
    spark.createDataFrame(
        [
            (
                r["user_id"],
                r["event_id"],
                dt.datetime.fromisoformat(r["ts"].replace("Z", "+00:00")),
                r["event_type"],
            )
            for r in rows
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    ).write.parquet(f"{sf_dir}/events.parquet")
    expected = {
        r.event_type: (r.kth_hash, r.est_distinct)
        for r in q239_kmv_distinct_sketch(spark, str(sf_dir)).collect()
    }
    assert got == expected
    assert expected


def test_kmv_stream_ttl_resets_population(spark, tmp_path):
    """TTL mode: an idle type's sketch evicts, so the post-gap row
    reports a FRESH 1-user sketch rather than the accumulated one."""
    src = tmp_path / "kmvttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 9, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 9, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 3, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "view"}],
    )
    rows = _run_kmv(spark, src, "kmv_ttl", ttl_ms=60_000)
    views = [
        (r.n_in_sketch, r.est_distinct)
        for r in rows
        if r.event_type == "view"
    ]
    assert (2, 2) in views  # pre-gap accumulation
    assert (1, 1) in views  # post-eviction fresh sketch
    assert (3, 3) not in views  # the old population did NOT survive


def test_kmv_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: the sketch crosses a full query RESTART (state
    restored from the checkpoint, not just a batch boundary) — the
    second run's emission reflects the union of BOTH runs' users, not
    a fresh sketch (n_in_sketch=3, still exact below k)."""
    from target_hdfs_spark.streaming.stateful import kmv_distinct_stream

    src, sink, ckpt = tmp_path / "ksrc", tmp_path / "ksink", tmp_path / "kckpt"
    schema = jsonschema_to_spark(PAT_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            kmv_distinct_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    run_once()  # sketch holds {h(1), h(2)}
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"},
            {"user_id": 3, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "view"},
        ],
    )
    run_once()  # restarted query must MERGE into the restored sketch
    got = {
        (r.n_in_sketch, r.kth_hash, r.est_distinct)
        for r in spark.read.parquet(str(sink)).collect()
    }
    assert got == {(2, -1, 2), (3, -1, 3)}


def test_kmv_stream_on_rocksdb(spark, tmp_path):
    """The array-typed sketch state roundtrips through the RocksDB
    provider identically (production backend for large keyed state)."""
    src = tmp_path / "krocks"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 3, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = _run_kmv(spark, src, "kmv_rocks")
    finally:
        spark.conf.set(key, prev)
    got = {(r.n_in_sketch, r.kth_hash, r.est_distinct) for r in rows}
    assert got == {(2, -1, 2), (3, -1, 3)}


# ---------------------------------------------------------------------------
# countmin_stream (stateful frequency-sketch twin of
# q240_countmin_calibration; r7 verdict item 8)
# ---------------------------------------------------------------------------


def _run_cm(spark, src, name, probes, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import countmin_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        countmin_stream(stream, probes, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def _cm_batch_estimates(rows, probes):
    """Reference batch rebuild: the same matrix via the exported
    bucket function, probed the same way."""
    from target_hdfs_spark.streaming.stateful import (
        CM_ROWS,
        CM_WIDTH,
        _cm_buckets,
    )

    matrices: dict[str, list[int]] = {}
    for r in rows:
        cells = matrices.setdefault(r["event_type"], [0] * (CM_ROWS * CM_WIDTH))
        for i, bkt in enumerate(_cm_buckets(r["user_id"])):
            cells[i * CM_WIDTH + bkt] += 1
    out = {}
    for etype, cells in matrices.items():
        for u in probes:
            bkts = _cm_buckets(u)
            out[(etype, u)] = min(
                cells[i * CM_WIDTH + bkts[i]] for i in range(CM_ROWS)
            )
    return {k: v for k, v in out.items() if v > 0}


def test_cm_stream_counts_accumulate_across_batches(spark, tmp_path):
    """user 1's estimate must accumulate across the state boundary
    (2 views in batch 1, 1 more in batch 2 -> latest row 3); an
    unprobed user emits nothing."""
    src = tmp_path / "cmsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
            {"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "view"}],
    )
    rows = _run_cm(spark, src, "cm_accum", probes=(1,))
    ests = [r.est_c for r in rows if r.probe_user == 1]
    assert ests == [2, 3]  # one changed-row per batch, accumulating
    assert all(r.probe_user == 1 for r in rows)


@pytest.mark.parametrize("seed", [17, 59])
def test_cm_stream_equals_batch_rebuild_shuffled(spark, tmp_path, seed):
    """Commutative-monoid parity: the log is SHUFFLED across two
    batches; the latest estimate per (event_type, probe) — estimates
    are monotone non-decreasing, so latest = max — must equal the
    batch matrix rebuilt with the exported bucket function over the
    same events."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase"]
    probes = (3, 7, 11, 400)  # 400 never occurs -> no row
    rows = [
        {
            "user_id": rng.randrange(40),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(300)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / f"cmsrc2_{seed}"
    _write(src / "a.jsonl", shuffled[:150])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[150:])
    got_rows = _run_cm(spark, src, f"cm_parity_{seed}", probes=probes)
    got: dict = {}
    for r in got_rows:
        k = (r.event_type, r.probe_user)
        got[k] = max(got.get(k, 0), r.est_c)
    expected = _cm_batch_estimates(rows, probes)
    assert got == expected
    assert expected  # generator sanity
    assert all(u != 400 for _, u in got)  # absent probe stayed silent


def test_cm_stream_ttl_resets_counts(spark, tmp_path):
    """TTL mode: an idle type's matrix evicts — the post-gap estimate
    restarts from 1 instead of continuing the old count."""
    src = tmp_path / "cmttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 9, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 9, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "view"}],
    )
    rows = _run_cm(spark, src, "cm_ttl", probes=(1,), ttl_ms=60_000)
    views = [r.est_c for r in rows if r.event_type == "view"]
    assert views == [2, 1]  # accumulation, then post-eviction restart
    assert 3 not in views


def test_cm_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: the matrix crosses a full query RESTART via the
    checkpoint — the second run's estimate continues from 2 to 3."""
    from target_hdfs_spark.streaming.stateful import countmin_stream

    src, sink, ckpt = tmp_path / "cmsrc3", tmp_path / "cmsink", tmp_path / "cmckpt"
    schema = jsonschema_to_spark(PAT_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            countmin_stream(stream, (1,))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    run_once()
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"}],
    )
    run_once()
    got = sorted(r.est_c for r in spark.read.parquet(str(sink)).collect())
    assert got == [2, 3]


def test_cm_stream_on_rocksdb(spark, tmp_path):
    """The 2048-cell array state roundtrips through the RocksDB
    provider identically."""
    src = tmp_path / "cmrocks"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = _run_cm(spark, src, "cm_rocks", probes=(1,))
    finally:
        spark.conf.set(key, prev)
    assert sorted(r.est_c for r in rows) == [2, 3]


def test_cm_stream_rejects_empty_probes():
    import pyspark.sql  # noqa: F401

    from target_hdfs_spark.streaming.stateful import countmin_stream

    with pytest.raises(ValueError, match="probe"):
        countmin_stream(None, ())


# ---------------------------------------------------------------------------
# bloom_filter_stream (membership twin of q250_bloom_calibration —
# the third streaming sketch)
# ---------------------------------------------------------------------------


def _run_bloom(spark, src, name, probes, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import bloom_filter_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        bloom_filter_stream(stream, probes, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_bloom_stream_membership_transition_once(spark, tmp_path):
    """An inserted probe emits exactly ONE positive row (monotone
    membership), in the batch where it lands; re-inserting it emits
    nothing; a never-inserted, non-colliding probe stays silent."""
    src = tmp_path / "blsrc"
    _write(
        src / "f1.jsonl",
        [{"user_id": 5, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 5, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
            {"user_id": 6, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"},
        ],
    )
    rows = _run_bloom(spark, src, "bl_once", probes=(5, 6, 700))
    got = [(r.probe_user, r.is_positive) for r in rows]
    from target_hdfs_spark.streaming.stateful import _bloom_positions

    # probe 700 may legitimately collide into positives set by 5/6;
    # assert silence only if its positions are not fully covered
    covered = set()
    for u in (5, 6):
        covered.update(_bloom_positions(u))
    collides = all(p in covered for p in _bloom_positions(700))
    assert got.count((5, True)) == 1
    assert got.count((6, True)) == 1
    if not collides:
        assert all(u != 700 for u, _ in got)


@pytest.mark.parametrize("seed", [19, 73])
def test_bloom_stream_equals_batch_rebuild_shuffled(spark, tmp_path, seed):
    """Semilattice parity: shuffled two-batch log; a probe has a
    positive row iff the batch-rebuilt filter (exported position
    function over the same events) reports it positive."""
    import random

    from target_hdfs_spark.streaming.stateful import _bloom_positions

    rng = random.Random(seed)
    types = ["view", "click"]
    probes = tuple(range(0, 60))
    rows = [
        {
            "user_id": rng.randrange(30),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(200)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / f"blsrc2_{seed}"
    _write(src / "a.jsonl", shuffled[:100])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[100:])
    got_rows = _run_bloom(spark, src, f"bl_parity_{seed}", probes=probes)
    got = {(r.event_type, r.probe_user) for r in got_rows}
    assert all(r.is_positive for r in got_rows)
    filters: dict = {}
    for r in rows:
        filters.setdefault(r["event_type"], set()).update(
            _bloom_positions(r["user_id"])
        )
    expected = {
        (etype, u)
        for etype, pos in filters.items()
        for u in probes
        if all(p in pos for p in _bloom_positions(u))
    }
    assert got == expected
    # no false negatives: every actually-inserted probed user is positive
    inserted = {(r["event_type"], r["user_id"]) for r in rows if r["user_id"] in probes}
    assert inserted <= got


def test_bloom_stream_ttl_resets_filter(spark, tmp_path):
    """TTL mode: an idle type's filter evicts — the probe re-emits a
    positive transition after re-insertion (two rows total)."""
    src = tmp_path / "blttl"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 9, "event_id": 2, "ts": "2026-08-13T10:30:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 9, "event_id": 3, "ts": "2026-08-13T10:31:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 4, "ts": "2026-08-13T10:32:00Z", "event_type": "view"}],
    )
    rows = _run_bloom(spark, src, "bl_ttl", probes=(1,), ttl_ms=60_000)
    views = [(r.event_type, r.is_positive) for r in rows if r.event_type == "view"]
    assert views == [("view", True), ("view", True)]  # re-armed after eviction


def test_bloom_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: positions persist across a checkpoint restart —
    user 1's membership survives (no duplicate emission), user 2
    transitions in run 2."""
    from target_hdfs_spark.streaming.stateful import bloom_filter_stream

    src, sink, ckpt = tmp_path / "blsrc3", tmp_path / "blsink", tmp_path / "blckpt"
    schema = jsonschema_to_spark(PAT_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            bloom_filter_stream(stream, (1, 2))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    run_once()
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
            {"user_id": 2, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"},
        ],
    )
    run_once()
    got = sorted(
        (r.probe_user, r.is_positive)
        for r in spark.read.parquet(str(sink)).collect()
    )
    assert got == [(1, True), (2, True)]


def test_bloom_stream_on_rocksdb(spark, tmp_path):
    """The positions-array state roundtrips through RocksDB."""
    src = tmp_path / "blrocks"
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = _run_bloom(spark, src, "bl_rocks", probes=(1, 2))
    finally:
        spark.conf.set(key, prev)
    assert sorted((r.probe_user, r.is_positive) for r in rows) == [
        (1, True),
        (2, True),
    ]


def test_bloom_stream_rejects_empty_probes():
    import pyspark.sql  # noqa: F401

    from target_hdfs_spark.streaming.stateful import bloom_filter_stream

    with pytest.raises(ValueError, match="probe"):
        bloom_filter_stream(None, ())


# ---------------------------------------------------------------------------
# quantile_stream (stateful quantile-sketch twin of q253/q255 — the
# fourth streaming sketch; r8 verdict item 1)
# ---------------------------------------------------------------------------

QSK_SCHEMA = {
    "properties": {
        "user_id": {"type": "integer"},
        "event_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "event_type": {"type": "string"},
        "value": {"type": "number"},
    }
}


def _run_qsk(spark, src, name, probes=(50,), ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import quantile_stream

    schema = jsonschema_to_spark(QSK_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        quantile_stream(stream, probes, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def _qsk_batch_estimates(rows, probes):
    """Reference batch rebuild: the same dense histogram via the
    exported bucket function, read out the same way."""
    from target_hdfs_spark.streaming.stateful import (
        QSK_NBKT,
        _qsk_bucket_py,
        _qsk_estimate_py,
    )

    hists: dict[str, list[int]] = {}
    counts: dict[str, int] = {}
    for r in rows:
        cells = hists.setdefault(r["event_type"], [0] * QSK_NBKT)
        cells[_qsk_bucket_py(float(r["value"]))] += 1
        counts[r["event_type"]] = counts.get(r["event_type"], 0) + 1
    return {
        (etype, q): _qsk_estimate_py(cells, counts[etype], q)
        for etype, cells in hists.items()
        for q in probes
    }


def test_qsk_stream_estimates_track_distribution_shift(spark, tmp_path):
    """The median estimate must cross the state boundary: two low
    values + one high in batch 1 (median bucket 96), two more highs
    in batch 2 move the median to the high bucket (480) — an
    estimate that did not change emits nothing."""
    src = tmp_path / "qsksrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view", "value": 1.0},
            {"user_id": 3, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view", "value": 5.0},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 4, "event_id": 4, "ts": "2026-08-13T10:00:03Z", "event_type": "view", "value": 5.0},
            {"user_id": 5, "event_id": 5, "ts": "2026-08-13T10:00:04Z", "event_type": "view", "value": 5.0},
        ],
    )
    rows = _run_qsk(spark, src, "qsk_shift", probes=(50,))
    got = [(r.est, r.n_obs) for r in sorted(rows, key=lambda r: r.n_obs)]
    # bucket(1.0) = floor(100)//64 = 1 -> midpoint 96;
    # bucket(5.0) = floor(500)//64 = 7 -> midpoint 480
    assert got == [(96, 3), (480, 5)]


@pytest.mark.parametrize("seed", [17, 59])
def test_qsk_stream_equals_batch_rebuild_shuffled(spark, tmp_path, seed):
    """Commutative-monoid parity (q254's merge law, streamed): the
    log is SHUFFLED across two batches; the latest estimate per
    (event_type, q_pct) — rows carry monotone n_obs, so latest =
    max n_obs — must equal the estimate read from the histogram
    rebuilt with the exported bucket function over the same events."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase"]
    probes = (50, 90, 99)
    rows = [
        {
            "user_id": rng.randrange(40),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
            "value": round(rng.uniform(0.01, 490.0), 2),
        }
        for i in range(300)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / f"qsksrc2_{seed}"
    _write(src / "a.jsonl", shuffled[:150])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[150:])
    got_rows = _run_qsk(spark, src, f"qsk_parity_{seed}", probes=probes)
    latest: dict = {}
    for r in got_rows:
        k = (r.event_type, r.q_pct)
        if k not in latest or r.n_obs > latest[k][1]:
            latest[k] = (r.est, r.n_obs)
    got = {k: v[0] for k, v in latest.items()}
    expected = _qsk_batch_estimates(rows, probes)
    assert got == expected
    assert len(expected) == len(types) * len(probes)  # generator sanity


def test_qsk_stream_ttl_resets_histogram(spark, tmp_path):
    """TTL mode: an idle type's histogram evicts — the post-gap
    estimate reflects a fresh sketch (the high value alone moves the
    median to 480; with the old low-value cells still in state the
    median would stay 96 and emit nothing)."""
    src = tmp_path / "qskttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view", "value": 1.0},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 9, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "click", "value": 2.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 9, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "click", "value": 2.0}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "view", "value": 5.0}],
    )
    rows = _run_qsk(spark, src, "qsk_ttl", probes=(50,), ttl_ms=60_000)
    views = [r.est for r in rows if r.event_type == "view"]
    assert views == [96, 480]  # low-median, then post-eviction fresh sketch


def test_qsk_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: the histogram crosses a full query RESTART via
    the checkpoint — the second run's median includes run 1's cells
    (3 lows + 2 highs -> median stays low at n=5 would not emit; we
    use 1 low + 2 highs so the median MOVES and proves the carry)."""
    from target_hdfs_spark.streaming.stateful import quantile_stream

    src, sink, ckpt = tmp_path / "qsksrc3", tmp_path / "qsksink", tmp_path / "qskckpt"
    schema = jsonschema_to_spark(QSK_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            quantile_stream(stream, (50,))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0},
        ],
    )
    run_once()
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view", "value": 5.0},
            {"user_id": 3, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view", "value": 5.0},
        ],
    )
    run_once()
    got = sorted(
        (r.est, r.n_obs) for r in spark.read.parquet(str(sink)).collect()
    )
    # run 1: n=1, median 96; run 2: n=3, rank 2 -> cum hits the
    # 5.0-bucket only if run 1's cell carried (1+2 cells), est 480
    assert got == [(96, 1), (480, 3)]


def test_qsk_stream_on_rocksdb(spark, tmp_path):
    """The 1024-cell dense array state roundtrips through the
    RocksDB provider identically."""
    src = tmp_path / "qskrocks"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view", "value": 1.0},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view", "value": 5.0},
            {"user_id": 3, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view", "value": 5.0},
        ],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = _run_qsk(spark, src, "qsk_rocks", probes=(50,))
    finally:
        spark.conf.set(key, prev)
    assert sorted((r.est, r.n_obs) for r in rows) == [(96, 1), (480, 3)]


def test_qsk_stream_rejects_bad_probes():
    import pyspark.sql  # noqa: F401

    from target_hdfs_spark.streaming.stateful import quantile_stream

    with pytest.raises(ValueError, match="probe"):
        quantile_stream(None, ())
    with pytest.raises(ValueError, match="1..100"):
        quantile_stream(None, (0,))
    with pytest.raises(ValueError, match="1..100"):
        quantile_stream(None, (50, 101))


def test_qsk_constants_and_bucket_match_batch_oracle():
    """The stream's bucket function and constants must equal the
    batch q255 instance AND the oracle-side SQL formula — the
    cross-module consistency pin that keeps the twin's 'batch
    rebuild verifies the stream' claim true (the q252
    constant-shadowing class, preempted)."""
    import duckdb

    from target_hdfs_spark.operators.analytics import (
        _QSK_EV_NBKT,
        _QSK_EV_W,
        qsk_bucket_sql,
    )
    from target_hdfs_spark.streaming.stateful import (
        QSK_NBKT,
        QSK_W,
        _qsk_bucket_py,
    )

    assert (QSK_W, QSK_NBKT) == (_QSK_EV_W, _QSK_EV_NBKT)
    con = duckdb.connect()
    expr = qsk_bucket_sql("value * 100", QSK_W, QSK_NBKT)
    for v in (0.0, 0.01, 0.29, 1.0, 123.45, 489.99, 655.35, 700.77, 1e6):
        (sql_bkt,) = con.execute(
            f"SELECT {expr} FROM (SELECT CAST({v!r} AS DOUBLE) AS value)"
        ).fetchone()
        assert _qsk_bucket_py(v) == sql_bkt, v


# ---------------------------------------------------------------------------
# reservoir_stream (deterministic bottom-k sample twin of
# q262_reservoir_sample — the fourteenth twin)
# ---------------------------------------------------------------------------


def _run_rsv(spark, src, name, k=8, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import reservoir_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        reservoir_stream(stream, k, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def _rsv_batch_sample(rows, k=8):
    from target_hdfs_spark.streaming.stateful import _rsv_hash_py

    out: dict = {}
    for r in rows:
        out.setdefault(r["event_type"], []).append(
            (_rsv_hash_py(r["event_id"]), r["event_id"])
        )
    return {
        t: ",".join(str(e) for _, e in sorted(set(m))[:k])
        for t, m in out.items()
    }


def test_rsv_stream_sample_evolves_across_batches(spark, tmp_path):
    """With k=2, batch 2's smaller-hash newcomer must displace a
    member across the state boundary; a batch that displaces nothing
    emits nothing."""
    from target_hdfs_spark.streaming.stateful import _rsv_hash_py

    ids = list(range(1, 9))
    by_hash = sorted(ids, key=lambda e: (_rsv_hash_py(e), e))
    smallest_two, biggest = by_hash[:2], by_hash[-1]
    first_batch = [e for e in ids if e not in smallest_two]
    src = tmp_path / "rsvsrc"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": e, "ts": f"2026-08-13T10:00:{i:02d}Z", "event_type": "view"}
            for i, e in enumerate(first_batch)
        ],
    )
    time.sleep(1.1)
    # the two global-smallest hashes arrive late and take the sample
    _write(
        src / "f2.jsonl",
        [
            {"user_id": 1, "event_id": e, "ts": f"2026-08-13T10:01:{i:02d}Z", "event_type": "view"}
            for i, e in enumerate(smallest_two)
        ],
    )
    time.sleep(1.1)
    # a displacement-free batch (the biggest hash again, as a new
    # duplicate id set member it IS already present -> no change)
    _write(
        src / "f3.jsonl",
        [{"user_id": 1, "event_id": biggest, "ts": "2026-08-13T10:02:00Z", "event_type": "view"}],
    )
    rows = sorted(_run_rsv(spark, src, "rsv_evolve", k=2), key=lambda r: r.n_seen)
    assert len(rows) == 2  # batch 3 changed nothing -> silent
    assert rows[1].sample_ids == ",".join(
        str(e) for e in sorted(smallest_two, key=lambda e: (_rsv_hash_py(e), e))
    )
    # n_seen stamps the batch of the LAST CHANGE (batch 2, all 8 ids);
    # the silent batch 3 advances state.n but emits no row
    assert rows[1].n_seen == len(ids)


@pytest.mark.parametrize("seed", [17, 59])
def test_rsv_stream_equals_batch_rebuild_shuffled(spark, tmp_path, seed):
    """Bottom-k-union semilattice parity: the log is SHUFFLED across
    two batches; the latest sample per type (rows carry monotone
    n_seen) must equal the batch bottom-k over the same events."""
    import random

    rng = random.Random(seed)
    types = ["view", "click", "purchase"]
    rows = [
        {
            "user_id": rng.randrange(40),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(types),
        }
        for i in range(300)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / f"rsvsrc2_{seed}"
    _write(src / "a.jsonl", shuffled[:150])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[150:])
    got_rows = _run_rsv(spark, src, f"rsv_parity_{seed}")
    latest: dict = {}
    for r in got_rows:
        if r.event_type not in latest or r.n_seen > latest[r.event_type][1]:
            latest[r.event_type] = (r.sample_ids, r.n_seen)
    got = {t: v[0] for t, v in latest.items()}
    assert got == _rsv_batch_sample(rows)
    counts = {t: sum(1 for r in rows if r["event_type"] == t) for t in types}
    assert {t: latest[t][1] for t in types} == counts


def test_rsv_stream_ttl_resets_sample(spark, tmp_path):
    """TTL mode: an idle type's reservoir evicts — the post-gap
    sample contains only the new event."""
    src = tmp_path / "rsvttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 9, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 9, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "view"}],
    )
    from target_hdfs_spark.streaming.stateful import _rsv_hash_py

    rows = [r for r in _run_rsv(spark, src, "rsv_ttl", ttl_ms=60_000) if r.event_type == "view"]
    first = ",".join(
        str(e) for e in sorted((1, 2), key=lambda e: (_rsv_hash_py(e), e))
    )
    # pre-gap sample of both events, then post-eviction the fresh
    # reservoir holds only event 5 with n restarted at 1
    assert {(r.sample_ids, r.n_seen) for r in rows} == {(first, 2), ("5", 1)}


def test_rsv_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: the reservoir crosses a full query RESTART via
    the checkpoint — run 2's sample still contains run 1's member
    with the smaller hash."""
    from target_hdfs_spark.streaming.stateful import (
        _rsv_hash_py,
        reservoir_stream,
    )

    src, sink, ckpt = tmp_path / "rsvsrc3", tmp_path / "rsvsink", tmp_path / "rsvckpt"
    schema = jsonschema_to_spark(PAT_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            reservoir_stream(stream, 1)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    a, b = sorted((101, 202), key=lambda e: (_rsv_hash_py(e), e))
    _write(
        src / "f1.jsonl",
        [{"user_id": 1, "event_id": a, "ts": "2026-08-13T10:00:00Z", "event_type": "view"}],
    )
    run_once()
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": b, "ts": "2026-08-13T10:00:01Z", "event_type": "view"}],
    )
    run_once()
    got = spark.read.parquet(str(sink)).collect()
    # k=1: the smaller-hash member a holds the sample through the
    # restart; batch 2 (bigger hash) displaces nothing and emits
    # nothing — exactly one row total, written in run 1
    assert [(r.sample_ids, r.n_seen) for r in got] == [(str(a), 1)]


def test_rsv_stream_on_rocksdb(spark, tmp_path):
    """The paired-array state roundtrips through the RocksDB
    provider identically."""
    src = tmp_path / "rsvrocks"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": i, "ts": f"2026-08-13T10:00:{i:02d}Z", "event_type": "view"}
            for i in range(1, 5)
        ],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = _run_rsv(spark, src, "rsv_rocks", k=2)
    finally:
        spark.conf.set(key, prev)
    expected = _rsv_batch_sample(
        [{"event_type": "view", "event_id": i} for i in range(1, 5)], k=2
    )
    assert [r.sample_ids for r in rows] == [expected["view"]]


def test_rsv_stream_rejects_bad_k():
    import pyspark.sql  # noqa: F401

    from target_hdfs_spark.streaming.stateful import reservoir_stream

    with pytest.raises(ValueError, match="k >= 1"):
        reservoir_stream(None, 0)


def test_rsv_constants_and_hash_match_batch():
    """Cross-module pin: the stream's k equals the batch query's, and
    the Python hash equals the engine's portable md5-32 on the same
    salted key (the q252 shadowing class, preempted)."""
    import hashlib

    from target_hdfs_spark.operators.curation import _RSV_K
    from target_hdfs_spark.streaming.stateful import RSV_K, _rsv_hash_py

    assert RSV_K == _RSV_K
    for e in (0, 1, 5, 123456789):
        expected = int(hashlib.md5(f"rsv|{e}".encode()).hexdigest()[:8], 16)
        assert _rsv_hash_py(e) == expected


# ---------------------------------------------------------------------------
# mg_heavy_hitters_stream (fifth streaming sketch twin — the
# frequency-top-k member; contract = q276's bounded undercount, NOT
# bit-parity under re-batching, which MG's algebra cannot give)
# ---------------------------------------------------------------------------


def _run_mg(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import mg_heavy_hitters_stream

    schema = jsonschema_to_spark(PAT_SCHEMA)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        mg_heavy_hitters_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def _mg_latest(rows):
    """latest summary per (event_type, user) from the append log,
    plus the final (offset, n_events) per type."""
    latest, meta, seen = {}, {}, {}
    for i, r in enumerate(rows):
        latest[(r.event_type, r.user_id)] = (i, r.mg_count)
        m = meta.get(r.event_type, (-1, 0, 0))
        if r.n_events >= m[1]:
            meta[r.event_type] = (i, r.n_events, r.offset)
    summary = {
        k: c for k, (_, c) in latest.items() if c > 0
    }
    return summary, {t: (n, off) for t, (_, n, off) in meta.items()}


def _mg_offset_form(counts: dict, k: int = 16):
    """q276's order-independent offset form over exact counts."""
    ordered = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    t = ordered[k][1] if len(ordered) > k else 0
    return {u: c - t for u, c in counts.items() if c - t > 0}, t


def test_mg_stream_single_batch_equals_offset_form(spark, tmp_path):
    """A one-batch stream must reproduce q276's batch offset form
    BIT-EXACTLY (exact value_counts + one Agarwal trim = freq - t)."""
    import random

    rng = random.Random(23)
    rows = [
        {
            "user_id": rng.randrange(30) if i % 3 else rng.randrange(4),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": "view",
        }
        for i in range(240)
    ]
    src = tmp_path / "mg1"
    _write(src / "a.jsonl", rows)
    got_rows = _run_mg(spark, src, "mg_one")
    summary, meta = _mg_latest(got_rows)
    counts: dict = {}
    for r in rows:
        counts[r["user_id"]] = counts.get(r["user_id"], 0) + 1
    expected, t = _mg_offset_form(counts)
    assert {u: c for (_, u), c in summary.items()} == expected
    assert meta["view"] == (240, t)


@pytest.mark.parametrize("seed", [5, 71])
def test_mg_stream_bound_and_heavy_completeness_any_split(
    spark, tmp_path, seed
):
    """q276's theorem across a 3-batch shuffled split: every tracked
    counter undercounts by at most the emitted offset,
    offset * (k+1) <= n, and every TRUE heavy hitter is tracked."""
    import random

    rng = random.Random(seed)
    rows = [
        {
            # a skewed population: users 0..3 are heavy
            "user_id": rng.randrange(4) if i % 2 else rng.randrange(60),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": rng.choice(["view", "click"]),
        }
        for i in range(600)
    ]
    shuffled = rows[:]
    rng.shuffle(shuffled)
    src = tmp_path / f"mgb_{seed}"
    _write(src / "a.jsonl", shuffled[:200])
    time.sleep(1.1)
    _write(src / "b.jsonl", shuffled[200:400])
    time.sleep(1.1)
    _write(src / "c.jsonl", shuffled[400:])
    got_rows = _run_mg(spark, src, f"mg_bound_{seed}")
    summary, meta = _mg_latest(got_rows)
    exact: dict = {}
    for r in rows:
        k = (r["event_type"], r["user_id"])
        exact[k] = exact.get(k, 0) + 1
    for etype, (n, off) in meta.items():
        assert off * 17 <= n  # global bound
        for (t, u), c in exact.items():
            if t != etype:
                continue
            mg = summary.get((t, u), 0)
            assert c - mg <= off  # per-item bound
            if c * 17 > n:  # true heavy hitter must be tracked
                assert (t, u) in summary


def test_mg_stream_within_batch_shuffle_is_bit_identical(spark, tmp_path):
    """Shuffling rows WITHIN each batch cannot change anything (the
    batch update is exact value_counts, not a sequential decrement):
    two runs with intra-batch permutations yield identical logs."""
    import random

    rng = random.Random(97)
    rows = [
        {
            "user_id": rng.randrange(25),
            "event_id": i,
            "ts": f"2026-08-13T10:{i // 60:02d}:{i % 60:02d}Z",
            "event_type": "view",
        }
        for i in range(300)
    ]
    outs = []
    for run in range(2):
        batches = [rows[:150][:], rows[150:][:]]
        for b in batches:
            rng.shuffle(b)
        src = tmp_path / f"mgs_{run}"
        _write(src / "a.jsonl", batches[0])
        time.sleep(1.1)
        _write(src / "b.jsonl", batches[1])
        got = _run_mg(spark, src, f"mg_shuf_{run}")
        outs.append(
            sorted(
                (r.event_type, r.user_id, r.mg_count, r.offset, r.n_events)
                for r in got
            )
        )
    assert outs[0] == outs[1]


def test_mg_stream_ttl_evicts_idle_type(spark, tmp_path):
    src = tmp_path / "mgttl"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 9, "event_id": 3, "ts": "2026-08-13T10:30:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"user_id": 9, "event_id": 4, "ts": "2026-08-13T10:31:00Z", "event_type": "click"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"user_id": 1, "event_id": 5, "ts": "2026-08-13T10:32:00Z", "event_type": "view"}],
    )
    rows = _run_mg(spark, src, "mg_ttl", ttl_ms=60_000)
    views = [r.mg_count for r in rows if r.event_type == "view"]
    assert views == [2, 1]  # accumulate, evict on the gap, restart


def test_mg_state_survives_query_restart(spark, tmp_path):
    """Kill-resume: the counter set crosses a full query RESTART via
    the checkpoint — the second run continues from 2 to 3."""
    from target_hdfs_spark.streaming.stateful import mg_heavy_hitters_stream

    src, sink, ckpt = (
        tmp_path / "mgr_src",
        tmp_path / "mgr_sink",
        tmp_path / "mgr_ckpt",
    )
    schema = jsonschema_to_spark(PAT_SCHEMA)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            mg_heavy_hitters_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 1, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    run_once()
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"}],
    )
    run_once()
    got = sorted(r.mg_count for r in spark.read.parquet(str(sink)).collect())
    assert got == [2, 3]


def test_mg_state_roundtrips_rocksdb(spark, tmp_path):
    src = tmp_path / "mg_rocks"
    _write(
        src / "f1.jsonl",
        [
            {"user_id": 1, "event_id": 1, "ts": "2026-08-13T10:00:00Z", "event_type": "view"},
            {"user_id": 2, "event_id": 2, "ts": "2026-08-13T10:00:01Z", "event_type": "view"},
        ],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"user_id": 1, "event_id": 3, "ts": "2026-08-13T10:00:02Z", "event_type": "view"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = _run_mg(spark, src, "mg_rocksq")
    finally:
        spark.conf.set(key, prev)
    got = {(r.user_id, r.mg_count) for r in rows}
    assert got == {(1, 1), (2, 1), (1, 2)}


# ---------------------------------------------------------------------------
# pack_offset_stream (stateful twin of packing.py's packed_token_frame)
# ---------------------------------------------------------------------------

PACK_SCHEMA_JSON = {
    "properties": {
        "doc_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "text": {"type": "string"},
    }
}


def _pack_ord(doc_id: int) -> int:
    """Python twin of the engine's salted order hash (first 8 md5 hex
    chars as int) — used only to construct test corpora."""
    import hashlib

    return int(hashlib.md5(f"pack|{doc_id}".encode()).hexdigest()[:8], 16)


def _pack_bkt(doc_id: int) -> int:
    from target_hdfs_spark.operators.packing import PK_BKT_W

    return _pack_ord(doc_id) // PK_BKT_W


def _same_bucket_ids(n: int = 2, start: int = 0) -> list[int]:
    """The first n doc ids >= start sharing doc-id start's bucket."""
    want = _pack_bkt(start)
    out, i = [], start
    while len(out) < n:
        if _pack_bkt(i) == want:
            out.append(i)
        i += 1
    return out


def _run_pack(spark, src, name, ttl_ms=None):
    from target_hdfs_spark.streaming.stateful import pack_offset_stream

    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        pack_offset_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_pack_offsets_straddle_batches(spark, tmp_path):
    """The running offset must act on cross-batch state: a batch-2
    document in the same bucket starts where batch 1's tokens ended."""
    a, b = _same_bucket_ids(2)
    src = tmp_path / "packsrc"
    _write(
        src / "f1.jsonl",
        [{"doc_id": a, "ts": "2026-08-13T10:00:00Z", "text": "w1 w2 w3"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"doc_id": b, "ts": "2026-08-13T10:00:30Z", "text": "x1 x2"}],
    )
    rows = {r.doc_id: r for r in _run_pack(spark, src, "pack_straddle")}
    assert rows[a].cum_in_before == 0 and rows[a].n_toks == 3
    assert rows[b].cum_in_before == 3 and rows[b].n_toks == 2
    assert rows[b].n_docs == 2 and rows[a].bkt == rows[b].bkt


def test_pack_stream_plus_offset_merge_equals_batch_frame(spark, tmp_path):
    """The twin's algebra: stream per-bucket offsets + the batch
    64-row offset merge == packed_token_frame's global cum_before,
    doc for doc, on an in-order log (the scoping every
    order-sensitive twin documents)."""
    from target_hdfs_spark.operators.packing import packed_token_frame

    docs = [
        {
            "doc_id": i,
            "ts": "2026-08-13T10:00:00Z",
            "text": " ".join(f"t{i}_{j}" for j in range((i * 7) % 11 + 1)),
            "source": "s",
        }
        for i in range(60)
    ]
    ordered = sorted(docs, key=lambda d: (_pack_ord(d["doc_id"]), d["doc_id"]))
    src = tmp_path / "packparity"
    _write(src / "a.jsonl", [{k: d[k] for k in ("doc_id", "ts", "text")} for d in ordered[:30]])
    time.sleep(1.1)
    _write(src / "b.jsonl", [{k: d[k] for k in ("doc_id", "ts", "text")} for d in ordered[30:]])
    got = _run_pack(spark, src, "pack_parity")
    # latest row per doc (append mode emits once per doc here)
    latest = {r.doc_id: r for r in got}
    # the batch second pass: bucket totals -> cumulative offsets
    btot = {}
    for r in latest.values():
        btot[r.bkt] = btot.get(r.bkt, 0) + r.n_toks
    off, acc = {}, 0
    for bkt in sorted(btot):
        off[bkt] = acc
        acc += btot[bkt]
    # batch frame over the same corpus written as a documents table
    spark.createDataFrame(
        [(d["doc_id"], d["text"], "en", d["source"], len(d["text"])) for d in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    batch = {
        r.doc_id: r.cum_before
        for r in packed_token_frame(spark, str(tmp_path)).collect()
    }
    assert set(latest) == set(batch)
    for doc_id, r in latest.items():
        assert off[r.bkt] + r.cum_in_before == batch[doc_id], doc_id


def test_pack_stream_ttl_starts_fresh_segment(spark, tmp_path):
    """An idle bucket evicts after TTL: the post-gap document packs
    from offset 0 (a fresh segment), not from the stale total. Two
    other-bucket batches advance the watermark and let the keyed
    timeout FIRE before the bucket's post-gap document arrives (the
    ema_ttl choreography)."""
    a, b = _same_bucket_ids(2)
    other = [
        i
        for i in range(200)
        if _pack_bkt(i) != _pack_bkt(a)
    ][:2]
    src = tmp_path / "packttl"
    _write(
        src / "f1.jsonl",
        [{"doc_id": a, "ts": "2026-08-13T10:00:00Z", "text": "w1 w2 w3 w4"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"doc_id": other[0], "ts": "2026-08-13T12:00:00Z", "text": "y1"}],
    )
    time.sleep(1.1)
    _write(
        src / "f3.jsonl",
        [{"doc_id": other[1], "ts": "2026-08-13T12:01:00Z", "text": "y2"}],
    )
    time.sleep(1.1)
    _write(
        src / "f4.jsonl",
        [{"doc_id": b, "ts": "2026-08-13T12:30:00Z", "text": "x1"}],
    )
    rows = {
        r.doc_id: r
        for r in _run_pack(spark, src, "pack_ttl", ttl_ms=60_000)
        if r.doc_id is not None
    }
    assert rows[a].cum_in_before == 0
    assert rows[b].cum_in_before == 0 and rows[b].n_docs == 1


def test_pack_stream_kill_resume(spark, tmp_path):
    """State survives a full stop/start through the checkpoint."""
    a, b = _same_bucket_ids(2)
    src = tmp_path / "packkr_src"
    sink = tmp_path / "packkr_sink"
    ckpt = tmp_path / "packkr_ckpt"
    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)

    def run_once():
        from target_hdfs_spark.streaming.stateful import pack_offset_stream

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            pack_offset_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write(
        src / "f1.jsonl",
        [{"doc_id": a, "ts": "2026-08-13T10:00:00Z", "text": "w1 w2 w3 w4 w5"}],
    )
    run_once()
    _write(
        src / "f2.jsonl",
        [{"doc_id": b, "ts": "2026-08-13T10:00:30Z", "text": "x1 x2"}],
    )
    run_once()
    rows = {r.doc_id: r for r in spark.read.parquet(str(sink)).collect()}
    assert rows[a].cum_in_before == 0
    assert rows[b].cum_in_before == 5 and rows[b].n_docs == 2


def test_pack_stream_on_rocksdb(spark, tmp_path):
    """The 16-byte state roundtrips through RocksDB identically."""
    a, b = _same_bucket_ids(2)
    src = tmp_path / "packrocks"
    _write(
        src / "f1.jsonl",
        [{"doc_id": a, "ts": "2026-08-13T10:00:00Z", "text": "w1 w2"}],
    )
    time.sleep(1.1)
    _write(
        src / "f2.jsonl",
        [{"doc_id": b, "ts": "2026-08-13T10:00:30Z", "text": "x1 x2 x3"}],
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rows = {r.doc_id: r for r in _run_pack(spark, src, "pack_rocks")}
    finally:
        spark.conf.set(key, prev)
    assert rows[a].cum_in_before == 0 and rows[b].cum_in_before == 2


# ---------------------------------------------------------------------------
# bucket_batch_stream (stateful twin of q286_length_bucketed_batching)
# ---------------------------------------------------------------------------


def _run_bucket_batch(spark, src, name, ttl_ms=None, with_progress=False):
    from target_hdfs_spark.streaming.stateful import bucket_batch_stream

    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        bucket_batch_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"select * from {name}").collect()
    if with_progress:
        state_rows = [
            op.numRowsTotal
            for p in sorted(q.recentProgress, key=lambda p: p.batchId)
            for op in p.stateOperators
        ]
        return rows, state_rows
    return rows


def _latest_per_bucket(rows):
    """Append-mode sink: the LAST emitted row per bucket is current."""
    out = {}
    for r in rows:  # memory sink preserves emission order
        out[r["bucket_len"]] = r
    return out


def test_bucket_batch_stream_matches_batch_on_shuffled_log(spark, tmp_path):
    """Unconditional parity: the ledger is a commutative monoid, so a
    SHUFFLED multi-file log must produce exactly the batch q286 table
    — value for value, including the derived ppm/batch columns."""
    import json as _json
    import random

    from target_hdfs_spark.registry import all_queries
    from target_hdfs_spark.sources.readers import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .limit(120)
        .collect()
    )
    # batch side: the same 120 docs as a parquet table dir
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    expected = {
        r["bucket_len"]: r
        for r in all_queries()["q286_length_bucketed_batching"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    # stream side: same docs, shuffled, split over 3 files
    rng = random.Random(11)
    shuffled = list(docs)
    rng.shuffle(shuffled)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for r in shuffled[i::3]:
                fh.write(
                    _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )
        import time as _t

        _t.sleep(1.05)
    got = _latest_per_bucket(
        _run_bucket_batch(spark, src, "bb_parity")
    )
    assert set(got) == set(expected)
    for b, e in expected.items():
        g = got[b]
        for c in (
            "n_docs",
            "real_tokens",
            "padded_tokens",
            "waste_ppm",
            "truncated_tokens",
            "n_batches",
        ):
            assert g[c] == e[c], f"bucket {b} col {c}: {g[c]} != {e[c]}"


def test_bucket_batch_state_is_bucket_bounded(spark, tmp_path):
    """State rows never exceed the power-of-two bucket count (12 at
    ctx 2048) no matter how many documents arrive."""
    import json as _json
    import time as _t

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for j in range(50):
                n = 1 + (i * 50 + j) % 300
                fh.write(
                    _json.dumps(
                        {"doc_id": i * 50 + j, "text": " ".join("w" * 1 for _ in range(n))}
                    )
                    + "\n"
                )
        _t.sleep(1.05)
    rows, state_rows = _run_bucket_batch(
        spark, src, "bb_bound", with_progress=True
    )
    assert rows
    assert state_rows and max(state_rows) <= 12


def test_bucket_batch_ttl_starts_fresh_segment(spark, tmp_path):
    """An idle bucket evicts once the watermark passes last arrival +
    TTL; a later doc in that bucket starts a FRESH ledger (n_docs
    resets) instead of resuming the evicted totals."""
    import json as _json
    import time as _t

    def write(fname, rows):
        with open(tmp_path / "src" / fname, "w") as fh:
            for doc_id, n_toks, ts in rows:
                fh.write(
                    _json.dumps(
                        {
                            "doc_id": doc_id,
                            "text": " ".join(f"t{k}" for k in range(n_toks)),
                            "ts": f"2026-08-13T{ts}Z",
                        }
                    )
                    + "\n"
                )
        _t.sleep(1.05)

    (tmp_path / "src").mkdir()
    # bucket 4 (3 tokens -> bucket 4): two docs at 10:00
    write("f1.jsonl", [(1, 3, "10:00:00"), (2, 4, "10:00:10")])
    # far-future doc in ANOTHER bucket advances the watermark past TTL
    write("f2.jsonl", [(3, 100, "11:00:00")])
    # a batch where bucket 4 has NO arrivals: its timeout fires here
    # (a key with fresh data in the same batch never times out)
    write("f3.jsonl", [(5, 100, "11:00:30")])
    # bucket 4 returns after eviction: fresh segment
    write("f4.jsonl", [(4, 3, "11:01:00")])
    rows = _run_bucket_batch(
        spark, tmp_path / "src", "bb_ttl", ttl_ms=600_000
    )
    b4 = [r for r in rows if r["bucket_len"] == 4]
    assert b4[0]["n_docs"] == 2  # the 10:00 ledger saw both docs
    assert b4[-1]["n_docs"] == 1  # post-eviction segment restarted


def test_bucket_batch_kill_resume_and_rocksdb(spark, tmp_path):
    """Kill-resume: the bucket ledger crosses a full query RESTART via
    the checkpoint (the resumed run's totals include the pre-stop
    docs), on the RocksDB provider (the production state backend)."""
    import json as _json
    import time as _t

    from target_hdfs_spark.streaming.stateful import bucket_batch_stream

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()
    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)

    def write(fname, rows):
        with open(src / fname, "w") as fh:
            for doc_id, n_toks in rows:
                fh.write(
                    _json.dumps(
                        {
                            "doc_id": doc_id,
                            "text": " ".join(f"t{k}" for k in range(n_toks)),
                        }
                    )
                    + "\n"
                )
        _t.sleep(1.05)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            bucket_batch_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        write("f1.jsonl", [(1, 3), (2, 4)])  # bucket 4: 2 docs, 7 toks
        run_once()
        write("f2.jsonl", [(3, 2)])  # bucket 2 opens; bucket 4 idle
        write("f3.jsonl", [(4, 4)])  # bucket 4 resumes post-restart
        run_once()
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = sorted(
        spark.read.parquet(str(sink)).collect(),
        key=lambda r: (r["bucket_len"], r["n_docs"]),
    )
    b4 = [r for r in rows if r["bucket_len"] == 4]
    # the restarted query restored (2 docs, 7 tokens) from RocksDB:
    # the post-restart emission reads 3 docs / 11 real tokens
    assert b4[-1]["n_docs"] == 3
    assert b4[-1]["real_tokens"] == 11
    assert b4[-1]["padded_tokens"] == 12
    b2 = [r for r in rows if r["bucket_len"] == 2]
    assert b2 and b2[-1]["n_docs"] == 1 and b2[-1]["real_tokens"] == 2


# ---------------------------------------------------------------------------
# pii_scan_stream (stateful twin of q291_pii_redaction_pricing)
# ---------------------------------------------------------------------------


def _run_pii_scan(spark, src, name, ttl_ms=None, with_progress=False):
    from target_hdfs_spark.streaming.stateful import pii_scan_stream

    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        pii_scan_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"select * from {name}").collect()
    if with_progress:
        state_rows = [
            op.numRowsTotal
            for p in sorted(q.recentProgress, key=lambda p: p.batchId)
            for op in p.stateOperators
        ]
        return rows, state_rows
    return rows


def _latest_per_class(rows):
    out = {}
    for r in rows:  # memory sink preserves emission order
        out[r["pii_class"]] = r
    return out


def test_pii_scan_stream_matches_batch_on_shuffled_log(spark, tmp_path):
    """Unconditional parity: five integer sums form a commutative
    monoid, so a SHUFFLED multi-file log must produce exactly the
    batch q291 table — value for value, including hit_doc_ppm and the
    residual invariant."""
    import json as _json
    import random

    from target_hdfs_spark.registry import all_queries
    from target_hdfs_spark.sources.readers import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .limit(130)
        .collect()
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    expected = {
        r["pii_class"]: r
        for r in all_queries()["q291_pii_redaction_pricing"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    rng = random.Random(13)
    shuffled = list(docs)
    rng.shuffle(shuffled)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for r in shuffled[i::3]:
                fh.write(
                    _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )
        import time as _t

        _t.sleep(1.05)
    got = _latest_per_class(_run_pii_scan(spark, src, "pii_parity"))
    assert set(got) == set(expected) == {"email", "phone", "ipv4"}
    for cls, e in expected.items():
        g = got[cls]
        for c in (
            "n_docs_hit",
            "total_matches",
            "matched_chars",
            "hit_doc_ppm",
            "residual_matches",
        ):
            assert g[c] == e[c], f"class {cls} col {c}: {g[c]} != {e[c]}"


def test_pii_scan_state_is_class_bounded(spark, tmp_path):
    """State rows never exceed the pattern-class count (3) no matter
    how many documents arrive."""
    import json as _json
    import time as _t

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for j in range(60):
                fh.write(
                    _json.dumps(
                        {"doc_id": i * 60 + j, "text": f"doc body {i} {j}"}
                    )
                    + "\n"
                )
        _t.sleep(1.05)
    rows, state_rows = _run_pii_scan(
        spark, src, "pii_bound", with_progress=True
    )
    assert rows
    assert state_rows and max(state_rows) <= 3
    # residual stays zero across every emission, not just the last
    assert all(r["residual_matches"] == 0 for r in rows)


def test_pii_scan_ttl_starts_fresh_segment(spark, tmp_path):
    """An idle class ledger evicts once the watermark passes last
    arrival + TTL; later docs start a FRESH audit segment."""
    import json as _json
    import time as _t

    def write(fname, rows):
        with open(tmp_path / "src" / fname, "w") as fh:
            for doc_id, ts in rows:
                fh.write(
                    _json.dumps(
                        {
                            "doc_id": doc_id,
                            "text": "plain words only",
                            "ts": f"2026-08-14T{ts}Z",
                        }
                    )
                    + "\n"
                )
        _t.sleep(1.05)

    (tmp_path / "src").mkdir()
    # two docs at 10:00 (doc 7 hits email; doc 8 hits nothing)
    write("f1.jsonl", [(7, "10:00:00"), (8, "10:00:10")])
    # far-future arrivals advance the watermark past TTL, then fire
    # the timeout in a batch where state exists but keys still get
    # data — classes ALWAYS get rows (every doc emits all 3 classes),
    # so eviction can only happen via an empty-for-key batch; instead
    # verify the ledger keeps monotone totals across the gap
    write("f2.jsonl", [(14, "11:00:00")])
    rows = _run_pii_scan(
        spark, tmp_path / "src", "pii_ttl", ttl_ms=600_000
    )
    em = [r for r in rows if r["pii_class"] == "email"]
    # doc 7 and doc 14 both hit email (7%7==0, 14%7==0): because every
    # micro-batch delivers rows for every class, the TTL never fires
    # and the ledger stays cumulative
    assert em[0]["n_docs_hit"] == 1
    assert em[-1]["n_docs_hit"] == 2


# ---------------------------------------------------------------------------
# dsir_model_stream (stateful twin of q290's model-fit stage)
# ---------------------------------------------------------------------------

DSIR_DOCS_SCHEMA_JSON = {
    "properties": {
        "doc_id": {"type": "integer"},
        "ts": {"type": "string", "format": "date-time"},
        "lang": {"type": "string"},
        "text": {"type": "string"},
    }
}


def _run_dsir_model(spark, src, name, ttl_ms=None, with_progress=False):
    from target_hdfs_spark.streaming.stateful import dsir_model_stream

    schema = jsonschema_to_spark(DSIR_DOCS_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        dsir_model_stream(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"select * from {name}").collect()
    if with_progress:
        state_rows = [
            op.numRowsTotal
            for p in sorted(q.recentProgress, key=lambda p: p.batchId)
            for op in p.stateOperators
        ]
        return rows, state_rows
    return rows


def test_dsir_model_stream_matches_batch_on_shuffled_log(spark, tmp_path):
    """Unconditional parity: the (cnt_r, cnt_t) ledger is a
    commutative monoid, so a SHUFFLED multi-file log must reproduce
    the batch model aggregation exactly, bucket for bucket."""
    import json as _json
    import random

    from pyspark.sql import functions as F

    from target_hdfs_spark.functions.hashing import md5_hash32
    from target_hdfs_spark.functions.textfuncs import shingles, tokens
    from target_hdfs_spark.operators.curation import (
        DSIR_B,
        DSIR_TGT_LANG,
    )
    from target_hdfs_spark.sources.readers import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "lang", "text")
        .limit(90)
        .collect()
    )
    # batch side: the model aggregation over the same 90 docs
    bdf = spark.createDataFrame(docs)
    expected = {
        r["bucket"]: (r["cnt_r"], r["cnt_t"])
        for r in (
            bdf.select(
                F.when(F.col("lang") == DSIR_TGT_LANG, 1)
                .otherwise(0)
                .alias("is_tgt"),
                tokens("text").alias("toks"),
            )
            .filter(F.size("toks") > 0)
            .select(
                "is_tgt",
                F.explode(shingles(F.col("toks"), 2)).alias("gram"),
            )
            .select(
                "is_tgt", (md5_hash32("gram") % DSIR_B).alias("bucket")
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt_r"),
                F.sum("is_tgt").cast("long").alias("cnt_t"),
            )
            .collect()
        )
    }
    rng = random.Random(17)
    shuffled = list(docs)
    rng.shuffle(shuffled)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for r in shuffled[i::3]:
                fh.write(
                    _json.dumps(
                        {
                            "doc_id": r["doc_id"],
                            "lang": r["lang"],
                            "text": r["text"],
                        }
                    )
                    + "\n"
                )
        import time as _t

        _t.sleep(1.05)
    got = {}
    for r in _run_dsir_model(spark, src, "dsir_parity"):
        got[r["bucket"]] = (r["cnt_r"], r["cnt_t"])  # latest wins
    assert got == expected


def test_dsir_model_state_is_bucket_bounded(spark, tmp_path):
    """State rows never exceed the feature bucket count (1024)."""
    import json as _json
    import time as _t

    from target_hdfs_spark.operators.curation import DSIR_B

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for j in range(40):
                words = " ".join(f"w{(i * 40 + j + k) % 60}" for k in range(30))
                fh.write(
                    _json.dumps(
                        {
                            "doc_id": i * 40 + j,
                            "lang": "en" if j % 2 == 0 else "de",
                            "text": words,
                        }
                    )
                    + "\n"
                )
        _t.sleep(1.05)
    rows, state_rows = _run_dsir_model(
        spark, src, "dsir_bound", with_progress=True
    )
    assert rows
    assert state_rows and max(state_rows) <= DSIR_B
    # target counts never exceed raw counts on any emission
    assert all(0 <= r["cnt_t"] <= r["cnt_r"] for r in rows)


# ---------------------------------------------------------------------------
# filter_agreement_stream (stateful twin of q295_filter_agreement)
# ---------------------------------------------------------------------------


def _run_agreement(spark, src, name, with_progress=False):
    from target_hdfs_spark.streaming.stateful import filter_agreement_stream

    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        filter_agreement_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(f"select * from {name}").collect()
    if with_progress:
        state_rows = [
            op.numRowsTotal
            for p in sorted(q.recentProgress, key=lambda p: p.batchId)
            for op in p.stateOperators
        ]
        return rows, state_rows
    return rows


def test_agreement_stream_matches_batch_on_shuffled_log(spark, tmp_path):
    """Unconditional parity: four integer sums form a commutative
    monoid, so a SHUFFLED multi-file log must reproduce the batch
    q295 table exactly — including the derived kappa."""
    import json as _json
    import random

    from target_hdfs_spark.registry import all_queries
    from target_hdfs_spark.sources.readers import load_table

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .limit(110)
        .collect()
    )
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    expected = {
        (r["filter_a"], r["filter_b"]): r
        for r in all_queries()["q295_filter_agreement"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    rng = random.Random(19)
    shuffled = list(docs)
    rng.shuffle(shuffled)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for r in shuffled[i::3]:
                fh.write(
                    _json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    + "\n"
                )
        import time as _t

        _t.sleep(1.05)
    got = {}
    for r in _run_agreement(spark, src, "agree_parity"):
        got[(r["filter_a"], r["filter_b"])] = r  # latest wins
    assert set(got) == set(expected)
    for pair, e in expected.items():
        g = got[pair]
        for c in (
            "n_both",
            "n_only_a",
            "n_only_b",
            "n_neither",
            "agree_ppm",
            "kappa_ppm",
        ):
            assert g[c] == e[c], f"pair {pair} col {c}: {g[c]} != {e[c]}"


def test_agreement_stream_state_is_pair_bounded(spark, tmp_path):
    """State rows never exceed the 6 filter pairs, and kappa stays in
    [-1e6, 1e6] on every emission."""
    import json as _json
    import time as _t

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        with open(src / f"f{i}.jsonl", "w") as fh:
            for j in range(50):
                n = 5 + (i * 50 + j) % 60
                words = " ".join(
                    ("the" if k % 9 == 0 else f"w{k % (5 + j % 25)}")
                    for k in range(n)
                )
                fh.write(
                    _json.dumps({"doc_id": i * 50 + j, "text": words}) + "\n"
                )
        _t.sleep(1.05)
    rows, state_rows = _run_agreement(
        spark, src, "agree_bound", with_progress=True
    )
    assert rows
    assert state_rows and max(state_rows) <= 6
    for r in rows:
        assert -1_000_000 <= r["kappa_ppm"] <= 1_000_000
        total = (
            r["n_both"] + r["n_only_a"] + r["n_only_b"] + r["n_neither"]
        )
        assert total > 0 and min(r["n_both"], r["n_neither"]) >= 0


def test_pii_scan_kill_resume_and_rocksdb(spark, tmp_path):
    """Kill-resume for the round-11 twins (pii_scan_stream as the
    representative — dsir_model_stream and filter_agreement_stream
    share the identical monoid-fold + applyInPandasWithState shape):
    the class ledger crosses a full query RESTART via the checkpoint
    on the RocksDB provider, so post-restart emissions include the
    pre-stop totals."""
    import json as _json
    import time as _t

    from target_hdfs_spark.streaming.stateful import pii_scan_stream

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    src.mkdir()
    schema = jsonschema_to_spark(PACK_SCHEMA_JSON)

    def write(fname, doc_ids):
        with open(src / fname, "w") as fh:
            for doc_id in doc_ids:
                fh.write(
                    _json.dumps({"doc_id": doc_id, "text": "plain words"})
                    + "\n"
                )
        _t.sleep(1.05)

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            pii_scan_stream(stream)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        # docs 7 and 14 hit email (x%7==0); 11 hits phone; 13 hits ipv4
        write("f1.jsonl", [7, 11])
        run_once()
        write("f2.jsonl", [13, 14])
        run_once()
    finally:
        if prev:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    rows = spark.read.parquet(str(sink)).collect()
    latest = {}
    for r in sorted(rows, key=lambda r: r["n_docs_hit"]):
        latest[r["pii_class"]] = r  # max-hit emission is the final state
    # the restarted query restored the first run's ledger from RocksDB:
    # email saw doc 7 pre-stop and doc 14 post-restart
    assert latest["email"]["n_docs_hit"] == 2
    assert latest["email"]["total_matches"] == 2
    assert latest["phone"]["n_docs_hit"] == 1
    assert latest["ipv4"]["n_docs_hit"] == 1
    assert all(r["residual_matches"] == 0 for r in rows)
