"""singer_wire: a seeded tap played into ``SingerPipe.process_lines``.

Three streams are synced one after another, again and again (nested
objects with an array, a flat event stream with date-time strings, a
wide nullable one). Each stream's segment is 250 records, SCHEMA re-sent
and a STATE, so STATE (not ``max_batch_size``) drives the flushes. The
run stops at the first pass boundary after the deadline, so every run
sees the same mix of streams.

One cycle is one STATE commit: from the pipe pulling the STATE line to
the pipe yielding its payload, i.e. the flush of every buffered record
before it.
"""

from __future__ import annotations

import math
import statistics
import time

import pyarrow.parquet as pq

import gen
from harness import Bench, data_files, parquet_rows, timing_summary

# Input is generated up front (generating it lazily would bill the
# generator to the pipe), sized from --seconds: HEADROOM times the
# highest STATE rate seen on a 4-vCPU host (45 STATEs in a 10 s run).
# A run that still runs out of input counts a failed operation.
MAX_STATES_PER_S = 4.5
HEADROOM = 5


def passes_for(seconds: float) -> int:
    """Tap passes (3 STATEs, 750 records each) to generate for a run."""
    return math.ceil(HEADROOM * MAX_STATES_PER_S * seconds / len(gen.TAP_STREAMS))


def _play(pipe, lines, is_state, deadline, pulls, on_state):
    """Feed ``lines`` to the pipe; stop after the first pass-ending STATE
    that the pipe commits past ``deadline``."""

    def feed():
        states = 0
        for line, state in zip(lines, is_state):
            if state:
                pulls.append(time.perf_counter())
                states += 1
            yield line
            if (state and states % len(gen.TAP_STREAMS) == 0
                    and time.perf_counter() >= deadline):
                return

    for payload in pipe.process_lines(feed()):
        on_state(payload)


def run(b: Bench) -> dict:
    from target_hdfs_spark.config import TargetConfig
    from target_hdfs_spark.sources.singer import SingerPipe

    lines, is_state, expected = b.stage(
        lambda i: gen.singer_tap(b.seed, passes_for(b.seconds)))

    def warm():
        # one short pass (3 flushes): per-flush latency keeps falling for
        # about ten flushes (JIT), but longer warm-ups did not make runs
        # agree more closely
        warm_lines, warm_flags, _ = gen.singer_tap(b.seed + 7919, 1, 100)
        pipe = SingerPipe(b.spark, TargetConfig(destination_path=b.path("warm")))
        _play(pipe, warm_lines, warm_flags, float("inf"), [], lambda p: None)

    b.warm(warm)

    dest = b.path("dest")
    pipe = SingerPipe(b.spark, TargetConfig(destination_path=dest))
    pulls: list[float] = []
    got: list[str] = []
    commit_ms: list[float] = []

    def on_state(payload: str) -> None:
        commit_ms.append((time.perf_counter() - pulls[len(got)]) * 1e3)
        got.append(payload)
        b.set_op(f"state-{len(got)}")

    with b.measuring():
        b.set_op("state-0")
        t0 = time.perf_counter()
        with b.span("singer.process_lines"):
            _play(pipe, lines, is_state, b.deadline(), pulls, on_state)
        wall = time.perf_counter() - t0

    b.outcome.op(len(got) < len(expected["payloads"]),
                 f"ran out of input before the deadline ({len(got)} STATEs)")
    # every committed STATE is an operation; each STATE pulled must come
    # back, in order and byte-equal
    b.outcome.op(len(got) == len(pulls), f"{len(pulls)} STATEs sent, {len(got)} yielded")
    for i, payload in enumerate(got):
        b.outcome.op(payload == expected["payloads"][i], f"STATE {i} payload differs")
    sent = expected["after_state"][len(got) - 1]
    for stream, n in sent.items():
        path = f"{dest}/{stream}"
        rows = parquet_rows(path)
        b.outcome.op(rows == n, f"{stream}: {rows} rows on disk, {n} sent")
        files = data_files(path)
        cols = set(pq.read_schema(files[0][0]).names) if files else set()
        b.outcome.op(cols == gen.EXPECTED_COLUMNS[stream],
                     f"{stream}: columns {sorted(cols)}")

    records = sum(sent.values())
    b.layer.update({"singer.records_in": records, "singer.state_out": len(got)})
    return {
        "items": records,
        "items_per_s": records / wall,
        "cycle_ms": statistics.median(commit_ms),
        "detail": {
            "wire_records_per_s": (records / wall, "rec/s"),
            **timing_summary("state_commit", commit_ms),
            "wire_files_written": (len(data_files(dest)), "files"),
        },
    }
