"""Benchmark of the target_hdfs_spark engine, driven from outside
through its public functions.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see each module's docstring): singer_wire, lake_ops,
query_mix. All load comes from this one process in a closed loop with
one client: each call starts when the previous one returns, as the
Singer pipe (one stdin consumer) and the blocking maintenance calls
are used.

Every run starts the program's session (``session.get_spark`` on
``local[<cores>]``), makes its inputs from ``--seed``, runs one untimed
warm pass, measures for ``--seconds`` seconds (whole cycles), then
checks the program's outputs. All scratch data lives in a fresh
directory under ``.perfbench/`` that is removed at the end.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones, the same three on every workload:

- ``setup_s``: session start + median of three input stagings + the
  warm pass.
- ``cycle_ms``: latency of one closed-loop cycle, built from medians:
  a STATE commit (singer_wire); streamed drop + append + upsert + scan
  + compaction (lake_ops); a pass over the query list (query_mix).
- ``items_per_s``: records (singer_wire), rows landed (lake_ops) or
  queries (query_mix) per second of time spent in the program's calls.

The line before it names each workload's own metrics with their units
(state_commit_p50_ms, bulk_load_mb_per_s, query_pass_s, peak_rss_mib,
failed_op_share, ...), with sample counts and the highest percentile
that has ten samples beyond it, and ``host.calib_start_ms`` /
``host.calib_end_ms``: a fixed CPU loop timed before and after the run,
which does not touch the program, so a shift in it comes from the host.

With ``--trace 1`` the same calls are wrapped in spans and the metrics
are the per-layer ones; spans are written to
``.perfbench/trace-<workload>.json`` and the tracing overhead is
reported against the last untraced run of the workload.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE_DIR = os.path.join(REPO, ".perfbench")

WORKLOADS = ("singer_wire", "lake_ops", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "cycle_ms": "ms",
    "items_per_s": "1/s",
}
OPERATOR_MODULES = ("relational", "windows", "asof", "dedup", "similarity",
                    "text", "analytics", "packing")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit (the traced run reports all
    of them; a layer a workload does not exercise reads 0)."""
    from query_mix import NEARDUP, PINNED

    units = {
        "session.start_s": "s",
        "singer.records_in": "count", "singer.state_out": "count",
        "singer.flushes": "count", "singer.self_s": "s",
        "jsonschema.calls": "count", "jsonschema.s": "s",
        "transforms.calls": "count", "transforms.s": "s",
        "writer.calls": "count", "writer.busy_s": "s", "writer.call_p50_ms": "ms",
        "writer.drift_guard_s": "s", "writer.estimate_rows_s": "s",
        "writer.files_out": "count", "writer.bytes_out": "B",
        "writer.rows_per_file": "rows",
        "compaction.calls": "count", "compaction.busy_s": "s",
        "compaction.list_s": "s", "compaction.files_in": "count",
        "compaction.files_out": "count", "compaction.bytes_rewritten": "B",
        "upsert.calls": "count", "upsert.busy_s": "s", "upsert.rows_in": "rows",
        "upsert.partitions_rewritten": "count",
        "upsert.bytes_rewritten_per_row": "B/row",
        "scan.busy_s": "s", "scan.setup_s": "s", "scan.files_opened": "count",
        **{f"operators.{m}.s": "s" for m in OPERATOR_MODULES},
        **{f"query.{q}_ms": "ms" for q in (*PINNED, NEARDUP)},
        "stream_ingest.batches": "count", "stream_ingest.trigger_p50_ms": "ms",
        "stream_ingest.addbatch_p50_ms": "ms", "stream_ingest.rows_per_batch": "rows",
        "neardup.batches": "count", "neardup.trigger_p50_ms": "ms",
        "neardup.state_rows": "rows", "neardup.state_mem_bytes": "B",
        "neardup.kept_share": "ratio",
    }
    for name, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("tasks_per_job", "count"), ("shuffle_write_bytes", "B"),
        ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("core_busy_share", "ratio"),
    ):
        units[f"spark.{name}"] = unit
    units["host.calib_ms"] = "ms"
    return units


# --------------------------------------------------------------------------
# probes for the traced run
# --------------------------------------------------------------------------


def _arg(args, kwargs, i: int, name: str):
    return kwargs[name] if name in kwargs else args[i]


def install_probes(tr) -> None:
    """Wrap each layer's entry points where their callers look them up."""
    import pyarrow.parquet as pq

    from harness import data_files
    from target_hdfs_spark import transforms
    from target_hdfs_spark.plans import compaction, upsert, writer
    from target_hdfs_spark.registry import all_queries
    from target_hdfs_spark.sources import jsonschema, readers

    # load every module that binds a wrapped function, so patch() finds
    # the binding its callers use
    import target_hdfs_spark.sources.singer  # noqa: F401
    import target_hdfs_spark.streaming.ingest  # noqa: F401

    all_queries()  # the operator modules, which bind load_table

    def files_under(path):
        return dict(data_files(path)) if os.path.isdir(path) else {}

    def writer_after(before, _result, *args, **kwargs):
        after = files_under(_arg(args, kwargs, 2, "path"))
        new = [p for p in after if p not in before]
        tr.add("writer.files_out", len(new))
        tr.add("writer.bytes_out", sum(after[p] for p in new))
        tr.add("writer.rows_out", sum(pq.read_metadata(p).num_rows for p in new))

    def compaction_after(_ctx, reports, *args, **kwargs):
        for r in reports:
            tr.add("compaction.files_in", r.files_compacted)
            tr.add("compaction.files_out", r.files_after - (r.files_before - r.files_compacted))
            tr.add("compaction.bytes_rewritten", r.bytes_compacted)

    def partitions(path):
        if not os.path.isdir(path):
            return {}
        return {d: os.stat(os.path.join(path, d)).st_ino
                for d in os.listdir(path) if "=" in d}

    def upsert_after(before, _result, *args, **kwargs):
        path = _arg(args, kwargs, 2, "path")
        after = partitions(path)
        rewritten = [d for d, ino in after.items() if before.get(d) != ino]
        tr.add("upsert.partitions_rewritten", len(rewritten))
        tr.add("upsert.bytes_rewritten", sum(
            size for d in rewritten for _, size in data_files(os.path.join(path, d))))

    def count_files(path):
        tr.add("scan.files_opened", len(data_files(path)) if os.path.isdir(path) else 1)

    tr.patch(jsonschema.jsonschema_to_spark, "jsonschema")
    for fn in (transforms.flatten, transforms.apply_stream_map,
               transforms.with_extra_fields, transforms.with_record_metadata):
        tr.patch(fn, "transforms")
    tr.patch(writer.write_stream, "writer",
             before=lambda *a, **k: files_under(_arg(a, k, 2, "path")),
             after=writer_after)
    tr.patch(writer.enforce_schema_unchanged, "writer.drift_guard")
    tr.patch(writer.estimate_rows_per_file, "writer.estimate_rows")
    tr.patch(compaction.compact_stream, "compaction", after=compaction_after)
    tr.patch(compaction.list_data_files, "compaction.list")
    tr.patch(upsert.upsert, "upsert",
             before=lambda *a, **k: partitions(_arg(a, k, 2, "path")),
             after=upsert_after)
    # reads are lazy: these spans time listing and schema resolution
    # only; the scan itself runs in the caller's action (lake_ops wraps
    # its read + aggregate + collect in a "scan" span)
    tr.patch(writer.read_dataset, "scan.setup",
             before=lambda *a, **k: count_files(_arg(a, k, 1, "path")))
    tr.patch(readers.load_table, "scan.setup",
             before=lambda *a, **k: count_files(
                 os.path.join(_arg(a, k, 1, "sf_dir"), _arg(a, k, 2, "name") + ".parquet")))


def layer_metrics(b, session_s: float, engine: dict, calib: dict) -> dict[str, float]:
    tr = b.tracer
    self_s = tr.self_times()
    writer_ms = tr.durations_ms("writer")
    names = {s.id: s.name for s in tr.spans}
    out = dict.fromkeys(per_layer_units(), 0.0)
    out.update({
        "session.start_s": session_s,
        "singer.flushes": sum(1 for s in tr.spans if s.name == "writer"
                              and names.get(s.parent) == "singer.process_lines"),
        "singer.self_s": self_s.get("singer.process_lines", 0.0),
        "jsonschema.calls": tr.calls("jsonschema"),
        "jsonschema.s": tr.busy("jsonschema"),
        "transforms.calls": tr.calls("transforms"),
        "transforms.s": tr.busy("transforms"),
        "writer.calls": len(writer_ms),
        "writer.busy_s": tr.busy("writer"),
        "writer.call_p50_ms": statistics.median(writer_ms) if writer_ms else 0.0,
        "writer.drift_guard_s": tr.busy("writer.drift_guard"),
        "writer.estimate_rows_s": tr.busy("writer.estimate_rows"),
        "writer.files_out": tr.counts["writer.files_out"],
        "writer.bytes_out": tr.counts["writer.bytes_out"],
        "writer.rows_per_file": (tr.counts["writer.rows_out"] / tr.counts["writer.files_out"]
                                 if tr.counts["writer.files_out"] else 0.0),
        "compaction.calls": tr.calls("compaction"),
        "compaction.busy_s": tr.busy("compaction"),
        "compaction.list_s": tr.busy("compaction.list"),
        "compaction.files_in": tr.counts["compaction.files_in"],
        "compaction.files_out": tr.counts["compaction.files_out"],
        "compaction.bytes_rewritten": tr.counts["compaction.bytes_rewritten"],
        "upsert.calls": tr.calls("upsert"),
        "upsert.busy_s": tr.busy("upsert"),
        "upsert.partitions_rewritten": tr.counts["upsert.partitions_rewritten"],
        "upsert.bytes_rewritten_per_row": (
            tr.counts["upsert.bytes_rewritten"] / b.layer["upsert.rows_in"]
            if b.layer.get("upsert.rows_in") else 0.0),
        "scan.busy_s": tr.busy("scan"),
        "scan.setup_s": tr.busy("scan.setup"),
        "scan.files_opened": tr.counts["scan.files_opened"],
        **{f"operators.{m}.s": tr.busy(f"operators.{m}") for m in OPERATOR_MODULES},
    })
    out.update(b.layer)
    out.update(engine)
    out["host.calib_ms"] = statistics.mean(calib.values())
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "target_hdfs_spark", "session.py")):
        print("perfbench: target_hdfs_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import harness

    root = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    trace = bool(args.trace)
    extra = {}
    if trace:
        os.makedirs(os.path.join(root, "eventlog"))
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog")}
    spark = None
    engine: dict = {}
    # the same fixed CPU loop before and after the run: host speed drift
    # shows here, apart from the program's own timings
    calib = {"start": harness.host_calib_ms()}
    try:
        try:
            t0 = time.perf_counter()
            spark, cores = harness.start_session(REPO, root, extra)
            session_s = time.perf_counter() - t0
            b = harness.Bench(args.seed, args.seconds, spark, root)
            if trace:
                b.tracer = harness.Tracer()
                install_probes(b.tracer)
            result = importlib.import_module(args.workload).run(b)
            rss = harness.peak_rss_mib()
            calib["end"] = harness.host_calib_ms()
        finally:
            if spark is not None:
                harness.stop_session(spark)
        if trace:
            engine = harness.event_log_summary(os.path.join(root, "eventlog"),
                                               *b.window_ms, cores)
    except Exception:
        traceback.print_exc()
        print(f"perfbench: {args.workload} aborted", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(root, ignore_errors=True)

    end_to_end = {
        "setup_s": session_s + sum(b.setup_parts.values()),
        "cycle_ms": result["cycle_ms"],
        "items_per_s": result["items_per_s"],
    }
    last_path = os.path.join(STATE_DIR, f"last-{args.workload}.json")
    if trace:
        b.tracer.dump(os.path.join(STATE_DIR, f"trace-{args.workload}.json"))
        values = layer_metrics(b, session_s, engine, calib)
        units = per_layer_units()
        overhead = {}
        if os.path.isfile(last_path):
            with open(last_path) as fh:
                untraced = json.load(fh)
            overhead = {k: end_to_end[k] - untraced["metrics"][k] for k in END_TO_END}
        print(json.dumps({
            "traced_end_to_end": end_to_end,
            "tracing_overhead": overhead or "no untraced run of this workload yet",
            "self_s": {k: round(v, 4) for k, v in sorted(b.tracer.self_times().items())},
        }))
    else:
        values, units = end_to_end, END_TO_END
        with open(last_path, "w") as fh:
            json.dump({"seed": args.seed, "metrics": end_to_end}, fh)
    detail = {
        **{f"setup.{k}": (v, "s") for k, v in {"session_s": session_s, **b.setup_parts}.items()},
        **result["detail"],
        # summed VmHWM of this process, the JVM and the Python workers;
        # reported, not gated: it moves with GC timing by ~20% run to run
        "peak_rss_mib": (rss, "MiB"),
        "cpu_ms_per_item": (b.cpu_s * 1e3 / result["items"], "ms"),
        "failed_op_share": (b.outcome.failed / max(b.outcome.attempted, 1), "ratio"),
        **{f"host.calib_{k}_ms": (v, "ms") for k, v in calib.items()},
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": {
        k: {"value": v, "unit": u} for k, (v, u) in detail.items()}}))
    print(json.dumps({
        "correct": b.outcome.failed == 0,
        "attempted": b.outcome.attempted,
        "failed": b.outcome.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
