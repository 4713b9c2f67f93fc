"""query_mix: a fixed list of registry queries, one per operator family,
plus the streaming twin of the near-duplicate rule.

Tables come from a fixed-seed generator (TPC-H-like at SF 0.01 plus
events, documents and embeddings); ``--seed`` only orders the queries
within each pass. Every timed query is forced in full through the
``noop`` sink: ``count()`` would let Catalyst prune the plan (q18 would
never parse ``props``). The warm pass collects each result and its
order-insensitive digest is checked against the query's DuckDB oracle.

``neardup_stream`` drains the documents (staged as JSONL files) through
``streaming.neardup.streaming_bucket_root_dedup`` into a parquet sink
from a fresh checkpoint (availableNow, one file per micro-batch), so
the ``applyInPandasWithState`` state store is exercised; every pass's
output must equal the batch twin ``bucket_root_dedup(
minhash_signatures(docs))``.

The measured phase runs whole seeded passes over the list (at least
one) while they fit before the deadline. One cycle is a pass, taken
as the sum of the per-query medians.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

from target_hdfs_spark.sources.readers import TABLES
from tests.oracle_compare import _normalize, duckdb_conn

import gen
from harness import Bench, progress_p50, stream_progress

PINNED = (
    "q18_json_extract",
    "q30_asof_join_last_view",
    "q33_session_window",
    "q43_minhash_lsh_pairs",
    "q46_cosine_topk",
    "q51_token_frequencies",
    "q145_retention_cohorts",
    "q278_sequence_packing",
)
NEARDUP = "neardup_stream"
DOC_FILES = 2
SF = 0.01
DATA_SEED = 42


def digest(columns: list[str], rows) -> dict:
    """Order-insensitive digest of a result, normalised as the repo's
    oracle comparison normalises it (columns sorted by name, rows cell
    by cell, then sorted)."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = _normalize(rows, order)
    h = hashlib.sha256("\x02".join("\x01".join(r) for r in norm).encode()).hexdigest()
    return {"columns": sorted(cols), "rows": len(norm), "sha256": h}


def _oracle_digest(spec, data_dir: str, cache_dir: str) -> dict:
    """DuckDB oracle digest, cached per query and data content."""
    h = hashlib.sha256(spec.oracle.encode())
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    path = os.path.join(cache_dir, f"oracle-{spec.name}-{h.hexdigest()[:16]}.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb_conn(data_dir)
    try:
        cur = con.execute(spec.oracle)
        out = digest([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh)
    return out


def run(b: Bench) -> dict:
    import pyarrow.parquet as pq

    from target_hdfs_spark.operators.dedup import bucket_root_dedup, minhash_signatures
    from target_hdfs_spark.registry import all_queries
    from target_hdfs_spark.streaming import neardup

    spark = b.spark
    specs = all_queries()
    missing = [q for q in PINNED if q not in specs]
    if missing:
        raise KeyError(f"pinned queries not registered: {missing}")

    def stage(i):
        data = b.path(f"data{i}")
        gen.star_schema(data, SF, DATA_SEED)
        docs = pq.read_table(os.path.join(data, "documents.parquet"), columns=["doc_id", "text"])
        src = os.path.join(data, "docs-src")
        os.makedirs(src)
        for j, part in enumerate(docs.to_batches(max_chunksize=-(-docs.num_rows // DOC_FILES))):
            name = os.path.join(src, f"part-{j:05d}.jsonl")
            with open(name, "w") as fh:
                for row in part.to_pylist():
                    fh.write(json.dumps(row) + "\n")
            # the file source orders files by modification time (ms);
            # distinct times make the arrival order the doc_id order
            os.utime(name, (1_700_000_000 + j, 1_700_000_000 + j))
        return data

    data = b.stage(stage)
    docs_src = os.path.join(data, "docs-src")

    def drain_neardup(tag: str) -> list[dict]:
        docs = (spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1).json(docs_src))
        q = (neardup.streaming_bucket_root_dedup(docs)
             .writeStream.format("parquet")
             .option("path", b.path("neardup", tag, "sink"))
             .option("checkpointLocation", b.path("neardup", tag, "ck"))
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        return stream_progress(q)

    results = {}

    def warm():
        # a collecting pass for the output checks, then a pass as timed:
        # the first timed pass otherwise still runs ~15% slow (JIT)
        for q in PINNED:
            df = specs[q].fn(spark, data)
            results[q] = digest(df.columns, df.collect())
        for q in PINNED:
            specs[q].fn(spark, data).write.format("noop").mode("overwrite").save()
        drain_neardup("warm")

    b.warm(warm)

    def run_one(q: str, n: int) -> None:
        if q == NEARDUP:
            progress.extend(drain_neardup(f"drain{n}"))
        else:
            specs[q].fn(spark, data).write.format("noop").mode("overwrite").save()

    def layer(q: str) -> str:
        if q == NEARDUP:
            return "streaming.neardup"
        return "operators." + specs[q].fn.__module__.rsplit(".", 1)[-1]

    rng = random.Random(b.seed)
    times: dict[str, list[float]] = {q: [] for q in (*PINNED, NEARDUP)}
    progress: list[dict] = []
    passes = 0
    with b.measuring():
        t0 = time.perf_counter()
        deadline = b.deadline()
        # whole seeded passes; another starts only if it should end by
        # the deadline, going by the last one
        last = 0.0
        while passes == 0 or time.perf_counter() + last <= deadline:
            order = [*PINNED, NEARDUP]
            rng.shuffle(order)
            start = time.perf_counter()
            for q in order:
                b.set_op(f"{q}-{passes}")
                with b.outcome.guarded(q), b.span(layer(q)):
                    s = time.perf_counter()
                    run_one(q, passes)
                    times[q].append((time.perf_counter() - s) * 1e3)
            last = time.perf_counter() - start
            passes += 1
        wall = time.perf_counter() - t0

    cache = os.path.join(os.path.dirname(b.root), "oracle")
    for q in PINNED:
        want = _oracle_digest(specs[q], data, cache)
        b.outcome.op(results[q] == want, f"{q}: {results[q]} != oracle {want}")
    all_docs = spark.read.schema("doc_id long, text string").json(docs_src)
    want = {(r.doc_id, r.root_id, r.est_sim)
            for r in bucket_root_dedup(minhash_signatures(all_docs)).collect()}
    for n in range(passes):
        got = {(r.doc_id, r.root_id, r.est_sim)
               for r in spark.read.parquet(b.path("neardup", f"drain{n}", "sink")).collect()}
        b.outcome.op(got == want, f"drain {n}: near-dup kept {len(got)}, batch twin {len(want)}")

    medians = {q: statistics.median(ts) for q, ts in times.items()}
    n_docs = pq.read_metadata(os.path.join(data, "documents.parquet")).num_rows
    last_ops = (progress[-1].get("stateOperators") or [{}]) if progress else [{}]
    b.layer.update({f"query.{q}_ms": m for q, m in medians.items()})
    b.layer.update({
        "neardup.batches": len(progress),
        "neardup.trigger_p50_ms": progress_p50(progress, "triggerExecution"),
        "neardup.state_rows": sum(op.get("numRowsTotal") or 0 for op in last_ops),
        "neardup.state_mem_bytes": sum(op.get("memoryUsedBytes") or 0 for op in last_ops),
        "neardup.kept_share": len(want) / n_docs,
    })
    pass_ms = sum(medians.values())
    return {
        "items": passes * len(times),
        "items_per_s": passes * len(times) / wall,
        "cycle_ms": pass_ms,
        "detail": {
            "query_pass_s": (pass_ms / 1e3, "s"),
            "query_passes": (passes, "count"),
            "neardup_docs_per_s": (n_docs / (medians[NEARDUP] / 1e3), "doc/s"),
        },
    }
