"""Property tests for the quantile sketch readout and the
temperature-mixing fixed-point chain — brute-force pins INDEPENDENT
of the DuckDB oracle (the oracle proves cross-engine equality; these
prove the convention itself is the one the docstrings claim).

Quantile sketch defining property: est_pXX is the MIDPOINT of the
bucket containing the ceil(n*p/100)-th order statistic of the
bucketed values. Merge property: partial histograms summed by cell
equal the direct histogram for ANY partition of the rows (the
commutative-monoid law q254 checks in SQL, pinned here on the Spark
helper itself). Mixing: weights are floors of the exact rationals,
so they sum to at most 1e6 and undershoot by less than one ppm per
group; the sampler's realized set is reproduced by an independent
Python reimplementation of the hash rule.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from target_hdfs_spark.operators.analytics import (
    qsk_bucket_expr,
    qsk_estimates,
)

W, NBKT = 8, 64  # small instance: buckets over [0, 512)

values_strategy = st.lists(
    st.integers(min_value=0, max_value=511), min_size=1, max_size=60
)


def _brute_est(vals: list[int], p: int) -> int:
    """The defining readout: midpoint of the bucket holding the
    ceil(n*p/100)-th order statistic of the bucketed values."""
    n = len(vals)
    rank = (n * p + 99) // 100
    ordered = sorted(v // W for v in vals)
    return ordered[rank - 1] * W + W // 2


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vals=values_strategy)
def test_qsk_readout_is_midpoint_of_rank_bucket(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    hist = df.groupBy(
        F.lit("g").alias("g"), qsk_bucket_expr("x", W, NBKT).alias("bkt")
    ).agg(F.count(F.lit(1)).alias("c"))
    row = qsk_estimates(hist, ["g"], W, (10, 50, 90), with_counts=True).first()
    assert row["n_rows"] == len(vals)
    for p in (10, 50, 90):
        assert row[f"est_p{p}"] == _brute_est(vals, p), (vals, p)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=values_strategy,
    parts=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=60),
)
def test_qsk_partial_merge_equals_direct(spark, vals, parts):
    """Cell addition is a commutative monoid: ANY assignment of rows
    to partials merges back to the direct histogram, and the readout
    from merged equals the readout from direct."""
    rows = [(v, parts[i % len(parts)]) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "x long, part long")
    bkt = qsk_bucket_expr("x", W, NBKT).alias("bkt")
    partials = df.groupBy(F.lit("g").alias("g"), "part", bkt).agg(
        F.count(F.lit(1)).alias("cell")
    )
    merged = partials.groupBy("g", "bkt").agg(F.sum("cell").alias("c"))
    direct = df.groupBy(F.lit("g").alias("g"), bkt).agg(
        F.count(F.lit(1)).alias("c")
    )
    assert (
        merged.exceptAll(direct).count() == 0
        and direct.exceptAll(merged).count() == 0
    )
    em = qsk_estimates(merged, ["g"], W, (50,)).first()["est_p50"]
    ed = qsk_estimates(direct, ["g"], W, (50,)).first()["est_p50"]
    assert em == ed == _brute_est(vals, 50)


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_mixing_weights_floor_invariants(spark, tmp_path):
    """q256's fixed-point chain on a synthetic corpus: weights are
    floors of exact rationals, so sum(weight_ppm) <= 1e6 with
    undershoot < |groups| ppm; weights are monotone in group size;
    exp_tokens <= total tokens."""
    from target_hdfs_spark.operators.curation import q256_corpus_mixing_weights

    rows = []
    did = 0
    for lang, ndocs, words in (("aa", 40, 9), ("bb", 10, 5), ("cc", 3, 3)):
        for _ in range(ndocs):
            rows.append((did, lang, " ".join(f"w{did}x{j}" for j in range(words)), 0, "s"))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long, source string"
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    out = {r["lang"]: r.asDict() for r in q256_corpus_mixing_weights(spark, sf).collect()}
    total_w = sum(r["weight_ppm"] for r in out.values())
    assert 1_000_000 - len(out) < total_w <= 1_000_000
    sizes = {k: r["n_tokens"] for k, r in out.items()}
    ws = {k: r["weight_ppm"] for k, r in out.items()}
    order = sorted(sizes, key=sizes.get)
    assert ws[order[0]] <= ws[order[1]] <= ws[order[2]]
    total_tokens = sum(sizes.values())
    assert sum(r["exp_tokens"] for r in out.values()) <= total_tokens
    # smoothing: the smallest group's weight exceeds its raw share,
    # the largest group's weight undershoots its raw share
    assert ws[order[0]] > out[order[0]]["raw_share_ppm"]
    assert ws[order[-1]] < out[order[-1]]["raw_share_ppm"]


def test_sampler_realized_counts_match_python_reimpl(spark, tmp_path):
    """q257's surviving set reproduced by an independent Python
    reimplementation of the whole chain (sqrt->floor->ppm weights ->
    targets -> thresholds -> md5 residue rule)."""
    from target_hdfs_spark.operators.curation import q257_temperature_sampler

    rows = []
    did = 0
    for lang, ndocs in (("aa", 50), ("bb", 12), ("cc", 5)):
        for _ in range(ndocs):
            rows.append((did, lang, "t", 0, "s"))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long, source string"
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    got = {
        r["lang"]: (r["target_docs"], r["accept_ppm"], r["realized_docs"])
        for r in q257_temperature_sampler(spark, sf).collect()
    }
    # independent Python chain
    sizes = {"aa": 50, "bb": 12, "cc": 5}
    scores = {k: math.floor(math.sqrt(n) * 1_000_000) for k, n in sizes.items()}
    tot_s, tot_d = sum(scores.values()), sum(sizes.values())
    budget = tot_d // 2
    for lang, n in sizes.items():
        w = scores[lang] * 1_000_000 // tot_s
        target = budget * w // 1_000_000
        accept = min(1_000_000, target * 1_000_000 // n)
        realized = sum(
            1
            for d, lg in ((r[0], r[1]) for r in rows)
            if lg == lang and _md5_32(f"smp|{d}") % 1_000_000 < accept
        )
        assert got[lang] == (target, accept, realized), lang


def test_interleave_orders_exactly_the_sampler_set(spark, tmp_path):
    """q261's docstring claim — it schedules THE q257 sample — pinned
    as a cross-query fact: per-language n_sampled in the schedule
    equals realized_docs in the sampler, on the same corpus (both now
    read the one shared _mix_doc_plan, so this guards the seam)."""
    from target_hdfs_spark.operators.curation import (
        q257_temperature_sampler,
        q261_interleave_schedule,
    )

    rows = []
    did = 0
    for lang, ndocs in (("aa", 60), ("bb", 17), ("cc", 6)):
        for _ in range(ndocs):
            rows.append((did, lang, "t", 0, "s"))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long, source string"
    )
    sf = str(tmp_path / "sf")
    df.write.parquet(f"{sf}/documents.parquet")
    realized = {
        r["lang"]: r["realized_docs"]
        for r in q257_temperature_sampler(spark, sf).collect()
    }
    sampled = {
        r["lang"]: r["n_sampled"]
        for r in q261_interleave_schedule(spark, sf).collect()
    }
    assert sampled == realized and sum(realized.values()) > 0
