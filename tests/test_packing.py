"""Invariant tests for the packing/training-order operators (q278-
q280): the distributed prefix sum must equal a naive global cumsum,
and the packing arithmetic must conserve tokens and chunks — the
guarantees oracle equality on one corpus cannot state by itself."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from target_hdfs_spark.operators.packing import (
    PK_CTX,
    _SHUF_WINDOWS,
    packed_token_frame,
)
from target_hdfs_spark.registry import all_queries

SF_DIR = "/root/testdata/sf0.001"
SPECS = all_queries()


def test_prefix_sum_equals_global_window(spark):
    """The bucketed two-pass scan IS the global cumsum: compare
    against a single-window cumsum over the same order (affordable at
    test SF; the production path never builds the single window)."""
    f = packed_token_frame(spark, SF_DIR)
    w = Window.orderBy("ord_h", "doc_id")
    naive = f.select(
        "doc_id",
        (F.sum("n_toks").over(w) - F.col("n_toks")).alias("naive_cum"),
    )
    joined = f.join(naive, "doc_id")
    assert joined.filter(F.col("cum_before") != F.col("naive_cum")).count() == 0


def test_prefix_sum_conserves_tokens(spark):
    f = packed_token_frame(spark, SF_DIR).collect()
    total = f[0]["total_toks"]
    assert all(r["total_toks"] == total for r in f)
    assert sum(r["n_toks"] for r in f) == total
    # the order is gapless: ends of documents tile [0, total)
    assert max(r["cum_before"] + r["n_toks"] for r in f) == total
    assert min(r["cum_before"] for r in f) == 0
    ends = sorted(r["cum_before"] + r["n_toks"] for r in f)
    starts = sorted(r["cum_before"] for r in f)
    assert starts == [0] + ends[:-1]


def test_packing_conserves_chunks(spark):
    f = packed_token_frame(spark, SF_DIR).collect()
    total = f[0]["total_toks"]
    n_chunks_expected = (total + PK_CTX - 1) // PK_CTX
    rows = SPECS["q278_sequence_packing"].fn(spark, SF_DIR).collect()
    assert sum(r["n_chunks"] for r in rows) == n_chunks_expected
    # (doc, chunk) incidences counted from the histogram equal the
    # per-doc span sum
    spans = sum(
        (r["cum_before"] + r["n_toks"] - 1) // PK_CTX
        - r["cum_before"] // PK_CTX
        + 1
        for r in f
    )
    assert sum(r["docs_in_chunk"] * r["n_chunks"] for r in rows) == spans
    assert all(r["docs_in_chunk"] >= 1 for r in rows)


def test_ctx_curve_arithmetic(spark):
    rows = SPECS["q279_packing_ctx_curve"].fn(spark, SF_DIR).collect()
    assert {r["ctx"] for r in rows} == {512, 2048, 8192}
    for r in rows:
        assert 0 <= r["tail_padding_tokens"] < r["ctx"]
        assert r["n_chunks"] * r["ctx"] >= r["tail_padding_tokens"]
        assert 0 <= r["cross_docs_ppm"] <= 1_000_000
        assert 0 <= r["padding_ppm"] < 1_000_000
    # longer contexts monotonically reduce chunk count
    by_ctx = {r["ctx"]: r["n_chunks"] for r in rows}
    assert by_ctx[512] >= by_ctx[2048] >= by_ctx[8192]


def test_shuffle_uniformity_grid_complete(spark):
    rows = SPECS["q280_shuffle_uniformity"].fn(spark, SF_DIR).collect()
    assert rows, "no sources audited"
    for r in rows:
        assert 0 <= r["worst_window"] < _SHUF_WINDOWS
        assert r["max_abs_dev_ppm"] >= 0
        assert 0 <= r["global_share_ppm"] <= 1_000_000
    # integer floor shares: the global shares sum to 1e6 minus at
    # most one ulp per source
    tot = sum(r["global_share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= tot <= 1_000_000


# ---------------------------------------------------------------------------
# q281/q282 — repeated-substring census + surgery (guarantees the
# one-corpus oracle equality cannot state)
# ---------------------------------------------------------------------------


def test_repeated_spans_bounds(spark):
    rows = (
        SPECS["q281_repeated_substring_pricing"].fn(spark, SF_DIR).collect()
    )
    assert rows, "no sources priced"
    for r in rows:
        assert r["n_docs_hit"] <= r["n_docs"]
        assert 0 <= r["repeated_tokens"] <= r["n_tokens"]
        assert 0 <= r["repeated_ppm"] < 1_000_000 or (
            r["repeated_ppm"] == 1_000_000
            and r["repeated_tokens"] == r["n_tokens"]
        )
        # a span is at least one seed gram wide unless the doc itself
        # is shorter than the gram
        if r["n_spans"]:
            assert r["repeated_tokens"] >= r["n_spans"]


def test_surgery_never_exceeds_census(spark):
    """The keeper rule can only SHRINK the repeated mass: per source,
    tokens_cut <= q281's repeated_tokens, and the ledger balances."""
    census = {
        r["source"]: r
        for r in SPECS["q281_repeated_substring_pricing"]
        .fn(spark, SF_DIR)
        .collect()
    }
    surgery = {
        r["source"]: r
        for r in SPECS["q282_substring_surgery_pricing"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert set(census) == set(surgery)
    for srcname, s in surgery.items():
        c = census[srcname]
        assert s["tokens_cut"] <= c["repeated_tokens"]
        assert s["n_docs_cut"] <= c["n_docs_hit"]
        assert s["tokens_before"] == c["n_tokens"]
        assert s["tokens_after"] == s["tokens_before"] - s["tokens_cut"]


def test_keeper_rule_protects_first_document(spark, tmp_path):
    """A corpus of two identical documents: the min-id doc keeps its
    text (zero cut), the other is cut entirely — and q281's census
    sees BOTH copies as repeated mass."""
    from target_hdfs_spark.registry import all_queries

    text = " ".join(f"w{j}" for j in range(20))
    spark.createDataFrame(
        [(1, text, "en", "a", len(text)), (2, text, "en", "b", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    specs = all_queries()
    census = {
        r["source"]: r
        for r in specs["q281_repeated_substring_pricing"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    surgery = {
        r["source"]: r
        for r in specs["q282_substring_surgery_pricing"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert census["a"]["repeated_tokens"] == 20
    assert census["b"]["repeated_tokens"] == 20
    assert surgery["a"]["tokens_cut"] == 0  # the keeper document
    assert surgery["b"]["tokens_cut"] == 20 and surgery["b"]["tokens_after"] == 0


def test_blank_documents_never_seed_repeated_grams(spark, tmp_path):
    """ADVICE r10: two blank/whitespace docs must NOT share the empty
    gram and count as 'repeated' (zero-width spans would inflate
    n_spans/n_docs_hit while adding 0 tokens, breaking the
    repeated_tokens >= n_spans invariant). Blank docs are excluded
    from the census entirely — a source of only blanks prices as
    all-zero; a real duplicate pair still prices normally."""
    from target_hdfs_spark.registry import all_queries

    text = " ".join(f"w{j}" for j in range(20))
    spark.createDataFrame(
        [
            (1, text, "en", "a", len(text)),
            (2, text, "en", "a", len(text)),
            (3, "", "en", "blank", 0),
            (4, "   ", "en", "blank", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    specs = all_queries()
    census = {
        r["source"]: r
        for r in specs["q281_repeated_substring_pricing"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert census["a"]["n_spans"] == 2
    assert census["a"]["repeated_tokens"] == 40
    blank = census.get("blank")
    if blank is not None:  # source may vanish entirely — also fine
        assert blank["n_spans"] == 0
        assert blank["n_docs_hit"] == 0
        assert blank["repeated_tokens"] == 0
    for r in census.values():
        if r["n_spans"]:
            assert r["repeated_tokens"] >= r["n_spans"]


def test_shuffle_uniformity_survives_giant_document(spark, tmp_path):
    """A corpus dominated by one giant document leaves most token
    windows with NO document starts — their per-window totals are 0
    and both engines must read those shares as 0 (never a 0-division
    divergence). Checked against the DuckDB oracle on the same
    adversarial corpus."""
    import duckdb

    giant = " ".join(f"g{j}" for j in range(2000))
    rows = [(1, giant, "en", "big", len(giant))] + [
        (i, f"t{i} u{i}", "en", "small", 7) for i in range(2, 6)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    spec = SPECS["q280_shuffle_uniformity"]
    got = sorted(
        tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want
    assert {r[0] for r in got} == {"big", "small"}


def test_survivor_policy_ledger(spark):
    """q283's one-row ledger must balance: the quality rule never
    loses distinct-token mass, keeps exactly one doc per cluster
    under both rules, and only multi-clusters can switch."""
    r = SPECS["q283_survivor_policy_delta"].fn(spark, SF_DIR).collect()[0]
    assert r["n_clusters"] <= r["n_docs"]
    assert r["n_multi_clusters"] <= r["n_clusters"]
    assert r["n_switched"] <= r["n_multi_clusters"]
    assert r["unique_kept_quality"] >= r["unique_kept_minid"]
    assert r["unique_gain_ppm"] >= 0


def test_survivor_quality_rule_switches_keeper(spark, tmp_path):
    """Two near-identical docs where the HIGHER id has more distinct
    tokens: min-id keeps doc 1, the quality rule must switch to doc 2
    and the readout must record exactly one switch."""
    from target_hdfs_spark.registry import all_queries

    base = " ".join(f"w{j}" for j in range(30))
    richer = base + " extra1 extra2 extra3"
    spark.createDataFrame(
        [
            (1, base, "en", "s", len(base)),
            (2, richer, "en", "s", len(richer)),
            (9, "lone doc here", "en", "s", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    r = (
        all_queries()["q283_survivor_policy_delta"]
        .fn(spark, str(tmp_path))
        .collect()[0]
    )
    assert r["n_docs"] == 3 and r["n_clusters"] == 2
    assert r["n_multi_clusters"] == 1 and r["n_switched"] == 1
    assert r["unique_kept_quality"] - r["unique_kept_minid"] == 3


# ---------------------------------------------------------------------------
# q284/q285/q286 — percentile normalization, curriculum phases,
# length-bucketed batching (conservation guarantees the per-row oracle
# equality cannot state)
# ---------------------------------------------------------------------------


def test_percentiles_are_a_permutation(spark):
    rows = SPECS["q284_score_percentiles"].fn(spark, SF_DIR).collect()
    n = len(rows)
    assert sorted(r["rnk"] for r in rows) == list(range(1, n + 1))
    by_rank = sorted(rows, key=lambda r: r["rnk"])
    # ordered by (score, doc_id); percentile endpoints exact
    assert all(
        (a["score"], a["doc_id"]) < (b["score"], b["doc_id"])
        for a, b in zip(by_rank, by_rank[1:])
    )
    assert by_rank[0]["pct_ppm"] == 0
    assert by_rank[-1]["pct_ppm"] == 1_000_000


def test_curriculum_phases_balance_and_conserve(spark):
    rows = SPECS["q285_curriculum_phases"].fn(spark, SF_DIR).collect()
    assert sorted(r["phase"] for r in rows) == [1, 2, 3, 4]
    counts = [r["n_docs"] for r in sorted(rows, key=lambda r: r["phase"])]
    assert max(counts) - min(counts) <= 1  # exact equal-count NTILE
    # phases tile the score axis in order
    ordered = sorted(rows, key=lambda r: r["phase"])
    assert all(
        a["score_hi"] <= b["score_lo"] for a, b in zip(ordered, ordered[1:])
    )
    from target_hdfs_spark.functions.textfuncs import tokens as _tk
    from target_hdfs_spark.sources.readers import load_table as _lt

    total = (
        _lt(spark, SF_DIR, "documents")
        .select(F.size(_tk("text")).cast("long").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r["phase_tokens"] for r in rows) == total


def test_bucketed_batching_conserves_and_bounds(spark):
    rows = SPECS["q286_length_bucketed_batching"].fn(spark, SF_DIR).collect()
    assert rows
    from target_hdfs_spark.functions.textfuncs import tokens as _tk
    from target_hdfs_spark.sources.readers import load_table as _lt

    total = (
        _lt(spark, SF_DIR, "documents")
        .select(F.size(_tk("text")).cast("long").alias("n"))
        .filter(F.col("n") > 0)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    # truncation + kept tokens tile the corpus exactly
    assert sum(r["real_tokens"] + r["truncated_tokens"] for r in rows) == total
    for r in rows:
        b = r["bucket_len"]
        assert b & (b - 1) == 0  # power of two
        assert r["real_tokens"] <= r["padded_tokens"] == r["n_docs"] * b
        assert 0 <= r["waste_ppm"] < 1_000_000
        cap = 2048 // b
        assert r["n_batches"] == (r["n_docs"] + cap - 1) // cap


def test_phase_mixture_shares_sum_and_single_source_zero_drift(spark, tmp_path):
    rows = SPECS["q287_phase_mixture_drift"].fn(spark, SF_DIR).collect()
    assert rows
    # integer floor shares: each phase's source shares sum to 1e6
    # minus at most one ulp per source present in the phase
    from collections import defaultdict

    by_phase = defaultdict(list)
    for r in rows:
        by_phase[r["phase"]].append(r["phase_share_ppm"])
        assert r["abs_dev_ppm"] == abs(
            r["phase_share_ppm"] - r["global_share_ppm"]
        )
    for phase, shares in by_phase.items():
        assert 1_000_000 - len(shares) <= sum(shares) <= 1_000_000
    # a single-source corpus cannot drift: every share is 1e6
    text = " ".join(f"w{j}" for j in range(30))
    spark.createDataFrame(
        [(i, text + f" x{i}", "en", "only", 10 + i) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    one = SPECS["q287_phase_mixture_drift"].fn(spark, str(tmp_path)).collect()
    assert one and all(
        r["phase_share_ppm"] == r["global_share_ppm"] == 1_000_000
        and r["abs_dev_ppm"] == 0
        for r in one
    )


def test_pack_invalidation_orders_and_bounds(spark):
    rows = SPECS["q288_pack_invalidation"].fn(spark, SF_DIR).collect()
    assert len(rows) == 6  # 2 orders x 3 ctx
    by = {(r["train_order"], r["ctx"]): r for r in rows}
    for (order, ctx), r in by.items():
        assert 0 <= r["reusable_chunks"] <= r["n_chunks"]
        assert 0 <= r["invalidated_ppm"] <= 1_000_000
        assert r["inserted_docs"] > 0 and r["inserted_tokens"] > 0
    for ctx in (512, 2048, 8192):
        s, a = by[("shuffle", ctx)], by[("append", ctx)]
        # same corpus, same delta — only the order differs
        assert s["n_chunks"] == a["n_chunks"]
        assert s["inserted_docs"] == a["inserted_docs"]
        # the salted-hash shuffle scatters insertions to the front:
        # it can never invalidate FEWER chunks than append order
        assert s["invalidated_ppm"] >= a["invalidated_ppm"]
