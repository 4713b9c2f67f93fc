"""Corpus-curation operators a large-scale training-data pipeline
needs beyond dedup/similarity (SURVEY.md §2B.2 extensions):

- benchmark decontamination (train/eval n-gram overlap join),
- token-budget sequence packing (constant-length batch assembly),
- Gopher-style repetition quality metrics (map-side only, no shuffle),
- deterministic hash-based stratified sampling (exact-checkable,
  unlike rand()-based q21),
- SCD-2 interval construction over an event stream (change capture).

No reference analog (the reference is an ingest target with no query
surface, see reference/target_hdfs/sinks.py); these are mandate-surface
operators. All outputs are scalar columns, integer-exact aggregates or
single double divisions, per the oracle-parity recipes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from target_hdfs_spark.functions.hashing import md5_hash32, md5_hash32_sql
from target_hdfs_spark.functions.textfuncs import (
    TOKENS_SQL,
    shingles,
    shingles_sql,
    tokens,
)
from target_hdfs_spark.operators.prefix import banded_cumsum
from target_hdfs_spark.registry import query
from target_hdfs_spark.sources.readers import fan_out, load_table

_TOK = TOKENS_SQL.format(expr="text")

# Eval-set membership predicate for decontamination: a deterministic
# doc_id slice stands in for the benchmark suite (~1% of the corpus).
_EVAL_MOD = 97

# Overlap n-gram width. Production decontamination uses 8-13 word
# n-grams; the synthetic corpus draws from a ~30-word vocabulary, so
# 3-grams give the same join shape with a realistic hit rate.
_NGRAM = 3

# ---------------------------------------------------------------------------
# Benchmark decontamination: train docs sharing an n-gram with eval docs
# ---------------------------------------------------------------------------


@query(
    "q101_decontamination",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest({shingles_sql(_TOK, _NGRAM)}) AS gram
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT gram, doc_id AS eval_id
      FROM grams WHERE doc_id % {_EVAL_MOD} = 0
    ),
    tr AS (
      SELECT doc_id, gram FROM grams WHERE doc_id % {_EVAL_MOD} <> 0
    )
    SELECT tr.doc_id,
           COUNT(DISTINCT tr.gram) AS n_shared_ngrams,
           COUNT(DISTINCT ev.eval_id) AS n_eval_docs
    FROM tr JOIN ev ON tr.gram = ev.gram
    GROUP BY tr.doc_id
    """,
    tags=("curation", "dedup", "join"),
)
def q101_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: find training documents that share at
    least one word n-gram with any eval document, with the count of
    shared distinct n-grams and of eval docs hit.

    Scale shape: the eval side (a benchmark suite) is small and
    fixed-size regardless of corpus scale, so it is broadcast —
    the 100 TB training side streams map-side through the join and
    only contaminated docs reach the one groupBy shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = fan_out(docs, "doc_id").select(
        "doc_id", tokens("text").alias("toks")
    )
    grams = toks.select(
        "doc_id", F.explode(shingles(F.col("toks"), _NGRAM)).alias("gram")
    )
    ev = (
        grams.where(F.col("doc_id") % _EVAL_MOD == 0)
        .select("gram", F.col("doc_id").alias("eval_id"))
        .distinct()
    )
    tr = grams.where(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing (constant-length batch assembly)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@query(
    "q102_sequence_packing",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang, len({_TOK}) AS n_tokens FROM documents
    ),
    binned AS (
      SELECT lang, doc_id, n_tokens,
             CAST(floor(
               (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id
      FROM sized
    )
    SELECT lang, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM binned
    GROUP BY lang, bin_id
    """,
    tags=("curation", "window", "agg"),
)
def q102_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: stream documents (per language, in
    doc_id order) into ~512-token training bins; a document lands in
    the bin where its cumulative stream position starts. Emits one row
    per bin with doc count and token total.

    Scale shape: packing inherently needs an order, but only WITHIN a
    partition key — the window is partitioned by lang, so there is no
    global sort; each language packs in parallel. At 100 TB the key
    would be (lang, shard_id) to bound partition size; the plan is
    identical."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = sized.withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(float(_PACK_BUDGET))
        ).cast("bigint"),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality metrics (map-side, zero shuffle)
# ---------------------------------------------------------------------------


@query(
    "q103_repetition_quality",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_TOK} AS toks, {shingles_sql(_TOK, 2)} AS grams
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_max(list_transform(list_distinct(toks),
                x -> len(list_filter(toks, t -> t = x)))) AS DOUBLE)
             / len(toks) AS top_token_frac,
           1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
             AS dup_2gram_frac,
           (CAST(list_max(list_transform(list_distinct(toks),
                 x -> len(list_filter(toks, t -> t = x)))) AS DOUBLE)
              / len(toks) > 0.2
            OR 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
              / len(grams) > 0.4) AS repetitive
    FROM base
    WHERE len(toks) > 0
    """,
    tags=("curation", "text", "quality"),
)
def q103_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition metrics: most-frequent-
    token fraction and duplicate-2-gram fraction, plus the combined
    repetition flag (Rae et al. 2021, 'Scaling Language Models', App. A
    quality heuristics — public paper, reimplemented).

    Scale shape: entirely map-side array expressions inside one
    codegen stage — no shuffle, no UDF; per-doc cost is
    O(distinct_tokens * n_tokens) which is bounded by doc length. This
    is the filter you run FIRST at 100 TB, before any shuffling op."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id", tokens("text").alias("toks")
    ).withColumn("grams", shingles(F.col("toks"), 2))
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(F.col("toks")),
                lambda x: F.size(
                    F.filter(F.col("toks"), lambda t: t == x)
                ),
            )
        ).cast("double")
        / F.size("toks")
    )
    dup_frac = F.lit(1.0) - (
        F.size(F.array_distinct(F.col("grams"))).cast("double")
        / F.size("grams")
    )
    # Two-stage select: the fractions feed both a value column and the
    # flag, and higher-order functions run interpreted (no codegen, no
    # runtime CSE) — a single projection evaluates the O(distinct x n)
    # token scan TWICE per row (measured: 2 array_max sites in the
    # executed plan vs 1 here; CollapseProject declines to inline
    # non-cheap expressions used more than once).
    staged = base.where(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        top_frac.alias("top_token_frac"),
        dup_frac.alias("dup_2gram_frac"),
    )
    return staged.select(
        "doc_id",
        "n_tokens",
        "top_token_frac",
        "dup_2gram_frac",
        (
            (F.col("top_token_frac") > 0.2) | (F.col("dup_2gram_frac") > 0.4)
        ).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash-based stratified sampling
# ---------------------------------------------------------------------------

_SAMPLE_PCT = 20  # keep bucket < 20 of 100


@query(
    "q104_stratified_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           {md5_hash32_sql("'smp|' || CAST(doc_id AS VARCHAR)")} % 100
             AS bucket
    FROM documents
    WHERE {md5_hash32_sql("'smp|' || CAST(doc_id AS VARCHAR)")} % 100
          < {_SAMPLE_PCT}
    """,
    tags=("curation", "sampling"),
)
def q104_stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% sample via the portable md5 bucket of the
    doc key: reproducible across engines, runs, and partitionings
    (unlike rand()-seeded q21, which is rows-only-checkable). The
    salt prefix decorrelates this split from any other hash use of
    doc_id (e.g. q100's train/test split).

    Scale shape: pure map-side filter pushed into the scan stage; the
    hash rate is uniform within every stratum so per-lang proportions
    hold without a per-stratum pass."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        md5_hash32(F.concat(F.lit("smp|"), F.col("doc_id").cast("string")))
        % 100
    )
    return (
        docs.withColumn("bucket", bucket)
        .where(F.col("bucket") < _SAMPLE_PCT)
        .select("doc_id", "lang", "source", "bucket")
    )


# ---------------------------------------------------------------------------
# Per-group fixed-k deterministic sample (hash-priority top-k)
# ---------------------------------------------------------------------------

_GROUP_K = 5


@query(
    "q106_group_topk_sample",
    oracle=f"""
    SELECT doc_id, lang, source, rn
    FROM (
      SELECT doc_id, lang, source,
             CAST(row_number() OVER (
               PARTITION BY lang, source
               ORDER BY {md5_hash32_sql("'gsmp|' || CAST(doc_id AS VARCHAR)")},
                        doc_id) AS BIGINT) AS rn
      FROM documents
    )
    WHERE rn <= {_GROUP_K}
    """,
    tags=("curation", "sampling", "window"),
)
def q106_group_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample: exactly k docs per (lang,
    source), chosen as the k smallest salted-md5 priorities — the
    deterministic, engine-portable analog of per-group reservoir
    sampling. Complements q104 (rate-based sampling: ~p% per stratum,
    variable count) with an exact-count guarantee per stratum.

    Scale shape: one shuffle on the stratum key; Spark's
    WindowGroupLimit pushes the rn <= k cut below the full sort, so
    each partition keeps a k-heap rather than sorting the stratum."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        md5_hash32(F.concat(F.lit("gsmp|"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= _GROUP_K)
    )


# ---------------------------------------------------------------------------
# Cross-document exact substring duplication (char-window fingerprints)
# ---------------------------------------------------------------------------

_WIN = 24  # char-window width (~4 words at this corpus's token length)

_WINDOWS_SQL = (
    f"CASE WHEN length(text) >= {_WIN} THEN "
    f"list_transform(generate_series(1, length(text) - {_WIN - 1}), "
    f"i -> substring(text, CAST(i AS INTEGER), {_WIN})) "
    f"ELSE [] END"
)


@query(
    "q108_substring_duplication",
    oracle=f"""
    WITH wins AS (
      SELECT DISTINCT doc_id, unnest({_WINDOWS_SQL}) AS win
      FROM documents
    ),
    dup AS (
      SELECT win FROM wins GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    totals AS (
      SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY doc_id
    ),
    dups AS (
      SELECT w.doc_id, COUNT(*) AS n_dup_windows
      FROM wins w JOIN dup USING (win)
      GROUP BY w.doc_id
    )
    SELECT t.doc_id,
           t.n_windows,
           COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
           CAST(COALESCE(d.n_dup_windows, 0) AS DOUBLE) / t.n_windows
             AS dup_frac
    FROM totals t LEFT JOIN dups d ON t.doc_id = d.doc_id
    """,
    tags=("curation", "dedup", "explode"),
)
def q108_substring_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document substring duplication (the char-window
    formulation of Lee et al. 2021, 'Deduplicating Training Data Makes
    Language Models Better' — public paper, reimplemented): for each
    document, the fraction of its distinct 24-char windows that also
    appear verbatim in at least one other document.

    Scale shape: windows are hash-partitioned by value for the
    distinct-doc count (the same shuffle a shingle-based minhash
    pays); at 100 TB the window stream is the corpus x ~window_width,
    so production runs hash the windows to 8-byte fingerprints first —
    same plan, 1/3 the shuffle bytes. Here windows stay as strings so
    the oracle is exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    windows = F.when(
        F.length("text") >= _WIN,
        F.transform(
            F.sequence(F.lit(1), F.length("text") - F.lit(_WIN - 1)),
            lambda i: F.col("text").substr(i, F.lit(_WIN)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    wins = (
        fan_out(docs, "doc_id")
        .select("doc_id", F.explode(windows).alias("win"))
        .distinct()
    )
    dup = (
        wins.groupBy("win")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("win")
    )
    totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_windows"))
    dups = (
        wins.join(dup, "win")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    return totals.join(dups, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        (
            F.coalesce("n_dup_windows", F.lit(0)).cast("double")
            / F.col("n_windows")
        ).alias("dup_frac"),
    )


# ---------------------------------------------------------------------------
# SCD-2 interval construction (change-data capture over events)
# ---------------------------------------------------------------------------


@query(
    "q105_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, value, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
      WHERE user_id % 37 = 0
    ),
    changes AS (
      SELECT user_id, event_type, value, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM changes
    """,
    tags=("curation", "window", "cdc"),
)
def q105_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event log:
    collapse consecutive same-type events per user, then stamp each
    change row with a [valid_from, valid_to) interval; the open
    interval is flagged is_current. Deterministic tie-break on
    (ts, event_id).

    Scale shape: both windows partition on user_id, so the second
    window reuses the first's hash partitioning (one Exchange total);
    no global sort anywhere."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id") % 37 == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    return changes.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Quality-weighted Bernoulli sampling (integer-exact hash threshold)
# ---------------------------------------------------------------------------


@query(
    "q113_weighted_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           least(n_chars, 400) * 25 AS keep_threshold
    FROM documents
    WHERE {md5_hash32_sql("'wsmp|' || CAST(doc_id AS VARCHAR)")} % 10000
          < least(n_chars, 400) * 25
    """,
    tags=("curation", "sampling"),
)
def q113_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document weighted Bernoulli sampling: keep probability
    proportional to a quality proxy (length, capped), implemented as
    an INTEGER hash-threshold test so both engines agree bit-for-bit
    (P(keep) = min(n_chars,400)/400). This is the quality-weighted
    mixing step of a training-data pipeline, made reproducible:
    resampling with the same salt yields the same corpus.

    Scale shape: map-side filter in the scan stage, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        md5_hash32(F.concat(F.lit("wsmp|"), F.col("doc_id").cast("string")))
        % 10000
    )
    thr = F.least(F.col("n_chars"), F.lit(400)) * 25
    return docs.where(h < thr).select(
        "doc_id", "lang", "n_chars", thr.alias("keep_threshold")
    )


# ---------------------------------------------------------------------------
# Source-weighted corpus mixture (epoch replication / upsampling)
# ---------------------------------------------------------------------------

_MIX_SQL = (
    "CASE WHEN source IN ('src0','src1','src2') THEN 3 "
    "WHEN source IN ('src3','src4','src5','src6') THEN 2 ELSE 1 END"
)


@query(
    "q114_corpus_mixture",
    oracle=f"""
    SELECT doc_id, source,
           unnest(generate_series(1, {_MIX_SQL})) AS copy_id
    FROM documents
    """,
    tags=("curation", "mixture", "explode"),
)
def q114_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted corpus mixing: upsample high-quality sources by
    an integer epoch weight (3x / 2x / 1x), materializing one row per
    virtual copy with a copy index — the standard mixture-weights step
    before sequence packing, kept deterministic so the training corpus
    is reproducible.

    Scale shape: map-side explode (row amplification <= max weight);
    no shuffle. At 100 TB the weights are fractional in general —
    combine with q113's hash-threshold for the fractional part."""
    docs = load_table(spark, sf_dir, "documents")
    weight = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 3)
        .when(F.col("source").isin("src3", "src4", "src5", "src6"), 2)
        .otherwise(1)
    )
    return docs.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(F.lit(1).cast("bigint"), weight.cast("bigint"))
        ).alias("copy_id"),
    )


# ---------------------------------------------------------------------------
# Deterministic training-shard export manifest (order-independent
# checksums — the integrity record a 100 TB shard writer emits)
# ---------------------------------------------------------------------------

_N_SHARDS = 8

# 60-bit content hash: 15 md5 hex chars always fit a positive int64,
# and XOR-folding them is order-independent, so the checksum needs no
# sort and no ordered aggregation anywhere.
_DOC_H64_SQL = (
    "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) "
    "AS BIGINT)"
)


@query(
    "q115_shard_manifest",
    oracle=f"""
    SELECT {md5_hash32_sql("'shard|' || CAST(doc_id AS VARCHAR)")} % {_N_SHARDS}
             AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_TOK})) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_bytes,
           CAST(bit_xor({_DOC_H64_SQL}) AS BIGINT) AS checksum
    FROM documents
    GROUP BY 1
    """,
    tags=("curation", "export", "manifest"),
)
def q115_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export manifest: deterministic hash assignment of
    documents to a fixed shard count, with per-shard doc/token/byte
    totals and an ORDER-INDEPENDENT checksum (XOR-fold of a 60-bit
    per-document content hash). Re-running the export reproduces the
    same manifest bit-for-bit, and a re-read shard can be verified
    without sorting — the integrity record a shard writer emits
    alongside the data.

    Scale shape: one hash-partition shuffle on shard_id with full
    map-side partial aggregation (count/sum/xor all combine); the
    XOR checksum is what makes verification shuffle-only — an ordered
    checksum (md5 of concatenated rows) would need a global sort per
    shard.
    """
    docs = load_table(spark, sf_dir, "documents")
    h64 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    shard = (
        md5_hash32(F.concat(F.lit("shard|"), F.col("doc_id").cast("string")))
        % _N_SHARDS
    )
    return (
        docs.select(
            shard.alias("shard_id"),
            F.size(tokens("text")).alias("_nt"),
            F.col("n_chars").alias("_nc"),
            h64.alias("_h"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("n_tokens"),
            F.sum("_nc").cast("bigint").alias("n_bytes"),
            F.bit_xor("_h").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Curation: deterministic FIXED-SIZE weighted sample — priority
# sampling (Duffield, Lund, Thorup, "Priority sampling for estimation
# of arbitrary subset sums", JACM 2007): priority = weight / uniform,
# keep the k largest. Complements q113 (weighted Bernoulli: expected
# size) with an exact-size guarantee, which is what shard-sized
# corpus exports actually need.
# ---------------------------------------------------------------------------

_PRIORITY_K = 50


@query(
    "q121_priority_sample",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             CAST(n_chars AS DOUBLE)
             / ((CAST({md5_hash32_sql("'pri|' || CAST(doc_id AS VARCHAR)")}
                 AS DOUBLE) + 1) / 4294967296.0) AS priority
      FROM documents
    )
    SELECT doc_id, lang, n_chars, priority
    FROM pri
    ORDER BY priority DESC, doc_id
    LIMIT {_PRIORITY_K}
    """,
    tags=("curation", "sampling", "weighted", "topk"),
)
def q121_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic priority sampling: each document draws a
    hash-derived uniform u in (0, 1] and a priority n_chars / u; the
    k highest-priority documents form a fixed-size sample whose
    inclusion odds are proportional to weight (big documents enter
    with near-certainty, small ones with probability ~ w/tau). The
    u's come from the portable md5 hash, so the "random" sample is
    bit-reproducible across engines AND across reruns — auditable
    corpus sampling. Division of two int-derived doubles is IEEE-
    exact (no transcendentals), so the oracle matches bit-for-bit.

    Scale: scan-side priority computation + a global top-k
    (TakeOrderedAndProject — per-partition heaps, no full sort).
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        md5_hash32(F.concat(F.lit("pri|"), F.col("doc_id").cast("string")))
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("n_chars").cast("double") / u).alias("priority"),
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(_PRIORITY_K)
    )


# ---------------------------------------------------------------------------
# L6g: priority-sample merge algebra — batch proof of the streaming
# snapshot protocol (streaming/sampling.py)
# ---------------------------------------------------------------------------


@query(
    "q124_sample_merge_algebra",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             CAST(n_chars AS DOUBLE)
             / ((CAST({md5_hash32_sql("'pri|' || CAST(doc_id AS VARCHAR)")}
                 AS DOUBLE) + 1) / 4294967296.0) AS priority
      FROM documents
    )
    SELECT doc_id, lang, n_chars, priority
    FROM pri
    ORDER BY priority DESC, doc_id
    LIMIT {_PRIORITY_K}
    """,
    tags=("curation", "sampling", "mergeable", "streaming-analog"),
)
def q124_sample_merge_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability identity the streaming sampler's snapshot
    protocol depends on, computed the DISTRIBUTED way and checked
    against the direct way: split the corpus into 8 shards (as 8
    micro-batches / 8 executors would), take each shard's top-k by
    priority, union the shard samples, and take the top-k of that.
    Priority sampling (Duffield-Lund-Thorup) is mergeable — top-k of a
    union == top-k of the unions' top-k's — so the oracle is the
    GLOBAL top-k over all documents (q121's rule verbatim): a
    driver-green row is a machine-checked proof of the merge/restart
    algebra streaming/sampling.py::fold_batch applies per trigger
    (round-4 verdict ask #5), not just a second copy of q121.

    Scale: one shuffle on the shard key (window rank<=k stream-side),
    then a TakeOrderedAndProject over 8k rows — the exact cost shape
    of merging per-executor samples at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        md5_hash32(F.concat(F.lit("pri|"), F.col("doc_id").cast("string")))
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    scored = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.col("n_chars").cast("double") / u).alias("priority"),
        (F.col("doc_id") % 8).alias("_shard"),
    )
    w = Window.partitionBy("_shard").orderBy(F.col("priority").desc(), "doc_id")
    shard_topk = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _PRIORITY_K)
        .drop("_rn", "_shard")
    )
    return shard_topk.orderBy(F.col("priority").desc(), "doc_id").limit(
        _PRIORITY_K
    )


# ---------------------------------------------------------------------------
# L6h: temperature-balanced corpus mixture (fractional upsampling)
# ---------------------------------------------------------------------------


@query(
    "q126_temperature_mixture",
    oracle=f"""
    WITH src AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    m AS (SELECT MAX(n_s) AS n_max FROM src),
    rate AS (
      SELECT source, sqrt(CAST(n_max AS DOUBLE) / n_s) AS r
      FROM src CROSS JOIN m
    ),
    per_doc AS (
      SELECT d.doc_id, d.source,
             CAST(floor(r) AS BIGINT)
             + CASE WHEN (CAST({md5_hash32_sql("'mix|' || CAST(doc_id AS VARCHAR)")}
                          AS DOUBLE) / 4294967296.0) < (r - floor(r))
                    THEN 1 ELSE 0 END AS copies
      FROM documents d JOIN rate USING (source)
    )
    SELECT doc_id, source, unnest(generate_series(1, copies)) AS copy_id
    FROM per_doc
    """,
    tags=("curation", "mixture", "temperature", "sampling"),
)
def q126_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced source mixing (alpha = 0.5): every source
    is upsampled by rate sqrt(n_max / n_s) toward the largest source —
    the standard temperature-sampling rebalance for multilingual /
    multi-source training corpora, with the FRACTIONAL part of the
    rate realized per-document by the portable md5 uniform (doc's
    u < frac(rate) draws one extra copy). Expected copies per source
    match the real-valued rate exactly while staying deterministic and
    bit-reproducible: sqrt and floor are correctly-rounded IEEE ops
    and the only cross-row aggregate is an integer COUNT, so both
    engines compute the identical double.

    Scale: source rates are a tiny broadcast (one row per source);
    copies materialize map-side via explode (amplification <= rate
    cap); no shuffle beyond the per-source count. The fractional-part
    trick is what makes fractional epochs possible at 100 TB without
    a random number generator anywhere in the lineage.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    n_max = counts.agg(F.max("n_s").alias("n_max"))
    rate = counts.crossJoin(F.broadcast(n_max)).select(
        "source",
        F.sqrt(F.col("n_max").cast("double") / F.col("n_s")).alias("r"),
    )
    u = (
        md5_hash32(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))).cast(
            "double"
        )
        / F.lit(4294967296.0)
    )
    copies = F.floor("r").cast("bigint") + F.when(
        u < (F.col("r") - F.floor("r")), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        docs.join(F.broadcast(rate), "source")
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), copies)
            ).alias("copy_id"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff (incremental-ingest reconciliation)
# ---------------------------------------------------------------------------

# Snapshot B is derived from the base corpus with deterministic
# md5-uniform draws, so both engines construct the identical snapshot:
# u("rm|id") < 0.15 -> doc dropped; else u("ch|id") < 0.20 -> text
# revised; u("add|id") < 0.10 -> a new doc appears under id + stride.
_DIFF_RM = 0.15
_DIFF_CH = 0.20
_DIFF_ADD = 0.10
_DIFF_STRIDE = 10_000_000


def _u_sql(prefix: str) -> str:
    salted = "'" + prefix + "|' || CAST(doc_id AS VARCHAR)"
    return f"CAST({md5_hash32_sql(salted)} AS DOUBLE) / 4294967296.0"


@query(
    "q141_snapshot_diff",
    oracle=f"""
    WITH a AS (SELECT doc_id, text FROM documents),
    b_keep AS (
      SELECT doc_id,
             CASE WHEN {_u_sql("ch")} < {_DIFF_CH!r}
                  THEN text || ' [rev2]' ELSE text END AS text
      FROM documents
      WHERE {_u_sql("rm")} >= {_DIFF_RM!r}
    ),
    b_new AS (
      SELECT doc_id + {_DIFF_STRIDE} AS doc_id, text || ' [new]' AS text
      FROM documents
      WHERE {_u_sql("add")} < {_DIFF_ADD!r}
    ),
    b AS (SELECT * FROM b_keep UNION ALL SELECT * FROM b_new)
    SELECT
      COALESCE(a.doc_id, b.doc_id) AS doc_id,
      CASE WHEN a.doc_id IS NULL THEN 'added'
           WHEN b.doc_id IS NULL THEN 'removed'
           WHEN md5(a.text) <> md5(b.text) THEN 'changed'
           ELSE 'unchanged' END AS status
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    """,
    tags=("curation", "diff", "versioning", "join"),
)
def q141_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot reconciliation: classify every document across
    two corpus versions as added / removed / changed / unchanged by a
    primary-key full outer join with content-hash comparison — the
    operation behind incremental corpus updates ("what changed since
    the last crawl") and training-set provenance audits.

    Scale: ONE full outer join on the primary key with an md5 compare
    on the joined row — both sides hash-partition on doc_id, so the
    diff of two 100 TB snapshots is a single co-partitioned shuffle
    (zero with bucketed layouts, plans/bucketing.py); the content hash
    reduces arbitrarily wide rows to 16 bytes BEFORE the shuffle.
    Snapshot B here is derived deterministically from the base corpus
    (md5-uniform draws) so the oracle constructs the identical pair.
    """
    docs = load_table(spark, sf_dir, "documents")

    def u(prefix: str) -> F.Column:
        return (
            md5_hash32(
                F.concat(F.lit(f"{prefix}|"), F.col("doc_id").cast("string"))
            ).cast("double")
            / F.lit(4294967296.0)
        )

    a = docs.select("doc_id", "text")
    b_keep = (
        docs.filter(u("rm") >= _DIFF_RM)
        .select(
            "doc_id",
            F.when(u("ch") < _DIFF_CH, F.concat(F.col("text"), F.lit(" [rev2]")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    b_new = (
        docs.filter(u("add") < _DIFF_ADD)
        .select(
            (F.col("doc_id") + F.lit(_DIFF_STRIDE)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" [new]")).alias("text"),
        )
    )
    b = b_keep.unionByName(b_new)
    al = a.select(
        F.col("doc_id").alias("a_id"), F.md5("text").alias("a_hash")
    )
    bl = b.select(
        F.col("doc_id").alias("b_id"), F.md5("text").alias("b_hash")
    )
    joined = al.join(bl, al.a_id == bl.b_id, "full_outer")
    return joined.select(
        F.coalesce(F.col("a_id"), F.col("b_id")).alias("doc_id"),
        F.when(F.col("a_id").isNull(), F.lit("added"))
        .when(F.col("b_id").isNull(), F.lit("removed"))
        .when(F.col("a_hash") != F.col("b_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# CDC apply: last-writer-wins materialization of a change log
# ---------------------------------------------------------------------------


@query(
    "q143_cdc_last_writer_wins",
    oracle="""
    WITH log AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
             value, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, value AS final_value, ts AS updated_at
    FROM log
    WHERE rn = 1 AND op = 'upsert'
    """,
    tags=("curation", "cdc", "merge", "window"),
)
def q143_cdc_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a keyed change log into current state with
    last-writer-wins semantics: the latest op per key decides — an
    'upsert' survives with its value, a 'delete' (here: event_type
    'error') tombstones the key out of the snapshot entirely. This is
    the read-side CDC apply that pairs with the write-side MERGE in
    plans/upsert.py (same rule, expressed as a query so it is
    oracle-checkable).

    Scale: one window per key ordered by (ts, event_id) DESC with a
    rank-1 filter — Spark turns PARTITION BY + row_number + rn = 1
    into WindowGroupLimit (per-partition top-1 heaps before the
    shuffle), so the exchange carries one candidate row per key per
    map task, not the full log. At 100 TB of changes the shuffle is
    bounded by |keys|, and the same plan incrementalizes: union
    yesterday's snapshot (as 'upsert' rows at its watermark) with
    today's log and re-apply.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        "value",
        "ts",
        "event_id",
    ).withColumn("rn", F.row_number().over(w))
    return (
        log.filter((F.col("rn") == 1) & (F.col("op") == "upsert"))
        .select(
            "user_id",
            F.col("value").alias("final_value"),
            F.col("ts").alias("updated_at"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget corpus selection (budgeted greedy-by-quality subset)
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000


@query(
    "q150_token_budget_selection",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, n_chars AS score, len({_TOK}) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, score, n_tokens,
             SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM sized
    )
    SELECT doc_id, score, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= {_BUDGET_TOKENS}
    ORDER BY score DESC, doc_id
    """,
    tags=("curation", "selection", "window", "budget"),
)
def q150_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: take documents greedily by quality
    score (n_chars proxy) until a global token budget is exhausted —
    how a fixed-compute training run picks its highest-value subset
    from a larger pool.

    Scale: the corpus reduces to the NARROW metadata frame (id,
    score, token count — ~24 bytes/row) first; the running token sum
    over it is a ``banded_cumsum`` pass (operators/prefix.py — banded
    two-level prefix sum, identical integers, never a single-task
    global window: the SQL formulation would push the whole metadata
    frame, ~24 GB at 1e9 docs, through one task). At 100 TB the
    sampled-threshold refinement (cumsum only the ~budget-sized head)
    still composes from q117's percentile machinery; the exact form
    here IS the verification oracle for that refinement.
    """
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=False)  # the kernel consumes it 3x
    ranked = banded_cumsum(
        sized,
        F.col("n_tokens"),
        "score",
        "cum_tokens",
        tie_col="doc_id",
        descending=True,
    )
    return (
        ranked.filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .orderBy(F.col("score").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# Diversity-constrained selection (top-k with a per-source cap)
# ---------------------------------------------------------------------------

_DIV_TOPK = 20
_DIV_PER_SOURCE = 3


@query(
    "q157_diversified_topk",
    oracle=f"""
    WITH per_src AS (
      SELECT doc_id, source, n_chars AS score,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS src_rank
      FROM documents
    ),
    capped AS (
      SELECT * FROM per_src WHERE src_rank <= {_DIV_PER_SOURCE}
    )
    SELECT doc_id, source, score, src_rank,
           row_number() OVER (ORDER BY score DESC, doc_id) AS final_rank
    FROM capped
    ORDER BY score DESC, doc_id
    LIMIT {_DIV_TOPK}
    """,
    tags=("curation", "selection", "topk", "diversity"),
)
def q157_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-constrained selection: the best {_DIV_TOPK} documents
    by quality score, subject to at most {_DIV_PER_SOURCE} per source
    — the cap that stops one high-scoring crawl domain from
    monopolizing a curated batch (the selection analog of the
    temperature mixture q126).

    Scale: the per-source cap compiles to WindowGroupLimit
    (per-partition top-{_DIV_PER_SOURCE} heaps before the source
    shuffle), so the global stage sees at most
    {_DIV_PER_SOURCE}·|sources| rows; the final k is
    TakeOrderedAndProject over that bounded frame. No global sort of
    the corpus anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    capped = (
        docs.select("doc_id", "source", F.col("n_chars").alias("score"))
        .withColumn("src_rank", F.row_number().over(w_src).cast("long"))
        .filter(F.col("src_rank") <= _DIV_PER_SOURCE)
    )
    # the rank FILTER (not orderBy+limit) lets Catalyst rewrite the
    # unpartitioned window's input to TakeOrderedAndProject(k) —
    # the global window task sees k rows, not cap x |sources|
    w_all = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        capped.withColumn("final_rank", F.row_number().over(w_all).cast("long"))
        .filter(F.col("final_rank") <= _DIV_TOPK)
        .orderBy(F.col("score").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# Fair source interleave (training-batch assembly order)
# ---------------------------------------------------------------------------

_ILV_TAKE = 100


@query(
    "q158_fair_interleave",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS src_rank
      FROM documents
    )
    SELECT doc_id, source, src_rank,
           row_number() OVER (ORDER BY src_rank, source, doc_id) AS batch_pos
    FROM ranked
    ORDER BY src_rank, source, doc_id
    LIMIT {_ILV_TAKE}
    """,
    tags=("curation", "mixture", "interleave", "window"),
)
def q158_fair_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fair round-robin interleave: emit every source's best document
    first, then every source's second-best, and so on — the
    deterministic assembly order that keeps any training-batch prefix
    source-balanced (the ORDERING twin of the q126 temperature
    mixture, which balances COUNTS).

    Scale: the per-source rank is a WindowGroupLimit-eligible window;
    the interleave order is (src_rank, source) — for a bounded prefix
    (the LIMIT) this compiles to TakeOrderedAndProject over per-
    partition heaps, so assembling the first N batch rows from a
    100 TB corpus never globally sorts it.
    """
    docs = load_table(spark, sf_dir, "documents")
    w_src = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("src_rank", F.row_number().over(w_src).cast("long"))
        .drop("n_chars")
    )
    # rank FILTER instead of orderBy+limit: Catalyst pushes a
    # TakeOrderedAndProject below the unpartitioned window, so the
    # single window task sees {_ILV_TAKE} rows — the batch prefix is
    # assembled without a global sort OR a global window
    w_all = Window.orderBy("src_rank", "source", "doc_id")
    return (
        ranked.withColumn("batch_pos", F.row_number().over(w_all).cast("long"))
        .filter(F.col("batch_pos") <= _ILV_TAKE)
        .orderBy("src_rank", "source", "doc_id")
    )


# ---------------------------------------------------------------------------
# N-gram novelty scoring (temporal freshness of each document's content)
# ---------------------------------------------------------------------------


@query(
    "q184_ngram_novelty",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({shingles_sql(_TOK, _NGRAM)}) AS gram
        FROM documents
      )
    ),
    fo AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM grams g JOIN fo f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
    tags=("text", "dedup", "curation", "novelty"),
)
def q184_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a document's
    distinct {_NGRAM}-gram shingles that no earlier document (lower
    doc_id = earlier ingest) has used. Where dedup asks "is this doc
    a copy", novelty asks the curation-side inverse — "how much NEW
    content does this doc add to the corpus" — the freshness score a
    continuously-growing training corpus ranks candidate batches by
    (near-1 = genuinely new material, near-0 = recombination of seen
    text). Exact integers: counts and a single ppm truncated
    division.

    Scale: one tokenize+shingle pass (fanned out), per-doc distinct;
    first-occurrence is a MIN aggregation on the gram key, and the
    join back is gram-partitioned — the aggregation output arrives
    already partitioned, so the join adds no extra Exchange for that
    side. Both shuffles carry (id, gram) pairs; hot grams are
    bounded by the per-doc DISTINCT (a gram counts once per doc).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = fan_out(docs, "doc_id").select(
        "doc_id", tokens("text").alias("toks")
    )
    grams = (
        toks.select(
            "doc_id", F.explode(shingles(F.col("toks"), _NGRAM)).alias("gram")
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds first-occurrence AND the join
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
            F.expr(
                "sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
                " * 1000000 div count(1)"
            ).alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval evaluation harness (MRR / P@k / R@k with rational metrics)
# ---------------------------------------------------------------------------

_EVAL_TOPK = 10


@query(
    "q188_retrieval_eval",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({shingles_sql(_TOK, _NGRAM)}) AS gram
        FROM documents
      )
    ),
    src AS (SELECT doc_id, source FROM documents),
    scnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sc FROM src GROUP BY source),
    qg AS (
      SELECT g.doc_id AS query_id, s.source AS qsource, g.gram
      FROM grams g JOIN src s ON s.doc_id = g.doc_id
      WHERE g.doc_id % {_EVAL_MOD} = 0
    ),
    scored AS (
      SELECT qg.query_id, qg.qsource, g.doc_id, s.source,
             CAST(COUNT(*) AS BIGINT) AS score
      FROM qg JOIN grams g ON g.gram = qg.gram AND g.doc_id <> qg.query_id
      JOIN src s ON s.doc_id = g.doc_id
      GROUP BY qg.query_id, qg.qsource, g.doc_id, s.source
    ),
    ranked AS (
      SELECT query_id, qsource, source,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ),
    top AS (SELECT * FROM ranked WHERE rnk <= {_EVAL_TOPK})
    SELECT t.query_id,
           CAST(c.sc - 1 AS BIGINT) AS n_relevant,
           CAST(COALESCE(MIN(CASE WHEN t.source = t.qsource THEN t.rnk END), 0)
                AS BIGINT) AS first_rel_rank,
           CAST(COALESCE(1000000 // MIN(CASE WHEN t.source = t.qsource
                                             THEN t.rnk END), 0)
                AS BIGINT) AS mrr_ppm,
           CAST(SUM(CASE WHEN t.source = t.qsource THEN 1 ELSE 0 END)
                * 1000000 // {_EVAL_TOPK} AS BIGINT) AS p_at_k_ppm,
           CAST(SUM(CASE WHEN t.source = t.qsource THEN 1 ELSE 0 END)
                * 1000000 // (c.sc - 1) AS BIGINT) AS r_at_k_ppm
    FROM top t
    JOIN scnt c ON c.source = t.qsource
    GROUP BY t.query_id, c.sc
    """,
    tags=("text", "retrieval", "eval"),
)
def q188_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness: run a shared-shingle retrieval
    system (score = distinct {_NGRAM}-grams in common) for every held
    -out query doc (the q101 eval slice), rank top-{_EVAL_TOPK}, and
    score it against a metadata relevance label (same `source`) with
    the standard IR metrics — first relevant rank, MRR, P@{_EVAL_TOPK},
    R@{_EVAL_TOPK}. nDCG's log2 discount is banned from the checkable
    surface; MRR/precision/recall are RATIONAL, so every metric is an
    exact integer ppm (1e6 div rank / hits div k / hits div
    |relevant|) — the eval harness itself is value-pinned, which is
    the property you want before trusting a retrieval ablation.

    Scale: the query side is a benchmark suite — small and fixed —
    so its gram set broadcasts (q101's posture) and the corpus gram
    stream joins map-side; only (query, candidate) pairs reach the
    scoring shuffle, and per-query ranking truncates at k via
    WindowGroupLimit. Source counts are a |sources|-row broadcast.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    toks = fan_out(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", tokens("text").alias("toks")
    )
    grams = (
        toks.select(
            "doc_id", F.explode(shingles(F.col("toks"), _NGRAM)).alias("gram")
        )
        .distinct()
    )
    src = docs.select("doc_id", "source")
    scnt = src.groupBy("source").agg(F.count(F.lit(1)).alias("sc"))
    qg = (
        grams.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .join(src, "doc_id")
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("source").alias("qsource"),
            "gram",
        )
    )
    scored = (
        grams.join(F.broadcast(qg), "gram")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "qsource", "doc_id")
        .agg(F.count(F.lit(1)).alias("score"))
        .join(src, "doc_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    top = scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= _EVAL_TOPK
    )
    rel_rank = F.min(
        F.when(F.col("source") == F.col("qsource"), F.col("rnk"))
    )
    hits = F.sum(
        F.when(F.col("source") == F.col("qsource"), 1).otherwise(0)
    )
    return (
        top.join(F.broadcast(scnt.withColumnRenamed("source", "qsource")), "qsource")
        .groupBy("query_id", "sc")
        .agg(
            F.coalesce(rel_rank, F.lit(0)).alias("first_rel_rank"),
            F.coalesce(
                F.expr("1000000 div min(CASE WHEN source = qsource THEN rnk END)"),
                F.lit(0),
            ).alias("mrr_ppm"),
            F.expr(
                f"sum(CASE WHEN source = qsource THEN 1 ELSE 0 END)"
                f" * 1000000 div {_EVAL_TOPK}"
            ).alias("p_at_k_ppm"),
            (hits * F.lit(1_000_000)).alias("hits_ppm"),
        )
        .select(
            "query_id",
            (F.col("sc") - 1).alias("n_relevant"),
            "first_rel_rank",
            "mrr_ppm",
            "p_at_k_ppm",
            F.expr("hits_ppm div (sc - 1)").alias("r_at_k_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder stratified allocation (exact-size proportional sample)
# ---------------------------------------------------------------------------

_LR_TOTAL = 200  # total sample size to allocate across sources


def largest_remainder_alloc(cnt: DataFrame, total_n: int) -> DataFrame:
    """Hamilton (largest-remainder) allocation of exactly ``total_n``
    seats across strata — the reusable core behind q211. Input: one
    row per stratum, columns (source, c). Output: (source, n_alloc)
    with sum(n_alloc) == total_n exactly and every n_alloc in
    {floor(quota), floor(quota)+1} (quota = total_n * c / sum(c));
    ties on the fractional remainder break by source name. All
    integer arithmetic (the remainder comparison shares one
    denominator). Runs on the |strata| frame — the windows here never
    see corpus-scale data."""
    tot = cnt.agg(F.sum("c").alias("total"))
    quota = cnt.join(F.broadcast(tot)).select(
        "source",
        F.expr(f"({total_n} * c) div total").alias("base"),
        F.expr(f"({total_n} * c) % total").alias("rem"),
    )
    w_rem = Window.orderBy(F.col("rem").desc(), "source")
    w_all = Window.partitionBy()
    return quota.select(
        "source",
        (
            F.col("base")
            + F.when(
                F.row_number().over(w_rem)
                <= F.lit(total_n) - F.sum("base").over(w_all),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_alloc"),
    )


@query(
    "q211_stratified_allocation",
    oracle=f"""
    WITH cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
    quota AS (
      SELECT source, c,
             ({_LR_TOTAL} * c) // total AS base,
             ({_LR_TOTAL} * c) % total AS rem,
             row_number() OVER (ORDER BY ({_LR_TOTAL} * c) % total DESC,
                                source) AS rem_rank,
             SUM(({_LR_TOTAL} * c) // total) OVER () AS base_total
      FROM cnt CROSS JOIN tot
    ),
    alloc AS (
      SELECT source,
             base + CASE WHEN rem_rank <= {_LR_TOTAL} - base_total
                         THEN 1 ELSE 0 END AS n_alloc
      FROM quota
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY {md5_hash32_sql("'lrs:' || CAST(d.doc_id AS VARCHAR)")},
                        d.doc_id) AS sel_rank
      FROM documents d
    )
    SELECT r.doc_id, r.source, CAST(r.sel_rank AS BIGINT) AS sel_rank,
           CAST(a.n_alloc AS BIGINT) AS n_alloc
    FROM ranked r JOIN alloc a ON a.source = r.source
    WHERE r.sel_rank <= a.n_alloc
    """,
    tags=("sample", "curation", "mixture", "allocation"),
)
def q211_stratified_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-size proportional stratified sample via largest-remainder
    (Hamilton) allocation: the total sample size is hit exactly —
    {_LR_TOTAL} documents, allocated across sources proportional to
    their counts with floor quotas and the leftover seats going to the
    largest fractional remainders (ties by source name). q104/q113
    hash-threshold samples give only EXPECTED proportions; a training
    mixture spec ("exactly 200 docs at these ratios") needs the
    allocation to be exact, integer, and engine-reproducible.

    Exactness: quotas are integer floor division and modulo on exact
    counts — the fractional remainder comparison is the integer
    remainder comparison (same denominator), so no floats anywhere.
    Within each stratum, selection takes the first n_s documents by
    salted md5 rank (deterministic, decorrelated from other hash uses).

    Scale: the allocation runs on the |sources|-sized count frame
    (window over a bounded frame — sources are dozens-to-thousands,
    never corpus-scale); selection is one source-partitioned window
    rank over the corpus, broadcast-joined to the allocation. At a
    WindowGroupLimit-capable rank bound the per-source heap never
    materializes a stratum sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    alloc = largest_remainder_alloc(cnt, _LR_TOTAL)
    w_sel = Window.partitionBy("source").orderBy(
        md5_hash32(F.concat(F.lit("lrs:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w_sel).cast("long").alias("sel_rank"),
    )
    return ranked.join(F.broadcast(alloc), "source").filter(
        F.col("sel_rank") <= F.col("n_alloc")
    ).select("doc_id", "source", "sel_rank", "n_alloc")


# ---------------------------------------------------------------------------
# Serpentine balanced sharding (size-aware shard assembly)
# ---------------------------------------------------------------------------

_SERP_SHARDS = 8
_SERP_BAND = 64  # n_chars band width for the segmented descending rank


@query(
    "q216_balanced_shards",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS i
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN (i - 1) % {2 * _SERP_SHARDS} < {_SERP_SHARDS}
                  THEN (i - 1) % {2 * _SERP_SHARDS}
                  ELSE {2 * _SERP_SHARDS - 1} - (i - 1) % {2 * _SERP_SHARDS}
             END AS shard
      FROM ranked
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars
    FROM assigned
    GROUP BY shard
    """,
    tags=("curation", "shard", "allocation", "window"),
)
def q216_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced shard assembly via SERPENTINE assignment: rank
    documents by size descending and deal them boustrophedon across
    {_SERP_SHARDS} shards (0..N-1 then N-1..0, repeating) — the
    deterministic one-pass approximation of longest-processing-time
    scheduling that keeps every shard's byte total within one
    document of even (LPT itself is inherently sequential; serpentine
    is its order-free rewrite, and on sorted input its imbalance
    bound is the last row's size). q115's manifest shards by count;
    this is the BYTE-balanced assembly a training loader wants so no
    data-parallel worker starves.

    Exactness: ranks are total-ordered (size desc, doc_id); the
    serpentine index is pure integer arithmetic on the rank; shard
    stats are exact integer aggregates.

    Scale: the global descending rank is SEGMENTED (q204's two-level
    decomposition): per-band counts roll up map-side, a |bands|-sized
    cumulative window gives carry-in offsets, and within-band
    row_number runs PARTITIONED BY band — no single-partition window
    over the corpus (the oracle's one-window formulation is the
    deliberate independent derivation).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    banded = docs.withColumn("band", F.expr(f"n_chars div {_SERP_BAND}"))
    band_n = banded.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
    w_bands = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = band_n.select(
        "band", F.coalesce(F.sum("bn").over(w_bands), F.lit(0)).alias("off")
    )
    w_in = Window.partitionBy("band").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = (
        banded.withColumn("rn", F.row_number().over(w_in))
        .join(F.broadcast(offs), "band")
        .select("n_chars", (F.col("off") + F.col("rn")).alias("i"))
    )
    two_n = 2 * _SERP_SHARDS
    pos = (F.col("i") - 1) % two_n
    shard = F.when(pos < _SERP_SHARDS, pos).otherwise(
        F.lit(two_n - 1) - pos
    )
    return (
        ranked.select(shard.cast("long").alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate n-gram fraction (cross-doc duplication signal per document)
# ---------------------------------------------------------------------------


@query(
    "q218_duplicate_ngram_fraction",
    oracle=f"""
    WITH grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest({shingles_sql(_TOK, _NGRAM)}) AS gram
        FROM documents
      )
    ),
    dfreq AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duplicated,
           CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
    FROM grams g JOIN dfreq d ON d.gram = g.gram
    GROUP BY g.doc_id
    """,
    tags=("text", "dedup", "curation", "quality"),
)
def q218_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DUPLICATE-n-gram fraction: the share of a doc's
    distinct {_NGRAM}-grams that appear in at least one OTHER document
    — the Dolma/RedPajama-style duplication signal that feeds quality
    gates ("drop documents that are >80% recombined boilerplate").
    Complements q184's novelty: novelty credits the FIRST occurrence
    (temporal, ingest-ordered); the duplicate fraction is
    order-free — a gram's originator and its copiers all count as
    duplicated, which is the right semantics for symmetric
    boilerplate (headers, licenses) rather than plagiarism direction.

    Exactness: exact counts + one truncated ppm division.

    Scale: one tokenize+shingle+distinct pass (fanned out,
    checkpointed — q184's shape); df is a gram-keyed aggregation
    whose Exchange the join back reuses; per-doc aggregation is
    map-side combined. A gram's df is bounded per doc by the
    distinct, so hot boilerplate grams cost one row per containing
    doc, never a pair space.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = fan_out(docs, "doc_id").select(
        "doc_id", tokens("text").alias("toks")
    )
    grams = (
        toks.select(
            "doc_id", F.explode(shingles(F.col("toks"), _NGRAM)).alias("gram")
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds df AND the join back
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias(
                "n_duplicated"
            ),
            F.expr(
                "sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)"
                " * 1000000 div count(1)"
            ).alias("dup_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile mapping against a reference source (distribution alignment)
# ---------------------------------------------------------------------------

_QM_REF_SOURCE = "src0"


@query(
    "q223_quantile_mapping",
    oracle=f"""
    WITH nref AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE source = '{_QM_REF_SOURCE}'
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           CAST((SELECT COUNT(*) FROM documents r
                 WHERE r.source = '{_QM_REF_SOURCE}'
                   AND r.n_chars <= d.n_chars) * 1000000
                // nref.n AS BIGINT) AS ref_pct_ppm
    FROM documents d CROSS JOIN nref
    """,
    tags=("curation", "statistics", "normalization"),
)
def q223_quantile_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE MAPPING of every document's length onto the
    {_QM_REF_SOURCE} reference distribution: each doc gets the
    percentile (ppm) its n_chars would occupy among the reference
    source's documents — the distribution-alignment transform that
    makes per-source features comparable ("is this doc long FOR
    WIKI-LIKE TEXT" rather than "long in absolute chars"), the
    feature-store companion of q179's equi-depth bins.

    Exactness: the mapped percentile is an exact empirical-CDF count
    (reference values <= x) over exact integers, one ppm truncated
    division. The oracle deliberately uses the correlated-subquery
    formulation (independent, quadratic) — the engine side builds
    the CDF once.

    Scale: the reference CDF is (distinct value -> cumulative count)
    on a VALUE-DOMAIN-bounded frame (distinct n_chars values, never
    corpus rows); corpus values merge into that frame, a carry-forward
    window fills each value's floor entry, and the lookup broadcasts
    back against the corpus scan. One corpus Exchange total (the
    doc-side join is broadcast).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ref = docs.filter(F.col("source") == _QM_REF_SOURCE)
    ref_vals = ref.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n_ref = ref.agg(F.count(F.lit(1)).alias("n"))
    # union of observed values (reference + corpus), each tagged with
    # the reference count at exactly that value (0 if unseen there)
    corpus_vals = docs.select(F.col("n_chars").alias("v")).distinct()
    vals = (
        corpus_vals.join(ref_vals, "v", "left")
        .select("v", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .unionByName(
            ref_vals.join(corpus_vals, "v", "left_anti").select("v", "c")
        )
    )
    # cumulative reference count <= v over the value-domain frame
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = vals.select("v", F.sum("c").over(w).alias("cum_le"))
    return (
        docs.join(F.broadcast(cdf), docs.n_chars == cdf.v)
        .join(F.broadcast(n_ref))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.expr("cum_le * 1000000 div n").cast("long").alias("ref_pct_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L6i: corpus mixing weights + deterministic temperature sampler
# (r8 verdict item 2 — the pretraining-data mixing op: q126 realizes
# fractional UPsampling toward the largest source; these compute the
# normalized alpha-temperature WEIGHT TABLE itself and realize a
# token-budget DOWNsampling plan from it)
# ---------------------------------------------------------------------------

_MIX_ALPHA_NOTE = "alpha = 0.5 via IEEE sqrt (correctly rounded in both engines)"
_MIX_FP = 1_000_000  # fixed-point scale (ppm)


# THE shared mixing chains — one Spark helper + one SQL generator per
# size base, used by every mixing query (q256/q259 on token counts,
# q257/q261 on doc counts), so the fixed-point convention cannot fork
# across queries (the BPE five-paste lesson, preempted here: q261's
# "orders the q257 sample" claim is true BY CONSTRUCTION because both
# read the identical plan frame).


def _mix_score_col(n_col: str):
    """The alpha=0.5 fixed-point score column: floor(sqrt(n) * 1e6),
    the ONE place the formula lives on the Spark side."""
    return (
        F.floor(F.sqrt(F.col(n_col).cast("double")) * _MIX_FP)
        .cast("long")
        .alias("score_fp")
    )


def _mix_score_sql(expr: str) -> str:
    """The same score for the oracles."""
    return f"CAST(floor(sqrt(CAST({expr} AS DOUBLE)) * {_MIX_FP}) AS BIGINT)"


def _mix_token_scores(spark: SparkSession, sf_dir: str):
    """(sc, tot): per-language token sizes with the alpha=0.5
    fixed-point score (floored to ppm per language BEFORE any
    cross-row sum), and the 1-row integer totals."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    sizes = (
        fan_out(docs, "doc_id")
        .select("lang", F.size(tokens("text")).alias("nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    sc = sizes.select("lang", "n_docs", "n_tokens", _mix_score_col("n_tokens"))
    tot = sc.agg(
        F.sum("score_fp").cast("long").alias("total_score"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return sc, tot


def _mix_token_sc_sql() -> str:
    """The same token-size chain as SQL CTEs (sizes, sc, tot)."""
    tok = TOKENS_SQL.format(expr="text")
    return f"""sizes AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len({tok})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    sc AS (
      SELECT lang, n_docs, n_tokens,
             {_mix_score_sql("n_tokens")} AS score_fp
      FROM sizes
    ),
    tot AS (
      SELECT CAST(SUM(score_fp) AS BIGINT) AS total_score,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM sc
    )"""


def _mix_doc_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE doc-budget mixing plan (lang, n_docs, weight_ppm,
    target_docs, accept_ppm): alpha=0.5 fixed-point weights over doc
    counts, a half-corpus budget allocated by weight, thresholds in
    ppm capped at the population. q257 realizes it; q261 orders it."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sizes = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    sc = sizes.select("lang", "n_docs", _mix_score_col("n_docs"))
    tot = sc.agg(
        F.sum("score_fp").cast("long").alias("total_score"),
        F.sum("n_docs").cast("long").alias("total_docs"),
    )
    return (
        sc.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.expr(f"score_fp * {_MIX_FP} div total_score")
            .cast("long")
            .alias("weight_ppm"),
            F.expr(
                f"(total_docs div 2)"
                f" * (score_fp * {_MIX_FP} div total_score)"
                f" div {_MIX_FP}"
            )
            .cast("long")
            .alias("target_docs"),
        )
        .withColumn(
            "accept_ppm",
            F.expr(
                f"least({_MIX_FP}, target_docs * {_MIX_FP} div n_docs)"
            ).cast("long"),
        )
    )


def _mix_doc_plan_sql() -> str:
    """The identical plan as SQL CTEs (sizes, sc, tot, plan, plan2 —
    plan2 carries accept_ppm)."""
    return f"""sizes AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    sc AS (
      SELECT lang, n_docs,
             {_mix_score_sql("n_docs")} AS score_fp
      FROM sizes
    ),
    tot AS (
      SELECT CAST(SUM(score_fp) AS BIGINT) AS total_score,
             CAST(SUM(n_docs) AS BIGINT) AS total_docs
      FROM sc
    ),
    plan AS (
      SELECT s.lang, s.n_docs,
             CAST(s.score_fp * {_MIX_FP} // t.total_score AS BIGINT)
               AS weight_ppm,
             CAST((t.total_docs // 2)
                  * (s.score_fp * {_MIX_FP} // t.total_score)
                  // {_MIX_FP} AS BIGINT) AS target_docs
      FROM sc s CROSS JOIN tot t
    ),
    plan2 AS (
      SELECT lang, n_docs, weight_ppm, target_docs,
             least({_MIX_FP}, target_docs * {_MIX_FP} // n_docs)
               AS accept_ppm
      FROM plan
    )"""


def _mix_weights_sql() -> str:
    return f"""
    WITH {_mix_token_sc_sql()}
    SELECT s.lang, s.n_docs, s.n_tokens,
           CAST(s.n_tokens * {_MIX_FP} // t.total_tokens AS BIGINT)
             AS raw_share_ppm,
           CAST(s.score_fp * {_MIX_FP} // t.total_score AS BIGINT)
             AS weight_ppm,
           CAST(t.total_tokens
                * (s.score_fp * {_MIX_FP} // t.total_score)
                // {_MIX_FP} AS BIGINT) AS exp_tokens
    FROM sc s CROSS JOIN tot t
    """


@query(
    "q256_corpus_mixing_weights",
    oracle=_mix_weights_sql(),
    tags=("curation", "mixture", "temperature", "observability"),
)
def q256_corpus_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized ALPHA-TEMPERATURE MIXING WEIGHTS per language —
    w_l = n_l^alpha / sum(n^alpha) over real token counts
    ({_MIX_ALPHA_NOTE}) — the table a multilingual pretraining run is
    configured from (the exponential-smoothing rebalance of
    mBERT/XLM-R: tail languages upweighted relative to their raw
    token share, head languages down). Emitted per language: doc and
    token counts, the raw token share, the temperature weight (both
    in ppm), and the expected token allocation if a corpus of the
    same total size were resampled to the weights — the
    "expected-tokens-per-source" readout a data planner prices.

    Exactness — the fixed-point discipline: per-language scores are
    floored to integer ppm IMMEDIATELY after the one correctly-
    rounded double op (sqrt of an exact integer, times the exact
    scale), so every cross-row aggregate (the normalization sums) is
    integer addition — order-free, engine-free. No double is ever
    summed across rows.

    Scale: one corpus pass to per-language (docs, tokens) with
    map-side combine; everything after runs on the |languages|-row
    frame with the 1-row totals broadcast. At 100 TB the weight
    table is still |languages| rows.

    Cites reference behavior: none (beyond-reference operator).
    """
    sc, tot = _mix_token_scores(spark, sf_dir)
    return sc.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.expr(f"n_tokens * {_MIX_FP} div total_tokens")
        .cast("long")
        .alias("raw_share_ppm"),
        F.expr(f"score_fp * {_MIX_FP} div total_score")
        .cast("long")
        .alias("weight_ppm"),
        F.expr(
            f"total_tokens * (score_fp * {_MIX_FP} div total_score)"
            f" div {_MIX_FP}"
        )
        .cast("long")
        .alias("exp_tokens"),
    )


def _mix_sampler_sql() -> str:
    u = md5_hash32_sql("'smp|' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH {_mix_doc_plan_sql()},
    realized AS (
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS realized_docs
      FROM documents d JOIN plan2 p ON p.lang = d.lang
      WHERE {u} % {_MIX_FP} < p.accept_ppm
      GROUP BY d.lang
    )
    SELECT p.lang, p.n_docs, p.weight_ppm, p.target_docs,
           CAST(p.accept_ppm AS BIGINT) AS accept_ppm,
           CAST(COALESCE(r.realized_docs, 0) AS BIGINT) AS realized_docs
    FROM plan2 p LEFT JOIN realized r ON r.lang = p.lang
    """


@query(
    "q257_temperature_sampler",
    oracle=_mix_sampler_sql(),
    tags=("curation", "mixture", "temperature", "sampling"),
)
def q257_temperature_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HASH SAMPLER realizing an alpha-temperature
    mixing plan ({_MIX_ALPHA_NOTE}, q256's fixed-point weight chain
    over document counts): a half-corpus document budget is allocated
    to languages by the temperature weights, each language's
    allocation becomes a per-language acceptance threshold in ppm,
    and a document survives iff its salted portable-md5 uniform falls
    under its language's threshold — the q100/q104 hash-rule pattern
    driving a mixture plan instead of a flat rate. Emitted per
    language: population, weight, target, threshold, and the REALIZED
    count under the rule — the readout that makes the sampler's
    fidelity to the plan a measured, value-checked fact (tail
    languages land near their upweighted targets, head languages are
    cut; capped at the population when a target exceeds it).

    Exactness: weights/targets/thresholds are the q256 integer
    fixed-point chain; acceptance compares integer hash residues to
    integer thresholds; realized counts are exact COUNTs of the
    identical surviving set in both engines. Zero RNG in the lineage —
    rerunning the sampler on a grown corpus keeps every prior
    decision stable except where the plan itself moved.

    Scale: one pass for per-language counts; the plan is a
    |languages|-row broadcast; acceptance is a map-side hash compare
    (no shuffle on the corpus); realized counts are one map-side
    combined aggregation. The sampler never materializes candidate
    lists — 100 TB in, filtered stream out.

    Cites reference behavior: none (beyond-reference operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    plan = _mix_doc_plan(spark, sf_dir)
    u = md5_hash32(
        F.concat(F.lit("smp|"), F.col("doc_id").cast("string"))
    )
    realized = (
        docs.join(F.broadcast(plan.select("lang", "accept_ppm")), "lang")
        .filter((u % _MIX_FP) < F.col("accept_ppm"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("realized_docs"))
    )
    return plan.join(realized, "lang", "left").select(
        "lang",
        "n_docs",
        "weight_ppm",
        "target_docs",
        "accept_ppm",
        F.coalesce(F.col("realized_docs"), F.lit(0))
        .cast("long")
        .alias("realized_docs"),
    )


# ---------------------------------------------------------------------------
# L6j: epoch allocation under a token budget (data-constrained mixing
# — how many passes over each source a fixed compute budget buys,
# with a repetition cap)
# ---------------------------------------------------------------------------

_EPOCH_BUDGET_X = 4  # token budget = 4x the corpus (compute-rich case)
_EPOCH_CAP_MILLI = 4_000  # max 4.0 epochs per source (repetition cap)


def _epoch_alloc_sql() -> str:
    return f"""
    WITH {_mix_token_sc_sql()},
    alloc AS (
      SELECT s.lang, s.n_tokens,
             CAST(s.score_fp * {_MIX_FP} // t.total_score AS BIGINT)
               AS weight_ppm,
             CAST((t.total_tokens * {_EPOCH_BUDGET_X})
                  * (s.score_fp * {_MIX_FP} // t.total_score)
                  // {_MIX_FP} AS BIGINT) AS alloc_tokens
      FROM sc s CROSS JOIN tot t
    ),
    capped AS (
      SELECT lang, n_tokens, weight_ppm, alloc_tokens,
             least(alloc_tokens * 1000 // n_tokens,
                   {_EPOCH_CAP_MILLI}) AS epochs_milli,
             least(alloc_tokens,
                   n_tokens * {_EPOCH_CAP_MILLI} // 1000) AS used_tokens
      FROM alloc
    ),
    leftover AS (
      SELECT CAST(SUM(alloc_tokens) - SUM(used_tokens) AS BIGINT)
               AS leftover_tokens
      FROM capped
    )
    SELECT c.lang, c.n_tokens, c.weight_ppm, c.alloc_tokens,
           CAST(c.epochs_milli AS BIGINT) AS epochs_milli,
           CAST(c.used_tokens AS BIGINT) AS used_tokens,
           l.leftover_tokens
    FROM capped c CROSS JOIN leftover l
    """


@query(
    "q259_epoch_allocation",
    oracle=_epoch_alloc_sql(),
    tags=("curation", "mixture", "temperature", "observability"),
)
def q259_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH ALLOCATION under a token budget — the data-constrained
    question a pretraining run answers after q256 sets the mixture:
    with a compute budget of {_EPOCH_BUDGET_X}x the corpus in tokens,
    allocated to languages by the alpha-temperature weights, how many
    PASSES (epochs, in milli-epochs) over each language's data does
    its allocation buy — capped at {_EPOCH_CAP_MILLI / 1000} epochs
    (the diminishing-returns repetition bound), with the stranded
    budget the cap leaves unspent reported as leftover_tokens (the
    amount the planner reallocates or trades for fresh data). Tail
    languages hit the cap (their upweighted allocation exceeds
    {_EPOCH_CAP_MILLI / 1000} passes over their small corpora); the
    head language absorbs its full allocation in ~one pass.

    Exactness: q256's fixed-point weight chain (integer scores before
    any cross-row sum), then pure integer multiply/divide/least for
    allocations, epochs, caps, and the leftover sum.

    Scale: one corpus token-count pass; every subsequent frame is
    |languages| rows with 1-row totals broadcast. The plan a 100 TB
    planner runs between the weight table and the dataloader config.

    Cites reference behavior: none (beyond-reference operator).
    """
    sc, tot = _mix_token_scores(spark, sf_dir)
    capped = (
        sc.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tokens",
            F.expr(f"score_fp * {_MIX_FP} div total_score")
            .cast("long")
            .alias("weight_ppm"),
            F.expr(
                f"(total_tokens * {_EPOCH_BUDGET_X})"
                f" * (score_fp * {_MIX_FP} div total_score)"
                f" div {_MIX_FP}"
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .select(
            "lang",
            "n_tokens",
            "weight_ppm",
            "alloc_tokens",
            F.expr(
                f"least(alloc_tokens * 1000 div n_tokens,"
                f" {_EPOCH_CAP_MILLI})"
            )
            .cast("long")
            .alias("epochs_milli"),
            F.expr(
                f"least(alloc_tokens,"
                f" n_tokens * {_EPOCH_CAP_MILLI} div 1000)"
            )
            .cast("long")
            .alias("used_tokens"),
        )
        .localCheckpoint()  # feeds the rows AND the leftover sum
    )
    leftover = capped.agg(
        (F.sum("alloc_tokens") - F.sum("used_tokens"))
        .cast("long")
        .alias("leftover_tokens")
    )
    return capped.crossJoin(F.broadcast(leftover))


# ---------------------------------------------------------------------------
# L6k: Bloom-filter decontamination (q101's question at the shape a
# 100 TB pipeline actually runs: the eval set as a broadcast bitset,
# probed map-side — no gram join)
# ---------------------------------------------------------------------------

_DECON_BLOOM_K = 4
_DECON_BLOOM_M = 65536  # 64K positions (8 KB of bits) for the eval grams


def decon_doc_grams(df: DataFrame) -> DataFrame:
    """(doc_id, gram) frame of a document set — the shared gram rule
    behind q260 and the streaming decontamination gate (same
    tokenizer, same {w}-gram shingles).""".format(w=_NGRAM)
    return fan_out(df, "doc_id").select(
        "doc_id",
        F.explode(shingles(tokens("text"), _NGRAM)).alias("gram"),
    )


def decon_gram_positions(gram_col) -> list:
    """The K Bloom positions of one gram — THE position formula
    (portable md5-32 base hash, minhash coefficient family), shared by
    q260's batch calibration and streaming/decon.py so the filters are
    bit-identical."""
    from target_hdfs_spark.functions.hashing import (
        MERSENNE_P,
        hash_coeffs,
        md5_hash32,
    )

    h = md5_hash32(gram_col)
    return [
        (F.lit(a) * h + F.lit(b)) % MERSENNE_P % _DECON_BLOOM_M
        for a, b in hash_coeffs(_DECON_BLOOM_K)
    ]


def decon_bits_frame(eval_docs: DataFrame) -> DataFrame:
    """The deterministic Bloom bitset of an eval-document set as a
    distinct-positions frame (benchmark-sized; broadcast at probe
    sites)."""
    return (
        decon_doc_grams(eval_docs)
        .select(
            F.explode(
                F.array(*decon_gram_positions(F.col("gram")))
            ).alias("pos")
        )
        .distinct()
    )


def decon_probe_flags(train_docs: DataFrame, bits: DataFrame) -> DataFrame:
    """(doc_id, bloom_flagged) for every training document: positions
    recomputed map-side per gram, each checked via its own broadcast
    lookup against the bitset — K BroadcastHashJoins, no shuffle on
    the probed corpus until the per-doc aggregate (q260's posture, as
    a reusable stage for the streaming gate)."""
    pos = decon_gram_positions(F.col("gram"))
    tr = decon_doc_grams(train_docs).select(
        "doc_id", *[pos[i].alias(f"p{i}") for i in range(_DECON_BLOOM_K)]
    )
    for i in range(_DECON_BLOOM_K):
        marker = bits.select(
            F.col("pos").alias(f"_pos{i}"), F.lit(1).alias(f"_b{i}")
        )
        tr = tr.join(
            F.broadcast(marker), tr[f"p{i}"] == marker[f"_pos{i}"], "left"
        )
    fb_gram = F.when(
        sum(
            F.col(f"_b{i}").isNotNull().cast("int")
            for i in range(_DECON_BLOOM_K)
        )
        == _DECON_BLOOM_K,
        1,
    ).otherwise(0)
    return (
        tr.select("doc_id", fb_gram.alias("fbg"))
        .groupBy("doc_id")
        .agg((F.max("fbg") == 1).alias("bloom_flagged"))
    )


def _decon_bloom_oracle() -> str:
    from target_hdfs_spark.functions.hashing import (
        hash_coeffs,
        md5_hash32_sql,
    )

    h = md5_hash32_sql("gram")
    pos_parts = " UNION ALL ".join(
        f"SELECT gram, ({a} * h + {b}) % 4294967311 % {_DECON_BLOOM_M} AS pos"
        " FROM gh"
        for a, b in hash_coeffs(_DECON_BLOOM_K)
    )
    return f"""
    WITH grams AS MATERIALIZED (
      SELECT doc_id, unnest({shingles_sql(_TOK, _NGRAM)}) AS gram
      FROM documents
    ),
    gh AS MATERIALIZED (
      SELECT DISTINCT gram, {h} AS h FROM grams
    ),
    gpos AS MATERIALIZED (
      SELECT gram, list(pos) AS poss FROM ({pos_parts}) GROUP BY gram
    ),
    ev AS MATERIALIZED (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {_EVAL_MOD} = 0
    ),
    bits AS MATERIALIZED (
      SELECT DISTINCT unnest(poss) AS pos
      FROM gpos JOIN ev USING (gram)
    ),
    tr_gram_hit AS (
      SELECT g.doc_id, g.gram,
             (SELECT COUNT(*) FROM unnest(p.poss) AS u(pos)
              WHERE pos IN (SELECT pos FROM bits)) = {_DECON_BLOOM_K}
               AS bloom_hit,
             g.gram IN (SELECT gram FROM ev) AS exact_hit
      FROM grams g JOIN gpos p USING (gram)
      WHERE g.doc_id % {_EVAL_MOD} <> 0
    ),
    per_doc AS (
      SELECT doc_id,
             MAX(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS fb,
             MAX(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS fe
      FROM tr_gram_hit GROUP BY doc_id
    )
    SELECT CAST((SELECT COUNT(*) FROM ev) AS BIGINT) AS n_eval_grams,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(SUM(fe) AS BIGINT) AS n_flagged_exact,
           CAST(SUM(fb) AS BIGINT) AS n_flagged_bloom,
           (SUM(CASE WHEN fe = 1 AND fb = 0 THEN 1 ELSE 0 END) = 0)
             AS no_false_negatives,
           CAST(SUM(CASE WHEN fb = 1 AND fe = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive_docs,
           CAST(SUM(CASE WHEN fb = 1 AND fe = 0 THEN 1 ELSE 0 END)
                * 1000000 // greatest(COUNT(*) - SUM(fe), 1)
                AS BIGINT) AS fp_doc_ppm
    FROM per_doc
    """


@query(
    "q260_bloom_decontamination",
    oracle=_decon_bloom_oracle(),
    tags=("curation", "sketch", "dedup", "calibration"),
)
def q260_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER DECONTAMINATION — q101's eval-overlap question at
    the shape a 100 TB pipeline actually runs it: the benchmark
    suite's n-grams become a deterministic {_DECON_BLOOM_K}-hash/
    {_DECON_BLOOM_M}-bit Bloom filter (8 KB of bits, built once,
    broadcast everywhere), and every training document is probed
    MAP-SIDE — a doc is flagged iff ANY of its grams has all
    {_DECON_BLOOM_K} positions set. No gram-keyed join touches the
    training corpus; contaminated + falsely-flagged docs (the fp rate
    says how few) go to the exact recheck. This query runs BOTH the
    filter pass and q101's exact membership truth and emits the
    calibration: no-false-negatives checked BY VALUE (Bloom can never
    miss an inserted gram — the structural guarantee that makes the
    cheap pass safe), false-positive docs counted and in ppm of the
    clean population.

    Exactness: the filter is the engine's deterministic Bloom (q250's
    position machinery on the portable md5-32 gram hash), so both
    engines build the identical bitset and flag the identical docs;
    every output is an integer or a boolean riding the checked row.

    Scale: eval side is benchmark-sized (fixed, tiny) -> the bitset
    is {_DECON_BLOOM_M} positions regardless of corpus scale; the
    training side is one map-side probe pass (broadcast join against
    the distinct-positions frame stands in for the bitset lookup) +
    one per-doc aggregate. The exact side exists as calibration
    truth; production keeps the filter and the flagged subset.

    Cites reference behavior: none (beyond-reference operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams_of = decon_doc_grams

    def pos_i(i: int):
        return decon_gram_positions(F.col("gram"))[i]

    # eval side from its own ~1% scan (production shape: the benchmark
    # suite is a separate tiny table) — the training corpus is never
    # materialized as a shared gram frame
    ev = (
        grams_of(docs.where(F.col("doc_id") % _EVAL_MOD == 0))
        .select("gram")
        .distinct()
        .localCheckpoint()  # benchmark-sized; feeds bits AND the truth marker
    )
    bits = (
        ev.select(
            F.explode(
                F.array(*[pos_i(i) for i in range(_DECON_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .localCheckpoint()  # the filter: benchmark-sized, built once
    )
    # the probe is pure map work: positions RECOMPUTED per train gram
    # (a hash of the row, never a vocab-keyed join) and each checked
    # via its own broadcast hash lookup against the bitset — K
    # BroadcastHashJoins, no shuffle touches the training corpus
    # until the one per-doc aggregate
    tr = grams_of(docs.where(F.col("doc_id") % _EVAL_MOD != 0)).select(
        "doc_id",
        "gram",
        *[pos_i(i).alias(f"p{i}") for i in range(_DECON_BLOOM_K)],
    )
    for i in range(_DECON_BLOOM_K):
        marker = bits.select(
            F.col("pos").alias(f"_pos{i}"), F.lit(1).alias(f"_b{i}")
        )
        tr = tr.join(
            F.broadcast(marker), tr[f"p{i}"] == marker[f"_pos{i}"], "left"
        )
    fb_gram = F.when(
        sum(F.col(f"_b{i}").isNotNull().cast("int") for i in range(_DECON_BLOOM_K))
        == _DECON_BLOOM_K,
        1,
    ).otherwise(0)
    evm = ev.select("gram", F.lit(1).alias("_e"))
    per_doc = (
        tr.join(F.broadcast(evm), "gram", "left")
        .select(
            "doc_id",
            fb_gram.alias("fbg"),
            F.coalesce("_e", F.lit(0)).alias("feg"),
        )
        .groupBy("doc_id")
        .agg(F.max("fbg").alias("fb"), F.max("feg").alias("fe"))
    )
    n_ev = ev.agg(F.count(F.lit(1)).cast("long").alias("n_eval_grams"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    return (
        per_doc.agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum("fe").cast("long").alias("n_flagged_exact"),
            F.sum("fb").cast("long").alias("n_flagged_bloom"),
            (
                F.sum(
                    F.when((F.col("fe") == 1) & (F.col("fb") == 0), 1).otherwise(0)
                )
                == 0
            ).alias("no_false_negatives"),
            F.sum(
                F.when((F.col("fb") == 1) & (F.col("fe") == 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_false_positive_docs"),
        )
        .crossJoin(F.broadcast(n_ev))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_eval_grams",
            "bits_set",
            "n_train_docs",
            "n_flagged_exact",
            "n_flagged_bloom",
            "no_false_negatives",
            "n_false_positive_docs",
            F.expr(
                "n_false_positive_docs * 1000000"
                " div greatest(n_train_docs - n_flagged_exact, 1)"
            )
            .cast("long")
            .alias("fp_doc_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L6l: weight-proportional interleave schedule (the dataloader ORDER
# for a mixed corpus — deterministic, no global sort materialized)
# ---------------------------------------------------------------------------

_ILV_TOP = 200  # readout prefix: how many leading slots to audit
_ILV_SCALE = 1_000_000_000  # slot-key scale (rank * scale / weight)


def _interleave_oracle() -> str:
    u = md5_hash32_sql("'smp|' || CAST(doc_id AS VARCHAR)")
    o = md5_hash32_sql("'ord|' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH {_mix_doc_plan_sql()},
    sampled AS (
      SELECT d.doc_id, d.lang, p.weight_ppm, {o} AS ord_h
      FROM documents d JOIN plan2 p ON p.lang = d.lang
      WHERE {u} % {_MIX_FP} < p.accept_ppm
    ),
    ranked AS (
      SELECT doc_id, lang, weight_ppm,
             row_number() OVER (PARTITION BY lang
                                ORDER BY ord_h, doc_id) AS lang_rank
      FROM sampled
    ),
    keyed AS (
      SELECT doc_id, lang,
             lang_rank * {_ILV_SCALE} // greatest(weight_ppm, 1)
               AS slot_key
      FROM ranked
    ),
    head AS (
      SELECT lang FROM keyed
      ORDER BY slot_key, lang, doc_id LIMIT {_ILV_TOP}
    ),
    head_counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS top_slots
      FROM head GROUP BY lang
    ),
    totals AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
      FROM sampled GROUP BY lang
    )
    SELECT t.lang, t.n_sampled,
           CAST(COALESCE(h.top_slots, 0) AS BIGINT) AS top_slots,
           CAST(COALESCE(h.top_slots, 0) * {_MIX_FP} // {_ILV_TOP}
                AS BIGINT) AS top_share_ppm
    FROM totals t LEFT JOIN head_counts h ON h.lang = t.lang
    """


@query(
    "q261_interleave_schedule",
    oracle=_interleave_oracle(),
    tags=("curation", "mixture", "temperature", "window"),
)
def q261_interleave_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHT-PROPORTIONAL INTERLEAVE SCHEDULE — the deterministic
    dataloader ORDER for the q257 temperature sample: each surviving
    document gets a per-language shuffle rank (salted-hash order, the
    deterministic shuffle) and a SLOT KEY = rank * {_ILV_SCALE} /
    weight_ppm; streaming the corpus in slot-key order interleaves
    languages in proportion to their mixture weights at every prefix
    (the low-discrepancy schedule a curriculum wants — no long
    single-language runs), without ever materializing a global dense
    position: the key is computed map-side after a per-language
    window, and any consumer range-partitions on it. The readout
    audits the schedule's first {_ILV_TOP} slots: per-language counts
    and share (ppm) — value-checked to track weight_ppm.

    Exactness: sampling, ranks, and slot keys are the engine's
    integer hash/fixed-point chains; the prefix audit is a
    deterministic total order (slot_key, lang, doc_id); counts exact.

    Scale: the per-language rank is a partitioned window (parallel
    across languages; within a language the rank is the only
    sequential term and rides Spark's window machinery); slot keys
    are map-side arithmetic; the prefix audit compiles to
    TakeOrderedAndProject (top-{_ILV_TOP}, never a full sort). At
    100 TB the schedule is written range-partitioned by slot_key —
    no stage here materializes a global order.

    Cites reference behavior: none (beyond-reference operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    plan = _mix_doc_plan(spark, sf_dir).select(
        "lang", "weight_ppm", "accept_ppm"
    )
    u = md5_hash32(F.concat(F.lit("smp|"), F.col("doc_id").cast("string")))
    sampled = (
        docs.join(F.broadcast(plan), "lang")
        .filter((u % _MIX_FP) < F.col("accept_ppm"))
        .select(
            "doc_id",
            "lang",
            "weight_ppm",
            md5_hash32(
                F.concat(F.lit("ord|"), F.col("doc_id").cast("string"))
            ).alias("ord_h"),
        )
        .localCheckpoint()  # feeds the schedule AND per-lang totals
    )
    w_lang = Window.partitionBy("lang").orderBy("ord_h", "doc_id")
    # greatest(w, 1): a stratum whose sqrt-score share floors below
    # 1 ppm (possible at extreme skew — ~100 languages of 1e8 docs)
    # must schedule at the sparsest rate, not raise DIVIDE_BY_ZERO
    # under ANSI mode
    keyed = sampled.withColumn(
        "lang_rank", F.row_number().over(w_lang).cast("long")
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"lang_rank * {_ILV_SCALE} div greatest(weight_ppm, 1)"
        ).alias("slot_key"),
    )
    head = keyed.orderBy("slot_key", "lang", "doc_id").limit(_ILV_TOP)
    head_counts = head.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("top_slots")
    )
    totals = sampled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )
    return totals.join(head_counts, "lang", "left").select(
        "lang",
        "n_sampled",
        F.coalesce("top_slots", F.lit(0)).cast("long").alias("top_slots"),
        F.expr(f"coalesce(top_slots, 0) * {_MIX_FP} div {_ILV_TOP}")
        .cast("long")
        .alias("top_share_ppm"),
    )


# ---------------------------------------------------------------------------
# L6m/E23: deterministic stratified reservoir — exact-k uniform sample
# per stratum via bottom-k of a salted hash (the mergeable sample:
# bottom-k of a union is the union's bottom-k, so partials/streams
# maintain it with O(k) state — the sampling twin of KMV)
# ---------------------------------------------------------------------------

_RSV_K = 8


def _reservoir_oracle() -> str:
    h = md5_hash32_sql("'rsv|' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH hashed AS (
      SELECT lang, doc_id, {h} AS hv FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id, hv,
             row_number() OVER (PARTITION BY lang
                                ORDER BY hv, doc_id) AS sample_rank
      FROM hashed
    )
    SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, hv
    FROM ranked WHERE sample_rank <= {_RSV_K}
    """


@query(
    "q262_reservoir_sample",
    oracle=_reservoir_oracle(),
    tags=("curation", "sampling", "window", "sketch"),
)
def q262_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED RESERVOIR — an exact-{_RSV_K} uniform
    sample per language as the bottom-{_RSV_K} documents by salted
    portable hash. The hash order is a uniform random permutation
    (fixed by the salt, so bit-reproducible across engines, reruns,
    partitionings, and corpus growth: a document only leaves the
    sample when a smaller-hash newcomer displaces it — exactly the
    reservoir property). What the rate rule (q104) cannot give —
    EXACT k per stratum — and the weighted priority sample (q121)
    does not: a uniform fixed-size reservoir that is MERGEABLE:
    bottom-k of a union is the union's bottom-k (KMV's semilattice
    on its own members), so executor partials, stored per-day
    partials, or a stream's running state all maintain it with O(k)
    integers — this is the batch twin of reservoir_stream.

    Exactness: hashes are the portable md5-32; ranks carry the
    (hv, doc_id) total order; output is the identical row set in
    both engines.

    Scale: rank <= k over the per-lang window compiles to
    WindowGroupLimit — each scan task keeps its local bottom-k per
    stratum BEFORE the shuffle, so the final per-group sort touches
    tasks x k rows, never |corpus| (q239's plan shape, pinned there).

    Cites reference behavior: none (beyond-reference operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    hashed = docs.select(
        "lang",
        "doc_id",
        md5_hash32(
            F.concat(F.lit("rsv|"), F.col("doc_id").cast("string"))
        ).alias("hv"),
    )
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    return (
        hashed.withColumn(
            "sample_rank", F.row_number().over(w).cast("long")
        )
        .filter(F.col("sample_rank") <= _RSV_K)
        .select("lang", "sample_rank", "doc_id", "hv")
    )


# ---------------------------------------------------------------------------
# L6n: mixture drift monitor — the observability member closing the
# mixing program's loop (plan q256 -> realize q257 -> order q261 ->
# budget q259 -> MONITOR)
# ---------------------------------------------------------------------------

_DRIFT_ALERT_PPM = 100_000  # alert when a day's share is >10pp off target


def _mix_drift_oracle() -> str:
    return f"""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_all
      FROM events GROUP BY event_type
    ),
    sc AS (
      SELECT event_type, n_all,
             {_mix_score_sql("n_all")} AS score_fp
      FROM counts
    ),
    tot AS (SELECT CAST(SUM(score_fp) AS BIGINT) AS total_score FROM sc),
    target AS (
      SELECT s.event_type,
             CAST(s.score_fp * {_MIX_FP} // t.total_score AS BIGINT)
               AS target_ppm
      FROM sc s CROSS JOIN tot t
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    shares AS (
      SELECT day, event_type, n_events,
             CAST(n_events * {_MIX_FP}
                  // SUM(n_events) OVER (PARTITION BY day)
                  AS BIGINT) AS share_ppm
      FROM daily
    )
    SELECT CAST(s.day AS VARCHAR) AS day, s.event_type, s.n_events,
           s.share_ppm, g.target_ppm,
           CAST(abs(s.share_ppm - g.target_ppm) AS BIGINT) AS drift_ppm,
           (abs(s.share_ppm - g.target_ppm) > {_DRIFT_ALERT_PPM})
             AS alert
    FROM shares s JOIN target g ON g.event_type = s.event_type
    """


@query(
    "q263_mixture_drift_monitor",
    oracle=_mix_drift_oracle(),
    tags=("curation", "mixture", "temperature", "observability", "window"),
)
def q263_mixture_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE DRIFT MONITOR — the observability member closing the
    mixing program's loop (q256 plans the weights, q257 realizes
    them, q261 orders the stream, q259 budgets epochs; this WATCHES
    the realized mix): each day's per-source share of arriving data
    (event types stand in for ingest sources) is compared against the
    configured alpha-temperature target, with the absolute drift in
    ppm and an alert when a day's share is more than
    {_DRIFT_ALERT_PPM // 10_000} percentage points off target — the
    dashboard row a pipeline operator pages on when an upstream
    source silently floods or dries up relative to the mixture the
    run was configured for.

    Exactness: the target rides the shared `_mix_score_col` chain
    (integer ppm before any cross-row sum); daily shares are integer
    divisions of exact counts over the per-day window total; drift
    and the alert boolean are pure integer comparisons; day is the
    ISO string in both engines.

    Scale: one events pass to per-(day, type) counts with map-side
    combine; the day-total window runs on the |days x types| count
    frame (never raw events); the target is a |types|-row broadcast.
    The frame a 100 TB/day pipeline materializes per day is |types|
    rows — storable partials, mergeable by addition like every count
    here.

    Cites reference behavior: none (beyond-reference operator).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_all")
    )
    sc = counts.select("event_type", "n_all", _mix_score_col("n_all"))
    tot = sc.agg(F.sum("score_fp").cast("long").alias("total_score"))
    target = sc.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.expr(f"score_fp * {_MIX_FP} div total_score")
        .cast("long")
        .alias("target_ppm"),
    )
    daily = ev.groupBy("day", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    w_day = Window.partitionBy("day")
    shares = daily.select(
        "day",
        "event_type",
        "n_events",
        F.expr(f"n_events * {_MIX_FP}")
        .cast("long")
        .alias("_scaled"),
        F.sum("n_events").over(w_day).alias("_day_total"),
    ).select(
        "day",
        "event_type",
        "n_events",
        F.expr("_scaled div _day_total").cast("long").alias("share_ppm"),
    )
    return shares.join(F.broadcast(target), "event_type").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "share_ppm",
        "target_ppm",
        F.expr("abs(share_ppm - target_ppm)")
        .cast("long")
        .alias("drift_ppm"),
        (F.expr("abs(share_ppm - target_ppm)") > _DRIFT_ALERT_PPM).alias(
            "alert"
        ),
    )


# ---------------------------------------------------------------------------
# L6m companion: reservoir MERGE LAW — the theorem every sketch in the
# engine ships (KMV q246, CountMin/Bloom q251, quantile q254): two
# partial reservoirs merged by bottom-k-of-union must equal the
# reservoir built directly over all documents
# ---------------------------------------------------------------------------


def _reservoir_merge_oracle() -> str:
    h = md5_hash32_sql("'rsv|' || CAST(doc_id AS VARCHAR)")
    bk = """
      SELECT lang, doc_id, hv FROM (
        SELECT lang, doc_id, hv,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY hv, doc_id) AS rn
        FROM {src}
      ) WHERE rn <= {k}"""
    return f"""
    WITH hashed AS MATERIALIZED (
      SELECT lang, doc_id, {h} AS hv FROM documents
    ),
    part_a AS ({bk.format(src="hashed WHERE doc_id % 3 <> 0", k=_RSV_K)}),
    part_b AS ({bk.format(src="hashed WHERE doc_id % 3 = 0", k=_RSV_K)}),
    pooled AS (SELECT * FROM part_a UNION ALL SELECT * FROM part_b),
    merged AS ({bk.format(src="pooled", k=_RSV_K)}),
    direct AS ({bk.format(src="hashed", k=_RSV_K)}),
    diff AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_diff FROM (
        SELECT * FROM merged EXCEPT SELECT * FROM direct
        UNION ALL
        (SELECT * FROM direct EXCEPT SELECT * FROM merged)
      )
    ),
    stats AS (
      SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(*) AS BIGINT) AS sample_rows
      FROM merged
    ),
    pstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_partial_rows FROM pooled
    )
    SELECT s.n_langs, s.sample_rows, p.n_partial_rows,
           (d.n_diff = 0) AS merge_matches
    FROM stats s CROSS JOIN pstats p CROSS JOIN diff d
    """


@query(
    "q264_reservoir_merge_law",
    oracle=_reservoir_merge_oracle(),
    tags=("curation", "sampling", "sketch", "calibration"),
)
def q264_reservoir_merge_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE LAW for the stratified reservoir, value-checked as a
    theorem (completing the family discipline: KMV proved q246,
    CountMin/Bloom q251, quantile q254 — every sketch in the engine
    ships its mergeability proof): per-language bottom-{_RSV_K}
    partials built over two disjoint corpus slices, merged by
    bottom-{_RSV_K} of their union, must equal the reservoir built
    directly over all documents — bottom-k of a union is the union's
    bottom-k (a semilattice on the member set). This is both the
    incremental-maintenance contract (yesterday's stored sample +
    today's documents = today's full-rebuild sample, without
    rescanning yesterday) and the algebra reservoir_stream's
    unconditional batch parity rests on.

    Exactness: hashes and ranks are the shared q262 rule; the
    symmetric-difference count and the boolean ride the checked row
    beside partial/merged row stats.

    Scale: each partial is the q262 WindowGroupLimit shape over its
    slice; the merge runs on <= 2k rows per language (partials, never
    documents); the direct side exists as the theorem's independent
    construction — production keeps the partials.

    Cites reference behavior: none (beyond-reference operator).
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    hashed = docs.select(
        "lang",
        "doc_id",
        md5_hash32(
            F.concat(F.lit("rsv|"), F.col("doc_id").cast("string"))
        ).alias("hv"),
    ).localCheckpoint()  # feeds both partials AND the direct side

    def bottom_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("lang").orderBy("hv", "doc_id")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RSV_K)
            .select("lang", "doc_id", "hv")
        )

    part_a = bottom_k(hashed.filter(F.col("doc_id") % 3 != 0))
    part_b = bottom_k(hashed.filter(F.col("doc_id") % 3 == 0))
    pooled = part_a.unionByName(part_b).localCheckpoint()
    merged = bottom_k(pooled)
    direct = bottom_k(hashed)
    diff = (
        merged.exceptAll(direct)
        .unionByName(direct.exceptAll(merged))
        .agg(F.count(F.lit(1)).alias("n_diff"))
    )
    stats = merged.agg(
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count(F.lit(1)).cast("long").alias("sample_rows"),
    )
    pstats = pooled.agg(
        F.count(F.lit(1)).cast("long").alias("n_partial_rows")
    )
    return (
        stats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(diff))
        .select(
            "n_langs",
            "sample_rows",
            "n_partial_rows",
            (F.col("n_diff") == 0).alias("merge_matches"),
        )
    )


# ---------------------------------------------------------------------------
# L6o: dataset card — the per-source datasheet a corpus release ships,
# composing the engine's primitives (exact-dup hashing, portable
# tokenization, the quantile-sketch readout) into one observable row
# per source
# ---------------------------------------------------------------------------

_CARD_PCTS = (50, 95)


def _dataset_card_oracle() -> str:
    from target_hdfs_spark.operators.analytics import (
        QSK_DOC_NBKT,
        QSK_DOC_W,
        qsk_bucket_sql,
        qsk_est_sql,
    )

    tok = TOKENS_SQL.format(expr="text")
    bkt = qsk_bucket_sql("n_chars", QSK_DOC_W, QSK_DOC_NBKT)
    return f"""
    WITH base AS MATERIALIZED (
      SELECT source, lang, n_chars,
             CAST(len({tok}) AS BIGINT) AS n_toks,
             {md5_hash32_sql('text')} AS th,
             {bkt} AS bkt
      FROM documents
    ),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(*) - COUNT(DISTINCT th) AS BIGINT) AS dup_docs
      FROM base GROUP BY 1
    ),
    lc AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ),
    top AS (
      SELECT source, lang AS top_lang, c
      FROM lc
      QUALIFY row_number() OVER (PARTITION BY source
                                 ORDER BY c DESC, lang) = 1
    ),
    hist AS (
      SELECT source, bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2
    ),
    est AS (
      {qsk_est_sql("hist", "source", QSK_DOC_W, _CARD_PCTS)}
    )
    SELECT a.source, a.n_docs, a.total_chars, a.total_tokens, a.n_langs,
           t.top_lang,
           CAST(t.c * 1000000 // a.n_docs AS BIGINT) AS top_lang_share_ppm,
           a.dup_docs,
           CAST(a.dup_docs * 1000000 // a.n_docs AS BIGINT) AS dup_ppm,
           e.est_p50 AS est_p50_chars,
           e.est_p95 AS est_p95_chars
    FROM agg a
    JOIN top t ON t.source = a.source
    JOIN est e ON e.source = a.source
    """


@query(
    "q268_dataset_card",
    oracle=_dataset_card_oracle(),
    tags=("curation", "observability", "profile", "sketch"),
)
def q268_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD — the per-source datasheet a corpus release ships
    (Gebru et al.'s "Datasheets for Datasets", the table on every
    HuggingFace dataset page), composed from the engine's own
    primitives so the numbers are the PIPELINE's numbers: document /
    character / whitespace-token totals (q50's tokenizer), language
    spread with the dominant language's share (ppm), the exact-dup
    overhead the release still carries (q41's content hash — docs
    minus distinct hashes, in ppm), and p50/p95 document length from
    the quantile sketch (q253's cells — no document is ever sorted).
    One row per source: what a consumer reads before training on it,
    and what a curator diffs release-over-release.

    Exactness: counts, sums, distinct counts, integer-ppm divisions,
    and the shared `qsk_estimates` readout — all deterministic
    integers; the dominant language tie-breaks alphabetically.

    Scale: ONE documents pass computes hash + token count + bucket
    scan-side, then three map-side-combined aggregations over it
    (per-source, per-(source, lang), per-(source, bucket)) — each
    collapses to frames bounded by |sources| x |langs| / sketch
    cells; the joins that assemble the card run on those tiny frames.
    At 100 TB every term is a partial a shard can precompute and
    merge (counts add, hashes union-count, histogram cells add).

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.operators.analytics import (
        QSK_DOC_NBKT,
        QSK_DOC_W,
        qsk_bucket_expr,
        qsk_estimates,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", "text"
    )
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
        md5_hash32(F.col("text")).alias("th"),
        qsk_bucket_expr("n_chars", QSK_DOC_W, QSK_DOC_NBKT).alias("bkt"),
    ).localCheckpoint()  # one corpus pass feeds all three rollups
    agg = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        (F.count(F.lit(1)) - F.count_distinct("th"))
        .cast("long")
        .alias("dup_docs"),
    )
    lc = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_top = Window.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    top = (
        lc.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"), "c")
    )
    hist = base.groupBy("source", "bkt").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    est = qsk_estimates(hist, ["source"], QSK_DOC_W, _CARD_PCTS)
    return (
        agg.join(top.withColumnRenamed("c", "top_c"), "source")
        .join(est, "source")
        .select(
            "source",
            "n_docs",
            "total_chars",
            "total_tokens",
            "n_langs",
            "top_lang",
            F.expr("top_c * 1000000 div n_docs")
            .cast("long")
            .alias("top_lang_share_ppm"),
            "dup_docs",
            F.expr("dup_docs * 1000000 div n_docs")
            .cast("long")
            .alias("dup_ppm"),
            F.col("est_p50").alias("est_p50_chars"),
            F.col("est_p95").alias("est_p95_chars"),
        )
    )


# ---------------------------------------------------------------------------
# L6p: contamination SPAN extraction + surgery — q101/q260 flag
# documents; q269 reports WHERE the contamination sits and q270 CUTS
# it out (the GPT-3/PaLM decontamination appendix shape: remove the
# overlapping spans plus a margin, keep the clean remainder). One
# shared pipeline (Spark helper + SQL CTE chain) feeds both queries
# so the span rule cannot fork.
# ---------------------------------------------------------------------------

_SPAN_MARGIN = 1  # tokens removed on each side of a contaminated span


def _contam_spans_cte() -> str:
    """The shared WITH-chain from documents to the merged span frame
    (island-merge of eval-overlapping gram positions), used verbatim
    by both the q269 and q270 oracles."""
    return f"""
    g AS MATERIALIZED (
      SELECT doc_id, tk, len(tk) AS n_toks,
             {shingles_sql('tk', _NGRAM)} AS grams
      FROM (SELECT doc_id, {_TOK} AS tk FROM documents)
    ),
    ev AS (
      SELECT DISTINCT unnest(grams) AS gram
      FROM g WHERE doc_id % {_EVAL_MOD} = 0
    ),
    tp AS (
      SELECT doc_id, n_toks, grams,
             unnest(generate_series(1, len(grams))) AS i
      FROM g WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    hits AS (
      SELECT t.doc_id, t.n_toks, t.i - 1 AS pos,
             least({_NGRAM}, t.n_toks) AS width
      FROM tp t JOIN ev ON ev.gram = t.grams[t.i]
    ),
    flagged AS (
      SELECT doc_id, n_toks, pos, width,
             CASE WHEN lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > width THEN 1 ELSE 0 END
               AS new_island
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl AS (
      SELECT doc_id, n_toks, pos, width,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos)
               AS island_id
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, island_id,
             CAST(MAX(n_toks) AS BIGINT) AS doc_tokens,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + MAX(width) - 1 AS BIGINT) AS span_end,
             CAST(COUNT(*) AS BIGINT) AS n_hit_grams
      FROM isl GROUP BY 1, 2
    )"""


def _contam_span_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared Spark pipeline: returns (g, spans) where g carries
    every document's token array and spans the merged contamination
    intervals — the single implementation behind q269 and q270."""
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    g = docs.select("doc_id", tokens("text").alias("tk")).select(
        "doc_id",
        "tk",
        F.size("tk").alias("n_toks"),
        shingles(F.col("tk"), _NGRAM).alias("grams"),
    )
    ev = (
        g.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
        .localCheckpoint()  # benchmark-sized
    )
    tp = g.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", "n_toks", F.posexplode("grams").alias("pos", "gram")
    )
    hits = tp.join(F.broadcast(ev), "gram").select(
        "doc_id",
        "n_toks",
        "pos",
        F.least(F.lit(_NGRAM), F.col("n_toks")).alias("width"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") - F.lag("pos").over(w_doc) > F.col("width")),
            1,
        ).otherwise(0),
    ).withColumn("island_id", F.sum("new_island").over(w_doc))
    spans = isl.groupBy("doc_id", "island_id").agg(
        F.max("n_toks").cast("long").alias("doc_tokens"),
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + F.max("width") - 1).cast("long").alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_hit_grams"),
    )
    return g, spans


@query(
    "q269_contamination_spans",
    oracle=f"""
    WITH {_contam_spans_cte()}
    SELECT doc_id, CAST(island_id AS BIGINT) AS span_id,
           span_start, span_end,
           span_end - span_start + 1 AS span_tokens,
           n_hit_grams, doc_tokens,
           CAST(COUNT(*) OVER d AS BIGINT) AS doc_spans,
           CAST(SUM(span_end - span_start + 1) OVER d AS BIGINT)
             AS contam_tokens,
           CAST(SUM(span_end - span_start + 1) OVER d * 1000000
                // doc_tokens AS BIGINT) AS contam_ppm
    FROM spans WINDOW d AS (PARTITION BY doc_id)
    """,
    tags=("curation", "dedup", "decontamination", "window", "spans"),
)
def q269_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAMINATION SPAN EXTRACTION — q101 answers WHICH training
    documents share an n-gram with the benchmark suite and q260 makes
    that probe cheap; this answers WHERE: the exact token spans the
    eval overlap covers, produced by the island-merge the GPT-3/PaLM
    decontamination appendices describe. Every eval-matching gram
    contributes its {_NGRAM}-token interval; intervals that overlap
    or touch (next_pos <= pos + width) merge into one span (lag +
    cumulative island id — the gap-and-island shape on HIT
    positions); each span reports start/end/width and hit count, each
    document its span count and contaminated-token total in ppm of
    its length. q270 applies the surgery these spans prescribe.

    Exactness: positions, widths, island ids, and ppm divisions are
    pure integers; the whole-doc-shingle case (docs shorter than
    {_NGRAM} tokens) is handled by width = least({_NGRAM}, n_tokens)
    in both engines.

    Scale: the eval side is benchmark-sized -> its distinct gram
    frame BROADCASTS; the training corpus takes ONE posexplode pass
    probed map-side (no gram-keyed shuffle of the corpus, q260's
    posture); the island windows run on HIT rows only — contamination
    is rare by construction, so the per-doc windows see a frame many
    orders smaller than the corpus, and the one doc-keyed Exchange is
    shared by the windows and the span aggregate. Composition: run
    q260's Bloom pass first, THEN this span pass on the flagged
    subset only.

    Cites reference behavior: none (beyond-reference operator).
    """
    _, spans = _contam_span_frames(spark, sf_dir)
    w_d = Window.partitionBy("doc_id")
    span_tokens = F.col("span_end") - F.col("span_start") + 1
    return spans.select(
        "doc_id",
        F.col("island_id").cast("long").alias("span_id"),
        "span_start",
        "span_end",
        span_tokens.cast("long").alias("span_tokens"),
        "n_hit_grams",
        "doc_tokens",
        F.count(F.lit(1)).over(w_d).cast("long").alias("doc_spans"),
        F.sum(span_tokens).over(w_d).cast("long").alias("contam_tokens"),
        F.expr(
            "sum(span_end - span_start + 1)"
            " over (partition by doc_id) * 1000000 div doc_tokens"
        )
        .cast("long")
        .alias("contam_ppm"),
    )


@query(
    "q270_span_surgery",
    oracle=f"""
    WITH {_contam_spans_cte()},
    cov AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(
               greatest(0, span_start - {_SPAN_MARGIN}),
               least(doc_tokens - 1, span_end + {_SPAN_MARGIN}))) AS pos
      FROM spans
    ),
    cdocs AS (SELECT DISTINCT doc_id FROM spans),
    tokp AS (
      SELECT g.doc_id, g.n_toks,
             unnest(generate_series(1, len(g.tk))) AS i, g.tk
      FROM g JOIN cdocs USING (doc_id)
    ),
    marked AS (
      SELECT t.doc_id, t.n_toks, t.i - 1 AS pos, t.tk[t.i] AS tok,
             cov.pos AS cut
      FROM tokp t
      LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.pos = t.i - 1
    )
    SELECT doc_id,
           CAST(MAX(n_toks) AS BIGINT) AS doc_tokens,
           CAST(COUNT(cut) AS BIGINT) AS removed_tokens,
           CAST(COUNT(*) - COUNT(cut) AS BIGINT) AS kept_tokens,
           CAST((COUNT(*) - COUNT(cut)) * 1000000 // COUNT(*) AS BIGINT)
             AS kept_ppm,
           coalesce(string_agg(CASE WHEN cut IS NULL THEN tok END,
                               ' ' ORDER BY pos), '') AS cleaned_text
    FROM marked GROUP BY doc_id
    """,
    tags=("curation", "dedup", "decontamination", "transform", "spans"),
)
def q270_span_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN SURGERY — applying q269's prescription: for every
    contaminated training document, cut the contaminated spans plus a
    {_SPAN_MARGIN}-token margin on each side (clamped to the document)
    and emit the CLEANED text with its before/after accounting
    (removed/kept token counts, kept share in ppm). This is the step
    production decontamination actually ships — q101 would discard
    the whole document; at 100 TB you keep the clean remainder of a
    book that quotes one benchmark item. Fully-covered documents
    survive as empty-text rows (kept_ppm 0), so the output is the
    complete surgical manifest.

    Exactness: coverage positions are exact integer ranges (margins
    clamp identically in both engines; overlapping margins dedup via
    DISTINCT); the rebuilt text is the kept tokens joined in position
    order — order-stable string aggregation on both sides.

    Scale: spans and the contaminated-doc id set are rare-event-sized
    -> both BROADCAST; the token rebuild touches ONLY contaminated
    documents (semi-join before the posexplode), so the expensive
    per-token pass runs on the flagged sliver, never the corpus; the
    rebuild aggregate is one doc-keyed Exchange of that sliver.

    Cites reference behavior: none (beyond-reference operator).
    """
    g, spans = _contam_span_frames(spark, sf_dir)
    cov = (
        spans.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("span_start") - _SPAN_MARGIN),
                    F.least(
                        F.col("doc_tokens") - 1,
                        F.col("span_end") + _SPAN_MARGIN,
                    ),
                )
            ).alias("pos"),
        )
        .distinct()
        .localCheckpoint()  # rare-event-sized; feeds the cut marker
    )
    cdocs = cov.select("doc_id").distinct()
    tokp = g.join(F.broadcast(cdocs), "doc_id").select(
        "doc_id", "n_toks", F.posexplode("tk").alias("pos", "tok")
    )
    marked = tokp.join(
        F.broadcast(cov.withColumn("cut", F.lit(1))), ["doc_id", "pos"], "left"
    )
    kept = F.count(F.lit(1)) - F.count("cut")
    return marked.groupBy("doc_id").agg(
        F.max("n_toks").cast("long").alias("doc_tokens"),
        F.count("cut").cast("long").alias("removed_tokens"),
        kept.cast("long").alias("kept_tokens"),
        F.expr(
            "(count(1) - count(cut)) * 1000000 div count(1)"
        )
        .cast("long")
        .alias("kept_ppm"),
        F.array_join(
            F.transform(
                F.filter(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                "pos",
                                "tok",
                                F.coalesce("cut", F.lit(0)).alias("c"),
                            )
                        )
                    ),
                    lambda s: s["c"] == 0,
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# L6q: release funnel — the round-9 programs composed into ONE
# declarative release build: dedup -> decontamination -> sketch-priced
# length gate -> temperature sample, with per-stage accounting
# ---------------------------------------------------------------------------


def _release_funnel_oracle() -> str:
    from target_hdfs_spark.operators.analytics import (
        QSK_DOC_NBKT,
        QSK_DOC_W,
        qsk_bucket_sql,
        qsk_est_sql,
    )

    bkt = qsk_bucket_sql("n_chars", QSK_DOC_W, QSK_DOC_NBKT)
    u = md5_hash32_sql("'smp|' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH base AS MATERIALIZED (
      SELECT doc_id, lang, n_chars, text, {_TOK} AS tk FROM documents
    ),
    train AS (
      SELECT doc_id, lang, n_chars, text, tk FROM base
      WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    ded AS MATERIALIZED (
      SELECT doc_id, lang, n_chars, tk FROM train
      QUALIFY row_number() OVER (PARTITION BY text, lang
                                 ORDER BY doc_id) = 1
    ),
    ev AS (
      SELECT DISTINCT unnest({shingles_sql('tk', _NGRAM)}) AS gram
      FROM base WHERE doc_id % {_EVAL_MOD} = 0
    ),
    contam AS (
      SELECT DISTINCT d.doc_id
      FROM (SELECT doc_id, unnest({shingles_sql('tk', _NGRAM)}) AS gram
            FROM ded) d
      JOIN ev ON ev.gram = d.gram
    ),
    dec AS MATERIALIZED (
      SELECT doc_id, lang, n_chars FROM ded
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    hist AS (
      SELECT lang, {bkt} AS bkt, CAST(COUNT(*) AS BIGINT) AS c
      FROM dec GROUP BY 1, 2
    ),
    cut AS (
      {qsk_est_sql("hist", "lang", QSK_DOC_W, (95,))}
    ),
    len_ok AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.n_chars
      FROM dec d JOIN cut ON cut.lang = d.lang
      WHERE d.n_chars <= cut.est_p95
    ),
    sizes AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM len_ok GROUP BY lang
    ),
    sc AS (
      SELECT lang, n_docs, {_mix_score_sql("n_docs")} AS score_fp
      FROM sizes
    ),
    tot AS (
      SELECT CAST(SUM(score_fp) AS BIGINT) AS total_score,
             CAST(SUM(n_docs) AS BIGINT) AS total_docs
      FROM sc
    ),
    plan2 AS (
      SELECT lang, n_docs,
             least({_MIX_FP},
               CAST((t.total_docs // 2)
                    * (score_fp * {_MIX_FP} // t.total_score)
                    // {_MIX_FP} AS BIGINT)
               * {_MIX_FP} // n_docs) AS accept_ppm,
             CAST((t.total_docs // 2)
                  * (score_fp * {_MIX_FP} // t.total_score)
                  // {_MIX_FP} AS BIGINT) AS target_docs
      FROM sc CROSS JOIN tot t
    ),
    fin AS (
      SELECT l.doc_id, l.lang, l.n_chars
      FROM len_ok l JOIN plan2 p ON p.lang = l.lang
      WHERE ({u}) % {_MIX_FP} < p.accept_ppm
    ),
    st0 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_train
            FROM train GROUP BY 1),
    st1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_after_dedup
            FROM ded GROUP BY 1),
    st2 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_after_decon
            FROM dec GROUP BY 1),
    st3 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_after_length
            FROM len_ok GROUP BY 1),
    st4 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_final,
                   CAST(SUM(n_chars) AS BIGINT) AS chars_final
            FROM fin GROUP BY 1)
    SELECT s0.lang, s0.n_train,
           COALESCE(s1.n_after_dedup, 0) AS n_after_dedup,
           COALESCE(s2.n_after_decon, 0) AS n_after_decon,
           COALESCE(s3.n_after_length, 0) AS n_after_length,
           COALESCE(p.target_docs, 0) AS target_docs,
           COALESCE(s4.n_final, 0) AS n_final,
           COALESCE(s4.chars_final, 0) AS chars_final,
           CAST(COALESCE(s4.n_final, 0) * 1000000 // s0.n_train
                AS BIGINT) AS retained_ppm
    FROM st0 s0
    LEFT JOIN st1 s1 ON s1.lang = s0.lang
    LEFT JOIN st2 s2 ON s2.lang = s0.lang
    LEFT JOIN st3 s3 ON s3.lang = s0.lang
    LEFT JOIN plan2 p ON p.lang = s0.lang
    LEFT JOIN st4 s4 ON s4.lang = s0.lang
    """


@query(
    "q271_release_funnel",
    oracle=_release_funnel_oracle(),
    tags=("curation", "mixture", "decontamination", "sketch", "funnel"),
)
def q271_release_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELEASE FUNNEL — the round-9 programs composed into one
    declarative corpus-release build with per-stage accounting (the
    manifest a data team publishes with every release): training
    slice -> exact dedup (q40's deterministic survivor) ->
    decontamination (q101's eval-gram rule, broadcast probe) ->
    length gate at the per-language p95 priced from the quantile
    sketch (q258's two-phase shape: cells -> cutoff -> one filter
    pass) -> alpha-temperature downsample to a half-corpus budget
    (q256/q257's fixed-point weight chain and hash rule). One row per
    language: the population entering, survivors after each stage,
    the mixing target, the final doc/char counts, and end-to-end
    retention in ppm. q98 is the CLEANING composition (quality gates
    + near-dup clusters); this is the RELEASE-BUDGETING composition —
    stage boundaries (dedup-before-decon, cutoffs-from-survivors,
    weights-from-gated-population) are exactly where composition bugs
    hide, and the whole chain is value-checked.

    Exactness: every stage is integer/string arithmetic on
    deterministic rules already proven alone (q40/q101/q253/q256/
    q257); the composition inherits exactness stage by stage.

    Scale: dedup is the one (text, lang)-keyed corpus shuffle
    (hash-groupBy dedup, the cheapest exact rule); the eval gram set
    broadcasts; histogram cells and the mixing plan are sketch-/
    |languages|-sized; the final sample is a map-side hash compare.
    Stage frames checkpoint where reused so no stage re-scans the
    corpus. Multi-stage composition: exchange count grows with stage
    count, each stage individually shuffle-minimal (PLAN_AUDIT
    waiver, q92 class).

    Cites reference behavior: none (beyond-reference operator).
    """
    from target_hdfs_spark.operators.analytics import (
        QSK_DOC_NBKT,
        QSK_DOC_W,
        qsk_bucket_expr,
        qsk_estimates,
    )

    base = fan_out(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "n_chars", "text"
        ),
        "doc_id",
    ).select(
        "doc_id", "lang", "n_chars", "text", tokens("text").alias("tk")
    )
    train = base.filter(F.col("doc_id") % _EVAL_MOD != 0)
    w_ded = Window.partitionBy("text", "lang").orderBy("doc_id")
    ded = (
        train.withColumn("rn", F.row_number().over(w_ded))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars", "tk")
        .localCheckpoint()  # feeds decon probe, counts, and onward
    )
    ev = (
        base.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode(shingles(F.col("tk"), _NGRAM)).alias("gram"))
        .distinct()
        .localCheckpoint()  # benchmark-sized
    )
    contam = (
        ded.select(
            "doc_id", F.explode(shingles(F.col("tk"), _NGRAM)).alias("gram")
        )
        .join(F.broadcast(ev), "gram")
        .select("doc_id")
        .distinct()
    )
    dec = ded.join(contam, "doc_id", "left_anti").select(
        "doc_id", "lang", "n_chars"
    ).localCheckpoint()
    hist = dec.groupBy(
        "lang", qsk_bucket_expr("n_chars", QSK_DOC_W, QSK_DOC_NBKT).alias("bkt")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    cut = qsk_estimates(hist, ["lang"], QSK_DOC_W, (95,))
    len_ok = dec.join(F.broadcast(cut), "lang").filter(
        F.col("n_chars") <= F.col("est_p95")
    ).select("doc_id", "lang", "n_chars").localCheckpoint()
    sizes = len_ok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    sc = sizes.select("lang", "n_docs", _mix_score_col("n_docs"))
    tot = sc.agg(
        F.sum("score_fp").cast("long").alias("total_score"),
        F.sum("n_docs").cast("long").alias("total_docs"),
    )
    plan2 = (
        sc.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.expr(
                f"(total_docs div 2)"
                f" * (score_fp * {_MIX_FP} div total_score)"
                f" div {_MIX_FP}"
            )
            .cast("long")
            .alias("target_docs"),
        )
        .withColumn(
            "accept_ppm",
            F.expr(
                f"least({_MIX_FP}, target_docs * {_MIX_FP} div n_docs)"
            ).cast("long"),
        )
    )
    u = md5_hash32(F.concat(F.lit("smp|"), F.col("doc_id").cast("string")))
    fin = (
        len_ok.join(F.broadcast(plan2.select("lang", "accept_ppm")), "lang")
        .filter((u % _MIX_FP) < F.col("accept_ppm"))
    )

    def stage_counts(df: DataFrame, alias: str) -> DataFrame:
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias(alias)
        )

    st0 = stage_counts(train, "n_train")
    st1 = stage_counts(ded, "n_after_dedup")
    st2 = stage_counts(dec, "n_after_decon")
    st3 = stage_counts(len_ok, "n_after_length")
    st4 = fin.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_final"),
        F.sum("n_chars").cast("long").alias("chars_final"),
    )
    out = (
        st0.join(F.broadcast(st1), "lang", "left")
        .join(F.broadcast(st2), "lang", "left")
        .join(F.broadcast(st3), "lang", "left")
        .join(F.broadcast(plan2.select("lang", "target_docs")), "lang", "left")
        .join(F.broadcast(st4), "lang", "left")
    )
    return out.select(
        "lang",
        "n_train",
        F.coalesce("n_after_dedup", F.lit(0)).cast("long").alias("n_after_dedup"),
        F.coalesce("n_after_decon", F.lit(0)).cast("long").alias("n_after_decon"),
        F.coalesce("n_after_length", F.lit(0)).cast("long").alias("n_after_length"),
        F.coalesce("target_docs", F.lit(0)).cast("long").alias("target_docs"),
        F.coalesce("n_final", F.lit(0)).cast("long").alias("n_final"),
        F.coalesce("chars_final", F.lit(0)).cast("long").alias("chars_final"),
        F.expr("coalesce(n_final, 0) * 1000000 div n_train")
        .cast("long")
        .alias("retained_ppm"),
    )


# ---------------------------------------------------------------------------
# L6s: WITHIN-corpus repeated-substring mining + surgery — the
# ExactSubstr rule (Lee et al., "Deduplicating Training Data Makes
# Language Models Better"): any token span repeated ANYWHERE in the
# corpus (across documents or within one) is a dedup target, over and
# above document-level (q40/q92) and source-template (q274) dedup.
# q281 prices the repeated mass per source; q282 prices the
# first-occurrence-keeper surgery. One shared pipeline (Spark helper
# + SQL CTE chain) feeds both so the repeat rule cannot fork.
# ---------------------------------------------------------------------------

_RSP_NGRAM = 8  # seed gram width (stands in for the paper's 50 tokens)
_RSP_MIN_OCC = 2  # a gram occurring this often anywhere is "repeated"


def _repeated_span_cte() -> str:
    """The shared WITH-chain from documents to repeated-gram hit
    positions (doc_id, source, n_toks, pos, width, first_doc), used
    verbatim by the q281 and q282 oracles."""
    return f"""
    g AS MATERIALIZED (
      -- n_toks > 0: empty/whitespace docs never seed grams (two blank
      -- docs would otherwise share the empty gram and count as
      -- "repeated" with zero-width spans) — packed_token_frame's
      -- convention
      SELECT doc_id, source, tk, len(tk) AS n_toks,
             {shingles_sql('tk', _RSP_NGRAM)} AS grams
      FROM (SELECT doc_id, source, {_TOK} AS tk FROM documents)
      WHERE len(tk) > 0
    ),
    occ AS MATERIALIZED (
      SELECT doc_id, source, n_toks,
             unnest(generate_series(1, len(grams))) - 1 AS pos,
             unnest(grams) AS gram
      FROM g
    ),
    rep AS (
      SELECT gram, CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM occ GROUP BY gram HAVING COUNT(*) >= {_RSP_MIN_OCC}
    ),
    hits AS (
      SELECT o.doc_id, o.source, o.n_toks, o.pos,
             least({_RSP_NGRAM}, o.n_toks) AS width, r.first_doc
      FROM occ o JOIN rep r ON r.gram = o.gram
    ),
    src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM g GROUP BY 1
    )"""


def _rsp_spans_sql(hit_rel: str, name: str) -> str:
    """Island-merge of a hit relation into per-doc spans (the q269
    lag + cumulative-island shape), parameterized so q281 (all hits)
    and q282 (cutting hits only) share one SQL formulation."""
    return f"""
    flagged_{name} AS (
      SELECT doc_id, source, n_toks, pos, width,
             CASE WHEN lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > width THEN 1 ELSE 0 END
               AS new_island
      FROM {hit_rel} WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    isl_{name} AS (
      SELECT doc_id, source, n_toks, pos, width,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos)
               AS island_id
      FROM flagged_{name}
    ),
    spans_{name} AS (
      SELECT doc_id, MAX(source) AS source, island_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(least(MAX(pos) + MAX(width), MAX(n_toks)) - 1 AS BIGINT)
               AS span_end
      FROM isl_{name} GROUP BY doc_id, island_id
    )"""


def _repeated_span_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The shared Spark pipeline: returns (src_totals, hits) where
    hits carries every repeated-gram position with its gram's
    first-occurrence document — the single implementation behind
    q281 and q282."""
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        ),
        "doc_id",
    )
    g = (
        docs.select("doc_id", "source", tokens("text").alias("tk"))
        .select(
            "doc_id",
            "source",
            F.size("tk").alias("n_toks"),
            shingles(F.col("tk"), _RSP_NGRAM).alias("grams"),
        )
        # empty docs never seed grams (the shared CTE's WHERE len(tk)>0
        # twin): two blank docs would share the empty gram and count as
        # "repeated" with zero-width spans
        .filter(F.col("n_toks") > 0)
    )
    occ = g.select(
        "doc_id",
        "source",
        "n_toks",
        F.posexplode("grams").alias("pos", "gram"),
    )
    # map-side-combined gram census; the repeated set is output-sized
    # (grams with >= 2 occurrences), never corpus-sized
    rep = (
        occ.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("occ_n"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("occ_n") >= _RSP_MIN_OCC)
        .select("gram", "first_doc")
    )
    hits = occ.join(rep, "gram").select(
        "doc_id",
        "source",
        "n_toks",
        "pos",
        F.least(F.lit(_RSP_NGRAM), F.col("n_toks")).alias("width"),
        "first_doc",
    )
    src = g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    return src, hits


def _rsp_spans(hits: DataFrame) -> DataFrame:
    """Spark twin of _rsp_spans_sql: merged (doc_id, source,
    span_start, span_end) islands from a hit frame."""
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "new_island",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") - F.lag("pos").over(w_doc) > F.col("width")),
            1,
        ).otherwise(0),
    ).withColumn("island_id", F.sum("new_island").over(w_doc))
    return isl.groupBy("doc_id", "island_id").agg(
        F.max("source").alias("source"),
        F.min("pos").cast("long").alias("span_start"),
        (
            F.least(F.max("pos") + F.max("width"), F.max("n_toks")) - 1
        )
        .cast("long")
        .alias("span_end"),
    )


@query(
    "q281_repeated_substring_pricing",
    oracle=f"""
    WITH {_repeated_span_cte()},
    {_rsp_spans_sql('hits', 'all')},
    per_src AS (
      SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_hit,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(span_end - span_start + 1) AS BIGINT)
               AS repeated_tokens
      FROM spans_all GROUP BY 1
    )
    SELECT s.source, s.n_docs, s.n_tokens,
           CAST(COALESCE(p.n_docs_hit, 0) AS BIGINT) AS n_docs_hit,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.repeated_tokens, 0) AS BIGINT)
             AS repeated_tokens,
           CAST(CASE WHEN s.n_tokens = 0 THEN 0
                     ELSE COALESCE(p.repeated_tokens, 0) * 1000000
                          // s.n_tokens END AS BIGINT) AS repeated_ppm
    FROM src s LEFT JOIN per_src p ON p.source = s.source
    """,
    tags=("curation", "dedup", "spans", "substring", "observability"),
)
def q281_repeated_substring_pricing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REPEATED-SUBSTRING PRICING (the ExactSubstr census, Lee et
    al.): every {_RSP_NGRAM}-token gram occurring >= {_RSP_MIN_OCC}
    times ANYWHERE in the corpus seeds a hit; per document, touching
    hits island-merge into maximal repeated spans (q269's machinery
    on a within-corpus rule instead of an eval set); per source, the
    report prices how much of the corpus is literally-repeated mass —
    the number that motivated suffix-array dedup in the first place.
    Catches what document-level dedup cannot: repeated passages
    embedded in otherwise-distinct documents (and repeats WITHIN one
    document — occurrence count, not distinct-doc count, defines
    "repeated"). Complements q274 (in-source template rule: df >= 3
    AND >= 5% of the source) with the corpus-wide any-repeat rule.

    Exactness: positions, widths, island ids, span ends (clamped to
    the doc), counts and ppm (zero-guarded) are pure integers; the
    whole-doc-shingle case rides width = least({_RSP_NGRAM}, n_toks).

    Scale: one posexplode pass + a map-side-combined gram census (the
    repeated set is output-sized); hits join gram-keyed (shuffle on
    both sides' gram key — never all-pairs, never quadratic: a
    degenerate hot gram adds occurrences linearly, since the census
    only carries (gram, first_doc)); island windows run on HIT rows
    only; the rollup is |sources|-sized.

    Cites reference behavior: none (beyond-reference operator).
    """
    src, hits = _repeated_span_frames(spark, sf_dir)
    spans = _rsp_spans(hits)
    per_src = spans.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_hit"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("repeated_tokens"),
    )
    return src.join(per_src, "source", "left").select(
        "source",
        "n_docs",
        "n_tokens",
        F.coalesce("n_docs_hit", F.lit(0)).cast("long").alias("n_docs_hit"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("repeated_tokens", F.lit(0))
        .cast("long")
        .alias("repeated_tokens"),
        F.expr(
            "case when n_tokens = 0 then 0"
            " else coalesce(repeated_tokens, 0) * 1000000"
            " div n_tokens end"
        )
        .cast("long")
        .alias("repeated_ppm"),
    )


@query(
    "q282_substring_surgery_pricing",
    oracle=f"""
    WITH {_repeated_span_cte()},
    cutting AS (
      SELECT doc_id, source, n_toks, pos, width
      FROM hits WHERE doc_id <> first_doc
    ),
    {_rsp_spans_sql('cutting', 'cut')},
    per_src AS (
      SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_cut,
             CAST(SUM(span_end - span_start + 1) AS BIGINT)
               AS tokens_cut
      FROM spans_cut GROUP BY 1
    )
    SELECT s.source, s.n_tokens AS tokens_before,
           CAST(COALESCE(p.n_docs_cut, 0) AS BIGINT) AS n_docs_cut,
           CAST(COALESCE(p.tokens_cut, 0) AS BIGINT) AS tokens_cut,
           CAST(s.n_tokens - COALESCE(p.tokens_cut, 0) AS BIGINT)
             AS tokens_after,
           CAST(CASE WHEN s.n_tokens = 0 THEN 0
                     ELSE COALESCE(p.tokens_cut, 0) * 1000000
                          // s.n_tokens END AS BIGINT) AS cut_ppm
    FROM src s LEFT JOIN per_src p ON p.source = s.source
    """,
    tags=("curation", "dedup", "spans", "substring"),
)
def q282_substring_surgery_pricing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SUBSTRING SURGERY PRICING — the keeper rule applied to q281's
    census: every repeated gram KEEPS its first-occurrence document
    (min doc_id) intact, and hit spans in every OTHER document are
    cut (the one-copy-survives discipline of exact-substring dedup,
    at document granularity so the rule is deterministic and
    engine-portable); per source, tokens before/cut/after and the cut
    ppm — the deletion budget a mixture designer subtracts BEFORE
    re-weighting sources (q281 prices gross repeated mass; this
    prices the net deletion once one copy is kept). Within-first-doc
    repeats survive by construction — the documented, deliberately
    conservative bound.

    Exactness: the keeper is MIN(doc_id) per gram (deterministic);
    cutting hits island-merge exactly as q281's spans; all integers,
    ppm zero-guarded.

    Scale: the same one-pass census + gram-keyed join as q281; the
    keeper filter is a column comparison on the hit row (no second
    join); windows on cut-hit rows only; |sources|-sized rollup.

    Cites reference behavior: none (beyond-reference operator).
    """
    src, hits = _repeated_span_frames(spark, sf_dir)
    cutting = hits.filter(F.col("doc_id") != F.col("first_doc"))
    spans = _rsp_spans(cutting)
    per_src = spans.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs_cut"),
        F.sum(F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("tokens_cut"),
    )
    return src.join(per_src, "source", "left").select(
        "source",
        F.col("n_tokens").alias("tokens_before"),
        F.coalesce("n_docs_cut", F.lit(0)).cast("long").alias("n_docs_cut"),
        F.coalesce("tokens_cut", F.lit(0)).cast("long").alias("tokens_cut"),
        (F.col("n_tokens") - F.coalesce("tokens_cut", F.lit(0)))
        .cast("long")
        .alias("tokens_after"),
        F.expr(
            "case when n_tokens = 0 then 0"
            " else coalesce(tokens_cut, 0) * 1000000 div n_tokens end"
        )
        .cast("long")
        .alias("cut_ppm"),
    )


# ---------------------------------------------------------------------------
# L6t: exact score-percentile normalization (the feature-normalization
# step before any threshold-based selection: "keep the top 12%" needs
# every document's exact global percentile, not an approximation)
# ---------------------------------------------------------------------------


@query(
    "q284_score_percentiles",
    oracle="""
    WITH s AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS score FROM documents
    ),
    r AS (
      SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
               AS rnk,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM s
    )
    SELECT doc_id, score, rnk,
           CAST((rnk - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT)
             AS pct_ppm
    FROM r
    """,
    tags=("curation", "normalization", "prefix-sum", "window"),
)
def q284_score_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global percentile (ppm) of every document's quality score
    (n_chars stands in): pct = (rank-1) / (n-1) — the normalization
    that makes selection thresholds portable across corpora ("keep
    docs above the 88th percentile" survives a re-crawl; a raw score
    cutoff does not) and the exact twin every sampled-quantile
    selector (q117/q150's refinement) is audited against.

    Scale: the global rank is ``banded_cumsum`` with weight 1
    (operators/prefix.py — banded two-level prefix sum, never the
    oracle's single-task window); n rides the kernel's band-total
    frame, and the ppm arithmetic is map-side integer division.
    Output is |docs| rows — this is a per-document feature, meant to
    be written next to the corpus.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("score")
    )
    ranked = banded_cumsum(
        docs,
        F.lit(1),
        "score",
        "rnk",
        tie_col="doc_id",
        total_col="n",
    )
    return ranked.select(
        "doc_id",
        "score",
        F.col("rnk").cast("long").alias("rnk"),
        F.expr("(rnk - 1) * 1000000 div greatest(n - 1, 1)")
        .cast("long")
        .alias("pct_ppm"),
    )


# ---------------------------------------------------------------------------
# L6x: DSIR — data selection via importance resampling (hashed n-grams)
# ---------------------------------------------------------------------------

# Hashed feature buckets (Xie et al. 2023 use 10k; the model is B rows
# regardless of corpus size — metadata scale, broadcast back to score).
DSIR_B = 1024
# Target-domain slice the selection steers toward: the '{lang}' docs
# stand in for the high-quality target corpus.
DSIR_TGT_LANG = "en"


def _dsir_gram_frame(d: DataFrame) -> DataFrame:
    """(doc_id, lang, source, n_toks, bucket) — one row per word-BIGRAM
    occurrence, bucket = portable md5 hash of the gram mod {DSIR_B}.
    Shared by the model-fit pass and the scoring pass."""
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.size("toks").cast("long").alias("n_toks"),
        F.explode(shingles(F.col("toks"), 2)).alias("gram"),
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_toks",
        (md5_hash32("gram") % DSIR_B).alias("bucket"),
    )


# The shared WITH-chain both DSIR oracles build on: token frame ->
# gram/bucket rows -> B-row model -> smoothed integer ratio table ->
# per-doc integer scores.
_DSIR_SCORES_SQL = f"""
    d AS (
      SELECT doc_id, lang, source, {_TOK} AS toks
      FROM documents WHERE len({_TOK}) > 0
    ),
    gb AS (
      SELECT doc_id, lang, source, len(toks) AS n_toks,
             {md5_hash32_sql('gram')} % {DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, source, toks,
                   unnest({shingles_sql('toks', 2)}) AS gram FROM d)
    ),
    model AS (
      SELECT bucket,
             CAST(COUNT(*) AS HUGEINT) AS cnt_r,
             CAST(SUM(CASE WHEN lang = '{DSIR_TGT_LANG}' THEN 1 ELSE 0 END)
                  AS HUGEINT) AS cnt_t
      FROM gb GROUP BY bucket
    ),
    tot AS (SELECT SUM(cnt_r) AS tot_r, SUM(cnt_t) AS tot_t FROM model),
    ratio AS (
      SELECT bucket,
             CAST((cnt_t + 1) * (tot_r + {DSIR_B}) * 1000000
                  // ((cnt_r + 1) * (tot_t + {DSIR_B})) AS BIGINT) AS r_ppm
      FROM model, tot
    ),
    scores AS (
      SELECT doc_id, source, n_toks,
             CAST(SUM(CAST(r_ppm AS HUGEINT)) // COUNT(*) AS BIGINT)
                 AS score_ppm
      FROM gb JOIN ratio USING (bucket)
      GROUP BY doc_id, source, n_toks
    )
"""


def dsir_doc_scores(
    spark: SparkSession, sf_dir: str, d: DataFrame | None = None
) -> DataFrame:
    """(doc_id, source, n_toks, score_ppm) — the DSIR importance
    score for every non-empty document (integer mean smoothed
    target/raw bucket ratio over the doc's gram occurrences; > 1e6 =
    more target-like than the raw pool). The Spark twin of
    _DSIR_SCORES_SQL, shared by q290 (selection table) and q294
    (mixture shift).

    `d` lets a composing query (q300) hand in its own materialized
    (doc_id, lang, source, toks) frame so the corpus is tokenized
    once for the whole composition instead of once per stage.

    Plan: one lazily checkpointed token frame feeds both gram passes;
    the {DSIR_B}-row model and the 1-row totals are broadcast; the
    per-doc aggregation is the only corpus-sized shuffle."""
    if d is None:
        d = (
            fan_out(
                load_table(spark, sf_dir, "documents").select(
                    "doc_id", "lang", "source", "text"
                ),
                "doc_id",
            )
            .select(
                "doc_id", "lang", "source", tokens("text").alias("toks")
            )
            .filter(F.size("toks") > 0)
            # consumed by model fit AND scoring
            .localCheckpoint(eager=False)
        )
    gb = _dsir_gram_frame(d)
    model = gb.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt_r"),
        F.sum(
            F.when(F.col("lang") == DSIR_TGT_LANG, 1).otherwise(0)
        ).cast("decimal(38,0)").alias("cnt_t"),
    )
    tot = model.agg(
        F.sum("cnt_r").alias("tot_r"), F.sum("cnt_t").alias("tot_t")
    )
    ratio = model.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"CAST((cnt_t + 1) * (tot_r + {DSIR_B}) * 1000000"
            f" div ((cnt_r + 1) * (tot_t + {DSIR_B})) AS BIGINT)"
        ).alias("r_ppm"),
    )
    return (
        _dsir_gram_frame(d)
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id", "source", "n_toks")
        .agg(
            F.sum(F.col("r_ppm").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.expr("CAST(s div c AS BIGINT)").alias("score_ppm"),
        )
    )


@query(
    "q290_dsir_importance",
    oracle=f"""
    WITH {_DSIR_SCORES_SQL}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(score_ppm AS HUGEINT)) // COUNT(*) AS BIGINT)
               AS mean_score_ppm,
           CAST(SUM(CASE WHEN score_ppm > 1000000 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN score_ppm > 1000000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS sel_ppm,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN score_ppm > 1000000 THEN n_toks ELSE 0 END)
               AS BIGINT) AS selected_tokens
    FROM scores GROUP BY source
    """,
    tags=("curation", "dsir", "selection"),
)
def q290_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023) with the
    log-likelihood ratio made ENGINE-EXACT: features are hashed word
    bigrams ({DSIR_B} buckets, portable md5); the bag-of-grams target
    model is fit on the '{DSIR_TGT_LANG}' slice, the raw model on the
    whole corpus; each bucket's add-1-smoothed target/raw probability
    ratio is an INTEGER ppm (cross-multiplied — no log, no float sum,
    so Spark and the oracle agree bit-for-bit); a document's
    importance score is the integer mean ratio over its gram
    occurrences, and score_ppm > 1e6 means "more target-like than the
    raw pool". Output is the per-source selection table a mixture
    re-weighting run reads: doc counts, mean score, selected share,
    and the token mass the selection keeps.

    Scale: the model is a {DSIR_B}-row map-side-combined aggregation
    (never corpus-sized); the 1-row totals and the ratio table are
    broadcast, so scoring is one map-side join plus one |docs|-sized
    partial-agg shuffle; the result is |sources| rows. At 100 TB the
    only corpus-sized stages are the two gram passes over a lazily
    checkpointed token frame. No reference analog (beyond-reference
    operator)."""
    scores = dsir_doc_scores(spark, sf_dir)
    sel = F.col("score_ppm") > 1000000
    return scores.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(SUM(CAST(score_ppm AS DECIMAL(38,0)))"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_score_ppm"),
        F.sum(F.when(sel, 1).otherwise(0)).cast("long").alias("n_selected"),
        F.expr(
            "CAST(SUM(CASE WHEN score_ppm > 1000000 THEN 1 ELSE 0 END)"
            " * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("sel_ppm"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum(F.when(sel, F.col("n_toks")).otherwise(0))
        .cast("long")
        .alias("selected_tokens"),
    )


@query(
    "q294_dsir_mixture_shift",
    oracle=f"""
    WITH {_DSIR_SCORES_SQL},
    per_src AS (
      SELECT source,
             CAST(SUM(n_toks) AS HUGEINT) AS raw_tokens,
             CAST(SUM(CASE WHEN score_ppm > 1000000 THEN n_toks ELSE 0 END)
                 AS HUGEINT) AS sel_tokens
      FROM scores GROUP BY source
    ),
    t AS (SELECT SUM(raw_tokens) AS tot_raw,
                 greatest(SUM(sel_tokens), 1) AS tot_sel FROM per_src)
    SELECT source,
           CAST(raw_tokens AS BIGINT) AS raw_tokens,
           CAST(sel_tokens AS BIGINT) AS sel_tokens,
           CAST(raw_tokens * 1000000 // tot_raw AS BIGINT)
               AS raw_share_ppm,
           CAST(sel_tokens * 1000000 // tot_sel AS BIGINT)
               AS sel_share_ppm,
           CAST(abs(sel_tokens * 1000000 // tot_sel
                    - raw_tokens * 1000000 // tot_raw) AS BIGINT)
               AS shift_ppm
    FROM per_src, t
    """,
    tags=("curation", "dsir", "mixing", "drift"),
)
def q294_dsir_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR x mixture interaction — the q263-class distribution shift
    DSIR selection induces, priced BEFORE committing to the selected
    corpus: per source, the token share of the RAW pool vs the share
    of the DSIR-SELECTED subset (score_ppm > 1e6) and the absolute
    shift in ppm. Importance resampling silently reweights the source
    mixture (sources resembling the target gain share); next to
    q290's selection table this is the re-balancing input a mixture
    planner (q256/q259) needs.

    Scale: rides dsir_doc_scores (model broadcast, one |docs|
    shuffle); the share table is |sources| rows and the totals are a
    broadcast 1-row attach. HUGEINT/DECIMAL through the *1e6 products
    so 100 TB token sums cannot overflow."""
    scores = dsir_doc_scores(spark, sf_dir)
    per_src = scores.groupBy("source").agg(
        F.sum(F.col("n_toks").cast("decimal(38,0)")).alias("raw_tokens"),
        F.sum(
            F.when(F.col("score_ppm") > 1000000, F.col("n_toks"))
            .otherwise(0)
            .cast("decimal(38,0)")
        ).alias("sel_tokens"),
    )
    # the share totals are windows over the |sources| frame (bounded —
    # GLOBAL_WINDOW_BOUNDS waiver), so the corpus-sized scores
    # pipeline is evaluated exactly once and stays visible to the
    # plan audit (a lazy checkpoint here would truncate the audited
    # lineage to the 20-row tail)
    shares = per_src.select(
        "source",
        "raw_tokens",
        "sel_tokens",
        F.expr(
            "CAST(raw_tokens * 1000000"
            " div SUM(raw_tokens) OVER () AS BIGINT)"
        ).alias("raw_share_ppm"),
        F.expr(
            "CAST(sel_tokens * 1000000 div greatest("
            "SUM(sel_tokens) OVER (), CAST(1 AS DECIMAL(38,0)))"
            " AS BIGINT)"
        ).alias("sel_share_ppm"),
    )
    return shares.select(
        "source",
        F.col("raw_tokens").cast("long").alias("raw_tokens"),
        F.col("sel_tokens").cast("long").alias("sel_tokens"),
        "raw_share_ppm",
        "sel_share_ppm",
        F.abs(F.col("sel_share_ppm") - F.col("raw_share_ppm")).alias(
            "shift_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# L6y: PII scan + redaction pricing — the release-gate scrub audit
# ---------------------------------------------------------------------------

# Patterns kept inside the RE2 <-> java.util.regex common dialect
# (character classes, bounded repeats, ASCII \b) so Spark and the
# DuckDB oracle compile the SAME regex semantics.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# The synthetic corpus carries no digits or @, so the PII surface is a
# deterministic render: doc_id-rule slices get a contact line appended
# (the same expression in both engines — the R9 typed-injection
# pattern). ~1/7 email, ~1/11 phone, ~1/13 ipv4.
_PII_RENDER_SQL = """
    text
    || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
            || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' host 10.'
            || CAST(doc_id % 256 AS VARCHAR) || '.'
            || CAST((doc_id // 256) % 256 AS VARCHAR) || '.'
            || CAST((doc_id // 65536) % 256 AS VARCHAR) ELSE '' END
"""


def pii_rendered_col() -> Column:
    """The deterministic PII render (doc_id-rule contact lines
    appended to `text`) as a Spark Column — the Spark-expression twin
    of _PII_RENDER_SQL, shared by the batch audit and the streaming
    ledger twin so the two scan the same surface."""
    seven = F.col("doc_id") % 7 == 0
    eleven = F.col("doc_id") % 11 == 0
    thirteen = F.col("doc_id") % 13 == 0
    return F.concat(
        F.col("text"),
        F.when(
            seven,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            eleven,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            thirteen,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                F.expr("CAST((doc_id div 256) % 256 AS STRING)"),
                F.lit("."),
                F.expr("CAST((doc_id div 65536) % 256 AS STRING)"),
            ),
        ).otherwise(F.lit("")),
    )


def pii_class_rows(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Per-document per-class PII scan stats — 3 rows per input doc:
    (pii_class, n_matches, match_chars, residual[, *extra_cols]),
    where residual is the match count on the redacted text (scan and
    scrub share one pattern table). Entirely map-side (stateless
    projections), so it is usable on both batch and streaming frames.

    `docs` needs (doc_id, text); `extra_cols` pass through."""
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("rendered"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IPV4,
        "<IP>",
    )
    chars = {
        name: F.expr(
            f"CAST(aggregate(transform({name},"
            " x -> CAST(length(x) AS BIGINT)), 0L, (a, x) -> a + x)"
            " AS BIGINT)"
        )
        for name in ("em", "ph", "ip")
    }
    pats = {"em": _PII_EMAIL, "ph": _PII_PHONE, "ip": _PII_IPV4}
    return (
        docs.select(
            *extra_cols, "doc_id", pii_rendered_col().alias("rendered")
        )
        .select(
            *extra_cols,
            F.regexp_extract_all(
                F.col("rendered"), F.lit(_PII_EMAIL), 0
            ).alias("em"),
            F.regexp_extract_all(
                F.col("rendered"), F.lit(_PII_PHONE), 0
            ).alias("ph"),
            F.regexp_extract_all(
                F.col("rendered"), F.lit(_PII_IPV4), 0
            ).alias("ip"),
            red.alias("redacted"),
        )
        .select(
            *extra_cols,
            F.expr(
                "stack(3, 'email', CAST(size(em) AS BIGINT),"
                " 'phone', CAST(size(ph) AS BIGINT),"
                " 'ipv4', CAST(size(ip) AS BIGINT))"
                " AS (pii_class, n_matches)"
            ),
            chars["em"].alias("c_em"),
            chars["ph"].alias("c_ph"),
            chars["ip"].alias("c_ip"),
            "redacted",
        )
        .select(
            *extra_cols,
            "pii_class",
            "n_matches",
            F.when(F.col("pii_class") == "email", F.col("c_em"))
            .when(F.col("pii_class") == "phone", F.col("c_ph"))
            .otherwise(F.col("c_ip"))
            .alias("match_chars"),
            F.when(
                F.col("pii_class") == "email",
                F.size(
                    F.regexp_extract_all(
                        F.col("redacted"), F.lit(pats["em"]), 0
                    )
                ),
            )
            .when(
                F.col("pii_class") == "phone",
                F.size(
                    F.regexp_extract_all(
                        F.col("redacted"), F.lit(pats["ph"]), 0
                    )
                ),
            )
            .otherwise(
                F.size(
                    F.regexp_extract_all(
                        F.col("redacted"), F.lit(pats["ip"]), 0
                    )
                )
            )
            .cast("long")
            .alias("residual"),
        )
    )


@query(
    "q291_pii_redaction_pricing",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, {_PII_RENDER_SQL} AS rendered FROM documents
    ),
    m AS (
      SELECT doc_id,
             regexp_extract_all(rendered, '{_PII_EMAIL}') AS em,
             regexp_extract_all(rendered, '{_PII_PHONE}') AS ph,
             regexp_extract_all(rendered, '{_PII_IPV4}') AS ip,
             regexp_replace(regexp_replace(regexp_replace(rendered,
                 '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_PHONE}', '<PHONE>', 'g'),
                 '{_PII_IPV4}', '<IP>', 'g') AS redacted
      FROM r
    ),
    u AS (
      SELECT 'email' AS pii_class, em AS matches,
             len(regexp_extract_all(redacted, '{_PII_EMAIL}')) AS residual
      FROM m
      UNION ALL
      SELECT 'phone', ph,
             len(regexp_extract_all(redacted, '{_PII_PHONE}')) FROM m
      UNION ALL
      SELECT 'ipv4', ip,
             len(regexp_extract_all(redacted, '{_PII_IPV4}')) FROM m
    )
    SELECT pii_class,
           CAST(SUM(CASE WHEN len(matches) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs_hit,
           CAST(SUM(len(matches)) AS BIGINT) AS total_matches,
           CAST(SUM(COALESCE(list_sum(
               list_transform(matches, x -> length(x))), 0))
               AS BIGINT) AS matched_chars,
           CAST(SUM(CASE WHEN len(matches) > 0 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS hit_doc_ppm,
           CAST(SUM(residual) AS BIGINT) AS residual_matches
    FROM u GROUP BY pii_class
    """,
    tags=("curation", "pii", "regex", "release"),
)
def q291_pii_redaction_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan -> redact -> verify, priced per class — the scrub
    audit a release gate (q271's funnel) runs before publishing a
    corpus: per pattern class (email / phone / ipv4-literal) the doc
    hit rate, match and char volume (the redaction's byte cost), and
    the RESIDUAL match count on the redacted text — the invariant
    column: 0 means the scrub actually removed what the scan found
    (scan and scrub share one pattern table, so they cannot drift).

    The synthetic corpus has no natural PII, so a deterministic
    doc_id-rule render injects contact lines identically in both
    engines (the R9 typed-injection pattern); the operator under test
    is the scan/redact kernel, not the injection. Patterns stay in
    the RE2<->java.util.regex common dialect.

    Scale: one map-side regex pass per document (no joins, no
    windows); the stack() unpivot keeps one tokenization of the
    3x|docs| class rows, map-side combined into 3 output rows. At
    100 TB this is embarrassingly parallel scan work; the *1e6 ppm
    products go through DECIMAL(38,0) so doc counts past 9e12 cannot
    overflow."""
    m = pii_class_rows(
        fan_out(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
    )
    return m.groupBy("pii_class").agg(
        F.sum(F.when(F.col("n_matches") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_hit"),
        F.sum("n_matches").cast("long").alias("total_matches"),
        F.sum("match_chars").cast("long").alias("matched_chars"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000 div COUNT(*) AS BIGINT)"
        ).alias("hit_doc_ppm"),
        F.sum("residual").cast("long").alias("residual_matches"),
    )


# ---------------------------------------------------------------------------
# L6z: quality-filter agreement — the filter-ensemble redundancy audit
# ---------------------------------------------------------------------------

# Four self-contained map-side quality signals (integer cross-
# multiplied thresholds — no float ratios), deliberately simple
# single-pass versions of the repo's filter families:
#   len:  20 <= n_toks <= 2000            (q258's cutoff family)
#   uniq: distinct/total tokens >= 0.5    (q54's unique-ratio family)
#   rep:  distinct/total bigrams >= 0.9   (q103's repetition family)
#   stop: stopword token share >= 0.05    (q54's stopword family)
_FA_STOPWORDS = ("the", "a", "of", "and", "in")
_FA_STOP_SQL = "['" + "', '".join(_FA_STOPWORDS) + "']"


def filter_flags(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Per-document 0/1 flags for the four single-pass quality
    signals (integer cross-multiplied thresholds — no float ratios):
    (f_len, f_uniq, f_rep, f_stop[, *extra_cols]). Entirely map-side
    (stateless projections), so it is usable on both batch and
    streaming frames; shared by q295 and the streaming agreement
    ledger so the two surfaces cannot drift.

    `docs` needs a `text` column — or a pre-tokenized `toks` column
    (reused as-is, so a composing query's materialized token frame is
    not re-tokenized); `extra_cols` pass through."""
    base = (
        docs.select(*extra_cols, "toks")
        if "toks" in docs.columns
        else docs.select(*extra_cols, tokens("text").alias("toks"))
    )
    return (
        base.filter(F.size("toks") > 0)
        # materialize the shingle array once (textfuncs.shingles'
        # performance contract) before sizing it two ways
        .select(*extra_cols, "toks", shingles(F.col("toks"), 2).alias("bg"))
        .select(
            *extra_cols,
            F.size("toks").alias("n_toks"),
            F.size(F.array_distinct("toks")).alias("uniq"),
            F.size("bg").alias("n_bg"),
            F.size(F.array_distinct("bg")).alias("u_bg"),
            F.size(
                F.filter(
                    F.col("toks"), lambda x: x.isin(*_FA_STOPWORDS)
                )
            ).alias("stop_cnt"),
        )
        .select(
            *extra_cols,
            F.expr(
                "CASE WHEN n_toks BETWEEN 20 AND 2000 THEN 1 ELSE 0 END"
            ).alias("f_len"),
            F.expr(
                "CASE WHEN uniq * 2 >= n_toks THEN 1 ELSE 0 END"
            ).alias("f_uniq"),
            F.expr(
                "CASE WHEN u_bg * 10 >= n_bg * 9 THEN 1 ELSE 0 END"
            ).alias("f_rep"),
            F.expr(
                "CASE WHEN stop_cnt * 20 >= n_toks THEN 1 ELSE 0 END"
            ).alias("f_stop"),
        )
    )


@query(
    "q295_filter_agreement",
    oracle=f"""
    WITH d AS (
      SELECT {_TOK} AS toks FROM documents WHERE len({_TOK}) > 0
    ),
    f AS (
      SELECT len(toks) AS n_toks,
             len(list_distinct(toks)) AS uniq,
             len({shingles_sql('toks', 2)}) AS n_bg,
             len(list_distinct({shingles_sql('toks', 2)})) AS u_bg,
             len(list_filter(toks,
                 x -> list_contains({_FA_STOP_SQL}, x))) AS stop_cnt
      FROM d
    ),
    fl AS (
      SELECT CASE WHEN n_toks BETWEEN 20 AND 2000 THEN 1 ELSE 0 END AS f_len,
             CASE WHEN uniq * 2 >= n_toks THEN 1 ELSE 0 END AS f_uniq,
             CASE WHEN u_bg * 10 >= n_bg * 9 THEN 1 ELSE 0 END AS f_rep,
             CASE WHEN stop_cnt * 20 >= n_toks THEN 1 ELSE 0 END AS f_stop
      FROM f
    ),
    a AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(f_len) AS HUGEINT) AS c_len,
             CAST(SUM(f_uniq) AS HUGEINT) AS c_uniq,
             CAST(SUM(f_rep) AS HUGEINT) AS c_rep,
             CAST(SUM(f_stop) AS HUGEINT) AS c_stop,
             CAST(SUM(f_len * f_uniq) AS HUGEINT) AS b_lu,
             CAST(SUM(f_len * f_rep) AS HUGEINT) AS b_lr,
             CAST(SUM(f_len * f_stop) AS HUGEINT) AS b_ls,
             CAST(SUM(f_uniq * f_rep) AS HUGEINT) AS b_ur,
             CAST(SUM(f_uniq * f_stop) AS HUGEINT) AS b_us,
             CAST(SUM(f_rep * f_stop) AS HUGEINT) AS b_rs
      FROM fl
    ),
    pairs AS (
      SELECT 'len' AS filter_a, 'uniq' AS filter_b, n, c_len AS ca, c_uniq AS cb, b_lu AS nb FROM a
      UNION ALL SELECT 'len', 'rep', n, c_len, c_rep, b_lr FROM a
      UNION ALL SELECT 'len', 'stop', n, c_len, c_stop, b_ls FROM a
      UNION ALL SELECT 'uniq', 'rep', n, c_uniq, c_rep, b_ur FROM a
      UNION ALL SELECT 'uniq', 'stop', n, c_uniq, c_stop, b_us FROM a
      UNION ALL SELECT 'rep', 'stop', n, c_rep, c_stop, b_rs FROM a
    )
    SELECT filter_a, filter_b,
           CAST(nb AS BIGINT) AS n_both,
           CAST(ca - nb AS BIGINT) AS n_only_a,
           CAST(cb - nb AS BIGINT) AS n_only_b,
           CAST(n - ca - cb + nb AS BIGINT) AS n_neither,
           CAST((nb + n - ca - cb + nb) * 1000000 // n AS BIGINT)
               AS agree_ppm,
           CAST(CASE
             WHEN n * (2 * nb + n - ca - cb)
                  - (ca * cb + (n - ca) * (n - cb)) < 0
             THEN -((1000000 * ((ca * cb + (n - ca) * (n - cb))
                     - n * (2 * nb + n - ca - cb)))
                    // greatest(n * n - (ca * cb + (n - ca) * (n - cb)), 1))
             ELSE (1000000 * (n * (2 * nb + n - ca - cb)
                     - (ca * cb + (n - ca) * (n - cb))))
                  // greatest(n * n - (ca * cb + (n - ca) * (n - cb)), 1)
           END AS BIGINT) AS kappa_ppm
    FROM pairs
    """,
    tags=("curation", "quality", "ensemble"),
)
def q295_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ENSEMBLE agreement — the redundancy audit a
    curation pipeline runs before paying for four filters when two
    would do: for every pair of quality signals (length window,
    unique-token ratio, bigram-repetition, stopword share) the
    confusion quadrant (both / only-a / only-b / neither), raw
    agreement, and Cohen's kappa — chance-corrected agreement — in
    ppm. Kappa is computed from the exact integer identity
    kappa = (n*(agree) - (ca*cb + (n-ca)*(n-cb)))
          / (n^2 - (ca*cb + (n-ca)*(n-cb)))
    with sign-handled integer division (both engines truncate the
    positive quotient, so negative kappas divide as negated
    positives — engine-exact, no floats anywhere).

    High kappa = redundant filters (drop one); near-zero = independent
    signals (keep both); negative = systematically disagreeing
    thresholds (recalibrate). Scale: ONE map-side pass computes all
    four flags per doc, one 1-row aggregation carries every pairwise
    count, and the 6-row pair table is pure arithmetic on that row —
    no joins, no windows, nothing downstream is corpus-sized."""
    d = filter_flags(
        fan_out(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
    )
    dec = "decimal(38,0)"
    a = d.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("f_len").cast(dec).alias("c_len"),
        F.sum("f_uniq").cast(dec).alias("c_uniq"),
        F.sum("f_rep").cast(dec).alias("c_rep"),
        F.sum("f_stop").cast(dec).alias("c_stop"),
        F.sum(F.col("f_len") * F.col("f_uniq")).cast(dec).alias("b_lu"),
        F.sum(F.col("f_len") * F.col("f_rep")).cast(dec).alias("b_lr"),
        F.sum(F.col("f_len") * F.col("f_stop")).cast(dec).alias("b_ls"),
        F.sum(F.col("f_uniq") * F.col("f_rep")).cast(dec).alias("b_ur"),
        F.sum(F.col("f_uniq") * F.col("f_stop")).cast(dec).alias("b_us"),
        F.sum(F.col("f_rep") * F.col("f_stop")).cast(dec).alias("b_rs"),
    )
    pairs = a.select(
        F.expr(
            "stack(6,"
            " 'len', 'uniq', c_len, c_uniq, b_lu,"
            " 'len', 'rep', c_len, c_rep, b_lr,"
            " 'len', 'stop', c_len, c_stop, b_ls,"
            " 'uniq', 'rep', c_uniq, c_rep, b_ur,"
            " 'uniq', 'stop', c_uniq, c_stop, b_us,"
            " 'rep', 'stop', c_rep, c_stop, b_rs)"
            " AS (filter_a, filter_b, ca, cb, nb)"
        ),
        "n",
    )
    pe = "(ca * cb + (n - ca) * (n - cb))"
    num = f"(n * (2 * nb + n - ca - cb) - {pe})"
    den = f"greatest(n * n - {pe}, CAST(1 AS DECIMAL(38,0)))"
    return pairs.select(
        "filter_a",
        "filter_b",
        F.col("nb").cast("long").alias("n_both"),
        F.expr("CAST(ca - nb AS BIGINT)").alias("n_only_a"),
        F.expr("CAST(cb - nb AS BIGINT)").alias("n_only_b"),
        F.expr("CAST(n - ca - cb + nb AS BIGINT)").alias("n_neither"),
        F.expr(
            "CAST((nb + n - ca - cb + nb) * 1000000 div n AS BIGINT)"
        ).alias("agree_ppm"),
        F.expr(
            f"CAST(CASE WHEN {num} < 0"
            f" THEN -((1000000 * (-{num})) div {den})"
            f" ELSE (1000000 * {num}) div {den} END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# L6x2: DSIR model stability — importance ratios fit on disjoint halves
# ---------------------------------------------------------------------------

_DSIR_DRIFT_TOPK = 20


def _dsir_half_model_sql(parity: int) -> str:
    """The ratio CTE body fit on the doc_id-parity half (DuckDB)."""
    return f"""
      SELECT bucket,
             CAST((cnt_t + 1) * (tot_r + {DSIR_B}) * 1000000
                  // ((cnt_r + 1) * (tot_t + {DSIR_B})) AS BIGINT) AS r_ppm
      FROM (
        SELECT bucket,
               CAST(COUNT(*) AS HUGEINT) AS cnt_r,
               CAST(SUM(CASE WHEN lang = '{DSIR_TGT_LANG}' THEN 1 ELSE 0
                   END) AS HUGEINT) AS cnt_t
        FROM gb WHERE doc_id % 2 = {parity} GROUP BY bucket
      ) m, (
        SELECT CAST(COUNT(*) AS HUGEINT) AS tot_r,
               CAST(SUM(CASE WHEN lang = '{DSIR_TGT_LANG}' THEN 1 ELSE 0
                   END) AS HUGEINT) AS tot_t
        FROM gb WHERE doc_id % 2 = {parity}
      ) t
    """


@query(
    "q296_dsir_model_drift",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, source, {_TOK} AS toks
      FROM documents WHERE len({_TOK}) > 0
    ),
    gb AS (
      SELECT doc_id, lang, {md5_hash32_sql('gram')} % {DSIR_B} AS bucket
      FROM (SELECT doc_id, lang, toks,
                   unnest({shingles_sql('toks', 2)}) AS gram FROM d)
    ),
    ra AS ({_dsir_half_model_sql(0)}),
    rb AS ({_dsir_half_model_sql(1)})
    SELECT bucket,
           ra.r_ppm AS even_r_ppm,
           rb.r_ppm AS odd_r_ppm,
           abs(ra.r_ppm - rb.r_ppm) AS drift_ppm
    FROM ra JOIN rb USING (bucket)
    ORDER BY drift_ppm DESC, bucket ASC LIMIT {_DSIR_DRIFT_TOPK}
    """,
    tags=("curation", "dsir", "drift"),
)
def q296_dsir_model_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR model STABILITY audit — the staleness question every
    importance-resampling deployment has to answer before reusing a
    fitted model on new data: fit the hashed-bigram ratio table
    independently on the two doc_id-parity halves of the corpus and
    rank buckets by the disagreement of their importance ratios
    (|r_even - r_odd| in ppm, exact integers). Small drift across
    random halves = the model is sample-stable at this corpus size;
    large drift concentrated in a few buckets = those features are
    undersampled and the smoothing constant (or bucket count) needs
    revisiting. Top-{_DSIR_DRIFT_TOPK} drifted buckets, deterministic
    tiebreak on bucket id.

    Scale: ONE gram pass collapses straight into ONE map-side-combined
    (parity, bucket) aggregation (<= 2x{DSIR_B} rows, eagerly
    checkpointed); each half-model is a filter of that frame and its
    totals are column sums of the SAME rows (a corpus-sized gram
    frame is never read twice, let alone four times); the join and
    the top-k run on {DSIR_B}-row frames (TakeOrderedAndProject,
    never a global sort)."""
    d = (
        fan_out(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "lang", "text"
            ),
            "doc_id",
        )
        .select("doc_id", "lang", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
    )
    gb = d.select(
        "doc_id",
        "lang",
        F.explode(shingles(F.col("toks"), 2)).alias("gram"),
    ).select(
        (F.col("doc_id") % 2).alias("parity"),
        "lang",
        (md5_hash32("gram") % DSIR_B).alias("bucket"),
    )
    mc = (
        gb.groupBy("parity", "bucket")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt_r"),
            F.sum(
                F.when(F.col("lang") == DSIR_TGT_LANG, 1).otherwise(0)
            ).cast("decimal(38,0)").alias("cnt_t"),
        )
        .localCheckpoint(eager=True)  # <= 2x{DSIR_B} rows
    )

    def half_ratio(parity: int, out: str) -> DataFrame:
        m = mc.filter(F.col("parity") == parity)
        t = m.agg(
            F.sum("cnt_r").cast("decimal(38,0)").alias("tot_r"),
            F.sum("cnt_t").cast("decimal(38,0)").alias("tot_t"),
        )
        return m.crossJoin(F.broadcast(t)).select(
            "bucket",
            F.expr(
                f"CAST((cnt_t + 1) * (tot_r + {DSIR_B}) * 1000000"
                f" div ((cnt_r + 1) * (tot_t + {DSIR_B})) AS BIGINT)"
            ).alias(out),
        )

    ra = half_ratio(0, "even_r_ppm")
    rb = half_ratio(1, "odd_r_ppm")
    return (
        ra.join(rb, "bucket")
        .select(
            "bucket",
            "even_r_ppm",
            "odd_r_ppm",
            F.abs(F.col("even_r_ppm") - F.col("odd_r_ppm")).alias(
                "drift_ppm"
            ),
        )
        .orderBy(F.desc("drift_ppm"), F.asc("bucket"))
        .limit(_DSIR_DRIFT_TOPK)
    )


# ---------------------------------------------------------------------------
# L6w: release pipeline v2 — the round-11 operators composed into one
# auditable funnel (q271's shape, rebuilt from this round's stages)
# ---------------------------------------------------------------------------

_RP2_FLAGS_SQL = f"""
      SELECT doc_id,
             CASE WHEN len(regexp_extract_all({_PII_RENDER_SQL},
                      '{_PII_EMAIL}')) +
                   len(regexp_extract_all({_PII_RENDER_SQL},
                      '{_PII_PHONE}')) +
                   len(regexp_extract_all({_PII_RENDER_SQL},
                      '{_PII_IPV4}')) = 0
                  THEN 1 ELSE 0 END AS ok_pii,
             CASE WHEN len({_TOK}) BETWEEN 20 AND 2000
                   AND len(list_distinct({_TOK})) * 2 >= len({_TOK})
                   AND len(list_distinct({shingles_sql(_TOK, 2)})) * 10
                       >= len({shingles_sql(_TOK, 2)}) * 9
                   AND len(list_filter({_TOK},
                       x -> list_contains({_FA_STOP_SQL}, x))) * 20
                       >= len({_TOK})
                  THEN 1 ELSE 0 END AS ok_quality,
             len({_TOK}) AS n_toks,
             {md5_hash32_sql('text')} AS h
      FROM documents WHERE len({_TOK}) > 0
"""


@query(
    "q300_release_pipeline_v2",
    oracle=f"""
    WITH {_DSIR_SCORES_SQL},
    fl AS ({_RP2_FLAGS_SQL}),
    staged AS (
      SELECT fl.doc_id, fl.n_toks, fl.h,
             fl.ok_pii AS c1,
             fl.ok_pii * fl.ok_quality AS c2,
             fl.ok_pii * fl.ok_quality *
               CASE WHEN s.score_ppm > 1000000 THEN 1 ELSE 0 END AS c3
      FROM fl JOIN scores s ON fl.doc_id = s.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY h
                 ORDER BY CASE WHEN c3 = 1 THEN 0 ELSE 1 END, doc_id)
                 AS rn
      FROM staged
    ),
    a AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n0,
             CAST(SUM(n_toks) AS HUGEINT) AS t0,
             CAST(SUM(c1) AS HUGEINT) AS n1,
             CAST(SUM(c1 * n_toks) AS HUGEINT) AS t1,
             CAST(SUM(c2) AS HUGEINT) AS n2,
             CAST(SUM(c2 * n_toks) AS HUGEINT) AS t2,
             CAST(SUM(c3) AS HUGEINT) AS n3,
             CAST(SUM(c3 * n_toks) AS HUGEINT) AS t3,
             CAST(SUM(CASE WHEN c3 = 1 AND rn = 1 THEN 1 ELSE 0 END)
                 AS HUGEINT) AS n4,
             CAST(SUM(CASE WHEN c3 = 1 AND rn = 1 THEN n_toks ELSE 0
                 END) AS HUGEINT) AS t4
      FROM ranked
    ),
    p AS (
      SELECT 0 AS stage_id, 'raw' AS stage, n0 AS nd, t0 AS nt, n0, t0 FROM a
      UNION ALL SELECT 1, 'pii_clean', n1, t1, n0, t0 FROM a
      UNION ALL SELECT 2, 'quality_pass', n2, t2, n0, t0 FROM a
      UNION ALL SELECT 3, 'dsir_selected', n3, t3, n0, t0 FROM a
      UNION ALL SELECT 4, 'deduped', n4, t4, n0, t0 FROM a
    )
    SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
           CAST(nd AS BIGINT) AS n_docs,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(nd * 1000000 // greatest(n0, 1) AS BIGINT) AS doc_keep_ppm,
           CAST(nt * 1000000 // greatest(t0, 1) AS BIGINT)
               AS token_keep_ppm
    FROM p
    """,
    tags=("curation", "release", "funnel", "dsir", "pii"),
)
def q300_release_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELEASE PIPELINE v2 — this round's operators composed into one
    auditable funnel (q271's shape, rebuilt from the new stages):
    raw -> drop docs with ANY PII hit (q291's conservative policy) ->
    keep docs passing ALL four quality signals (q295's flag kernel)
    -> keep DSIR-selected docs (q290, score > 1e6) -> exact dedup
    keep-first among survivors. Per stage: docs, tokens, and keep
    rates vs raw in ppm — the one-page answer to "what does this
    release recipe cost in data", with every stage individually
    auditable by its own query.

    Exactness: stage flags are cumulative products computed per doc
    in one frame; the dedup survivor is row_number over the content
    hash with survivors ordered first (survivor-aware keep-first —
    deterministic, engine-identical). Scale: ONE tokenization pass
    (a lazily checkpointed token frame feeds the flag/hash/PII
    projection AND both DSIR gram passes — the flags are map-side, so
    they ride the same projection as the hash instead of a corpus
    self-join) + the dsir_doc_scores join (doc-keyed) + ONE
    partitioned window over the content hash + a 1-row counter
    aggregation; the 5-row funnel is arithmetic on that row."""
    d = (
        fan_out(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "lang", "source", "text"
            ),
            "doc_id",
        )
        .select("doc_id", "lang", "source", "text", tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .localCheckpoint(eager=False)
    )
    pii_free = (
        F.size(
            F.regexp_extract_all(
                pii_rendered_col(), F.lit(_PII_EMAIL), 0
            )
        )
        + F.size(
            F.regexp_extract_all(
                pii_rendered_col(), F.lit(_PII_PHONE), 0
            )
        )
        + F.size(
            F.regexp_extract_all(pii_rendered_col(), F.lit(_PII_IPV4), 0)
        )
        == 0
    )
    fl = filter_flags(
        d.select("doc_id", "text", F.size("toks").alias("doc_toks"), "toks"),
        "doc_id",
        "text",
        "doc_toks",
    ).select(
        "doc_id",
        F.col("doc_toks").cast("long").alias("n_toks"),
        md5_hash32("text").alias("h"),
        pii_free.cast("int").alias("ok_pii"),
        (
            (F.col("f_len") == 1)
            & (F.col("f_uniq") == 1)
            & (F.col("f_rep") == 1)
            & (F.col("f_stop") == 1)
        )
        .cast("int")
        .alias("ok_quality"),
    )
    staged = fl.join(
        dsir_doc_scores(
            spark, sf_dir, d.select("doc_id", "lang", "source", "toks")
        ).select("doc_id", "score_ppm"),
        "doc_id",
    ).select(
        "doc_id",
        "n_toks",
        "h",
        F.col("ok_pii").alias("c1"),
        (F.col("ok_pii") * F.col("ok_quality")).alias("c2"),
        (
            F.col("ok_pii")
            * F.col("ok_quality")
            * F.when(F.col("score_ppm") > 1000000, 1).otherwise(0)
        ).alias("c3"),
    )
    w = Window.partitionBy("h").orderBy(
        F.expr("CASE WHEN c3 = 1 THEN 0 ELSE 1 END"), "doc_id"
    )
    ranked = staged.withColumn("rn", F.row_number().over(w))
    dec = "decimal(38,0)"
    a = ranked.agg(
        F.count(F.lit(1)).cast(dec).alias("n0"),
        F.sum("n_toks").cast(dec).alias("t0"),
        F.sum("c1").cast(dec).alias("n1"),
        F.sum(F.col("c1") * F.col("n_toks")).cast(dec).alias("t1"),
        F.sum("c2").cast(dec).alias("n2"),
        F.sum(F.col("c2") * F.col("n_toks")).cast(dec).alias("t2"),
        F.sum("c3").cast(dec).alias("n3"),
        F.sum(F.col("c3") * F.col("n_toks")).cast(dec).alias("t3"),
        F.sum(
            F.when((F.col("c3") == 1) & (F.col("rn") == 1), 1).otherwise(0)
        ).cast(dec).alias("n4"),
        F.sum(
            F.when(
                (F.col("c3") == 1) & (F.col("rn") == 1), F.col("n_toks")
            ).otherwise(0)
        ).cast(dec).alias("t4"),
    )
    p = a.select(
        F.expr(
            "stack(5,"
            " 0L, 'raw', n0, t0,"
            " 1L, 'pii_clean', n1, t1,"
            " 2L, 'quality_pass', n2, t2,"
            " 3L, 'dsir_selected', n3, t3,"
            " 4L, 'deduped', n4, t4)"
            " AS (stage_id, stage, nd, nt)"
        ),
        "n0",
        "t0",
    )
    return p.select(
        "stage_id",
        "stage",
        F.col("nd").cast("long").alias("n_docs"),
        F.col("nt").cast("long").alias("n_tokens"),
        F.expr(
            "CAST(nd * 1000000 div greatest(n0,"
            " CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("doc_keep_ppm"),
        F.expr(
            "CAST(nt * 1000000 div greatest(t0,"
            " CAST(1 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("token_keep_ppm"),
    )
