"""Training-sequence packing and training-order audits (SURVEY.md
§2B L6-adjacent: the step between a curated corpus and a training
run): concat-and-chunk sequence packing — every LLM pipeline's final
transform — plus the shuffle-uniformity dashboard that checks the
training ORDER the packing consumed.

The shared engine is a DISTRIBUTED PREFIX SUM over a deterministic
training order (salted-hash order — the industry-standard "global
shuffle" that needs no RNG): a global `SUM() OVER (ORDER BY ...)`
would funnel the whole corpus through ONE window task, so the Spark
side computes it as hash-range buckets (the bucket id is a monotone
function of the order key, so bucket-local order + bucket offsets IS
the global order): a partitioned window inside each bucket plus a
64-row bucket-offset frame broadcast back. Exactly the textbook
two-pass parallel scan, and exactly equal to the oracle's
single-window cumsum because every quantity is an integer.

Scale: the prefix sum is the only corpus-sized stage and it is fully
parallel (one shuffle to bucket, one bucket-local window); everything
downstream is chunk-count-sized (linear in tokens/ctx) or
|sources| x |windows|-sized. At 100 TB the bucket count grows with
the cluster (any power of two works — the math never changes).

Cites reference behavior: none (beyond-reference operators; the
reference ingests records, it does not prepare training sequences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from target_hdfs_spark.functions.hashing import md5_hash32, md5_hash32_sql
from target_hdfs_spark.functions.textfuncs import TOKENS_SQL
from target_hdfs_spark.functions.textfuncs import tokens
from target_hdfs_spark.registry import query
from target_hdfs_spark.sources.readers import fan_out, load_table

PK_SALT = "pack|"  # order-key salt: the training-order hash rule
_PK_BUCKETS = 64  # prefix-sum fan-out (any power of two; grows with cluster)
PK_BKT_W = (1 << 32) // _PK_BUCKETS  # md5_hash32 < 2^32 -> bucket 0..63
PK_CTX = 2048  # training context length (tokens) for q278
_PK_CTXS = (512, 2048, 8192)  # q279's sensitivity grid
_SHUF_WINDOWS = 16  # q280: equal token-mass slices of the training order

_ORD_SQL = md5_hash32_sql("'pack|' || CAST(doc_id AS VARCHAR)")


def packed_token_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_toks, ord_h, cum_before, total_toks) for
    every non-empty document, where cum_before is the EXACT number of
    tokens preceding the document in the deterministic training order
    (ord_h, doc_id) — computed as a distributed prefix sum, never a
    single global window task.

    The bucket id `ord_h div {PK_BKT_W}` is monotone in ord_h, so
    concatenating buckets in id order reproduces the global order:
    cum_before = (tokens in earlier buckets) + (tokens earlier within
    this bucket). The offset frame is {_PK_BUCKETS} rows — metadata
    scale — and broadcast back."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        fan_out(docs.select("doc_id", "source", "text"), "doc_id")
        .select(
            "doc_id",
            "source",
            F.size(tokens("text")).cast("long").alias("n_toks"),
            md5_hash32(
                F.concat(F.lit(PK_SALT), F.col("doc_id").cast("string"))
            ).alias("ord_h"),
        )
        .filter(F.col("n_toks") > 0)
        .withColumn("bkt", F.expr(f"ord_h div {PK_BKT_W}"))
    )
    w_in = Window.partitionBy("bkt").orderBy("ord_h", "doc_id")
    within = base.withColumn(
        "cum_in", F.sum("n_toks").over(w_in) - F.col("n_toks")
    )
    btot = base.groupBy("bkt").agg(F.sum("n_toks").alias("btoks"))
    w_off = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy()
    offsets = btot.select(
        "bkt",
        F.coalesce(F.sum("btoks").over(w_off), F.lit(0)).alias("boff"),
        F.sum("btoks").over(w_all).alias("total_toks"),
    )
    return within.join(F.broadcast(offsets), "bkt").select(
        "doc_id",
        "source",
        "n_toks",
        "ord_h",
        (F.col("boff") + F.col("cum_in")).alias("cum_before"),
        "total_toks",
    )


# the oracle twin of packed_token_frame: DuckDB affords the single
# global window, so the cumsum is stated directly — which is the whole
# point of the check (the bucketed two-pass scan must equal it bit for
# bit on integers)
_PACK_CUM_SQL = f"""t AS (
      SELECT doc_id, source,
             CAST(len({TOKENS_SQL.format(expr="text")}) AS BIGINT)
               AS n_toks,
             {_ORD_SQL} AS ord_h
      FROM documents
    ),
    nz AS (SELECT * FROM t WHERE n_toks > 0),
    c AS (
      SELECT doc_id, source, n_toks, ord_h,
             SUM(n_toks) OVER (ORDER BY ord_h, doc_id) - n_toks
               AS cum_before,
             SUM(n_toks) OVER () AS total_toks
      FROM nz
    )"""


# ---------------------------------------------------------------------------
# L6p: concat-and-chunk sequence packing — the docs-per-chunk profile
# ---------------------------------------------------------------------------


@query(
    "q278_sequence_packing",
    oracle=f"""
    WITH {_PACK_CUM_SQL},
    spans AS (
      SELECT CAST(cum_before // {PK_CTX} AS BIGINT) AS fc,
             CAST((cum_before + n_toks - 1) // {PK_CTX} AS BIGINT) AS lc
      FROM c
    ),
    pairs AS (
      SELECT unnest(generate_series(fc, lc)) AS chunk_id FROM spans
    ),
    perch AS (
      SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS docs_in_chunk
      FROM pairs GROUP BY 1
    )
    SELECT docs_in_chunk,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
             AS chunks_ppm
    FROM perch GROUP BY 1
    """,
    tags=("packing", "curation", "llm", "prefix-sum"),
)
def q278_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING (concat-and-chunk, the GPT-style final
    transform): documents are concatenated in the deterministic
    salted-hash training order and split into fixed {PK_CTX}-token
    contexts; the profile reports how many documents each chunk
    touches (docs_in_chunk histogram) — the attention-mask /
    cross-contamination readout a training team checks before a run
    (a heavy docs-per-chunk tail means many attention boundaries or
    much cross-document leakage, and argues for a longer context or
    document-aware packing).

    Exactness: the distributed prefix sum (bucket-local window +
    broadcast bucket offsets) equals the oracle's global window
    cumsum exactly — integers, same (ord_h, doc_id) order; chunk
    spans are integer floor divisions; every chunk 0..ceil(n/ctx)-1
    holds >= 1 document by construction, so SUM(n_chunks) is the
    total chunk count in both engines.

    Scale: one bucketing shuffle + bucket-local window over the
    corpus; the explode emits one row per (doc, chunk) touched —
    ~tokens/ctx + docs rows, linear; the histogram is a
    few-row aggregate. No global-order single task anywhere.

    Cites reference behavior: none (beyond-reference operator).
    """
    f = packed_token_frame(spark, sf_dir)
    spans = f.select(
        F.expr(f"cum_before div {PK_CTX}").alias("fc"),
        F.expr(f"(cum_before + n_toks - 1) div {PK_CTX}").alias("lc"),
    )
    pairs = spans.select(
        F.explode(F.sequence("fc", "lc")).alias("chunk_id")
    )
    perch = pairs.groupBy("chunk_id").agg(
        F.count(F.lit(1)).cast("long").alias("docs_in_chunk")
    )
    return (
        perch.groupBy("docs_in_chunk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
        .select(
            "docs_in_chunk",
            "n_chunks",
            F.expr("n_chunks * 1000000 div sum(n_chunks) over ()")
            .cast("long")
            .alias("chunks_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L6q: context-length sensitivity — the packing knob table
# ---------------------------------------------------------------------------


@query(
    "q279_packing_ctx_curve",
    oracle=f"""
    WITH {_PACK_CUM_SQL},
    ctxs AS (
      SELECT CAST(unnest(ARRAY{list(_PK_CTXS)}) AS BIGINT) AS ctx
    )
    SELECT x.ctx,
           CAST((MAX(c.total_toks) + x.ctx - 1) // x.ctx AS BIGINT)
             AS n_chunks,
           CAST(COUNT(CASE WHEN c.cum_before // x.ctx
                            <> (c.cum_before + c.n_toks - 1) // x.ctx
                           THEN 1 END) AS BIGINT) AS n_cross_docs,
           CAST(COUNT(CASE WHEN c.cum_before // x.ctx
                            <> (c.cum_before + c.n_toks - 1) // x.ctx
                           THEN 1 END) * 1000000
                // COUNT(*) AS BIGINT) AS cross_docs_ppm,
           CAST((MAX(c.total_toks) + x.ctx - 1) // x.ctx * x.ctx
                - MAX(c.total_toks) AS BIGINT) AS tail_padding_tokens,
           CAST(((MAX(c.total_toks) + x.ctx - 1) // x.ctx * x.ctx
                 - MAX(c.total_toks)) * 1000000
                // ((MAX(c.total_toks) + x.ctx - 1) // x.ctx * x.ctx)
             AS BIGINT) AS padding_ppm
    FROM c CROSS JOIN ctxs x
    GROUP BY x.ctx
    """,
    tags=("packing", "curation", "llm", "observability"),
)
def q279_packing_ctx_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING CONTEXT-LENGTH CURVE — the knob table behind q278's
    fixed {PK_CTX}: for each candidate context length
    {list(_PK_CTXS)}, the chunk count, how many documents straddle a
    chunk boundary (cross_docs — each straddle is either a truncation
    or an attention-mask seam), the tail padding the last chunk wastes,
    and both as ppm — so choosing a training context length against
    THIS corpus is a measured trade (longer contexts cut boundary
    crossings but pay activation memory; the table prices one side).

    Exactness: rides the same prefix-sum frame as q278 (integers,
    identical order); per-ctx arithmetic is integer floor division on
    both sides; the 3-row ctx grid is a broadcast cross join.

    Scale: ONE prefix-sum pass feeds all {len(_PK_CTXS)} context
    lengths (the spans are arithmetic per document, no re-explosion);
    output is |ctxs| rows.

    Cites reference behavior: none (beyond-reference operator).
    """
    f = packed_token_frame(spark, sf_dir)
    ctxs = spark.createDataFrame([(c,) for c in _PK_CTXS], "ctx long")
    crossed = F.expr("cum_before div ctx") != F.expr(
        "(cum_before + n_toks - 1) div ctx"
    )
    n_chunks = F.expr("(max(total_toks) + ctx - 1) div ctx")
    padding = F.expr(
        "(max(total_toks) + ctx - 1) div ctx * ctx - max(total_toks)"
    )
    return (
        f.crossJoin(F.broadcast(ctxs))
        .groupBy("ctx")
        .agg(
            n_chunks.cast("long").alias("n_chunks"),
            F.count(F.when(crossed, 1)).cast("long").alias("n_cross_docs"),
            F.expr(
                "count(case when cum_before div ctx <>"
                " (cum_before + n_toks - 1) div ctx then 1 end)"
                " * 1000000 div count(1)"
            )
            .cast("long")
            .alias("cross_docs_ppm"),
            padding.cast("long").alias("tail_padding_tokens"),
            F.expr(
                "((max(total_toks) + ctx - 1) div ctx * ctx"
                " - max(total_toks)) * 1000000"
                " div ((max(total_toks) + ctx - 1) div ctx * ctx)"
            )
            .cast("long")
            .alias("padding_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L6r: shuffle-uniformity audit — is the training ORDER well mixed?
# ---------------------------------------------------------------------------


@query(
    "q280_shuffle_uniformity",
    oracle=f"""
    WITH {_PACK_CUM_SQL},
    placed AS (
      SELECT source,
             least({_SHUF_WINDOWS - 1},
                   cum_before * {_SHUF_WINDOWS} // total_toks) AS win,
             n_toks
      FROM c
    ),
    grid AS (
      SELECT s.source, w.win
      FROM (SELECT DISTINCT source FROM placed) s
      CROSS JOIN (SELECT unnest(generate_series(0,
                         {_SHUF_WINDOWS - 1})) AS win) w
    ),
    cell AS (
      SELECT g.source, g.win,
             COALESCE(SUM(p.n_toks), 0) AS toks
      FROM grid g
      LEFT JOIN placed p ON p.source = g.source AND p.win = g.win
      GROUP BY 1, 2
    ),
    shares AS (
      -- zero guard: a window can hold NO document STARTS (one doc
      -- spanning several windows) -> its token total is 0 and every
      -- source's share there reads 0, not an engine-divergent 0-div
      SELECT source, win,
             CASE WHEN SUM(toks) OVER (PARTITION BY win) = 0 THEN 0
                  ELSE toks * 1000000
                       // SUM(toks) OVER (PARTITION BY win) END
               AS win_share_ppm,
             SUM(toks) OVER (PARTITION BY source) * 1000000
               // SUM(toks) OVER () AS global_share_ppm
      FROM cell
    ),
    devs AS (
      SELECT source, win, global_share_ppm,
             abs(win_share_ppm - global_share_ppm) AS abs_dev,
             MAX(abs(win_share_ppm - global_share_ppm))
               OVER (PARTITION BY source) AS max_dev
      FROM shares
    )
    SELECT source,
           CAST(MAX(global_share_ppm) AS BIGINT) AS global_share_ppm,
           CAST(MAX(max_dev) AS BIGINT) AS max_abs_dev_ppm,
           CAST(MIN(CASE WHEN abs_dev = max_dev THEN win END) AS BIGINT)
             AS worst_window
    FROM devs
    GROUP BY source
    """,
    tags=("packing", "curation", "observability", "shuffle"),
)
def q280_shuffle_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-UNIFORMITY AUDIT — checks the training order itself:
    the salted-hash order is sliced into {_SHUF_WINDOWS} equal
    token-mass windows, and each source's within-window token share
    is compared to its global share; the dashboard reports, per
    source, the worst absolute deviation (ppm) and the window where
    it happens. A well-shuffled order keeps every deviation small and
    unstructured; a drifting curriculum (one source concentrated
    early/late) shows up as a large deviation in an edge window —
    BEFORE the loss curve pays for it. The full source x window grid
    is materialized so a source ABSENT from a window reads as its
    full negative deviation, not as a missing row.

    Exactness: window placement, shares and deviations are integer
    floor arithmetic on the shared prefix-sum frame; the worst window
    tie-breaks to the smallest window id in both engines.

    Scale: the audit aggregates the corpus once into a
    |sources| x {_SHUF_WINDOWS} cell grid — everything after the
    prefix sum is metadata-sized.

    Cites reference behavior: none (beyond-reference operator).
    """
    f = packed_token_frame(spark, sf_dir)
    placed = f.select(
        "source",
        F.least(
            F.lit(_SHUF_WINDOWS - 1),
            F.expr(f"cum_before * {_SHUF_WINDOWS} div total_toks"),
        ).alias("win"),
        "n_toks",
    )
    sources = placed.select("source").distinct()
    wins = spark.createDataFrame(
        [(w,) for w in range(_SHUF_WINDOWS)], "win long"
    )
    grid = sources.crossJoin(F.broadcast(wins))
    cell = (
        grid.join(placed, ["source", "win"], "left")
        .groupBy("source", "win")
        .agg(F.coalesce(F.sum("n_toks"), F.lit(0)).alias("toks"))
    )
    w_win = Window.partitionBy("win")
    w_src = Window.partitionBy("source")
    w_all = Window.partitionBy()
    shares = cell.select(
        "source",
        "win",
        F.expr("toks * 1000000").alias("_t6"),
        F.sum("toks").over(w_win).alias("_wt"),
        (F.sum("toks").over(w_src) * 1000000).alias("_s6"),
        F.sum("toks").over(w_all).alias("_tt"),
    ).select(
        "source",
        "win",
        # zero guard mirrored from the oracle: an empty window (no doc
        # STARTS — one doc spanning several windows) reads share 0
        F.expr("case when _wt = 0 then 0 else _t6 div _wt end").alias(
            "win_share_ppm"
        ),
        F.expr("_s6 div _tt").alias("global_share_ppm"),
    )
    devs = shares.select(
        "source",
        "win",
        "global_share_ppm",
        F.abs(F.col("win_share_ppm") - F.col("global_share_ppm")).alias(
            "abs_dev"
        ),
    ).withColumn("max_dev", F.max("abs_dev").over(w_src))
    return devs.groupBy("source").agg(
        F.max("global_share_ppm").cast("long").alias("global_share_ppm"),
        F.max("max_dev").cast("long").alias("max_abs_dev_ppm"),
        F.min(F.when(F.col("abs_dev") == F.col("max_dev"), F.col("win")))
        .cast("long")
        .alias("worst_window"),
    )


# ---------------------------------------------------------------------------
# L6u: curriculum phases (quality-ordered training schedule pricing)
# ---------------------------------------------------------------------------

_CURR_PHASES = 4  # the classic easy->hard curriculum quartiles
_DOC_TOKS_SQL = f"CAST(len({TOKENS_SQL.format(expr='text')}) AS BIGINT)"


@query(
    "q285_curriculum_phases",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
             {_DOC_TOKS_SQL} AS n_toks
      FROM documents
    ),
    p AS (
      SELECT score, n_toks,
             CAST(NTILE({_CURR_PHASES}) OVER (ORDER BY score, doc_id)
                  AS BIGINT) AS phase
      FROM d
    )
    SELECT phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS phase_tokens,
           CAST(MIN(score) AS BIGINT) AS score_lo,
           CAST(MAX(score) AS BIGINT) AS score_hi,
           CAST(SUM(n_toks) * 1000000 // SUM(SUM(n_toks)) OVER ()
                AS BIGINT) AS token_share_ppm
    FROM p GROUP BY phase
    """,
    tags=("packing", "curation", "curriculum", "prefix-sum"),
)
def q285_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-schedule pricing: documents split into
    {_CURR_PHASES} exact equal-COUNT phases by ascending quality
    score (easy->hard, n_chars standing in) — the table a curriculum
    training run reads before committing to a schedule: token mass
    per phase (equal doc counts are NOT equal compute: long docs
    cluster in late phases), score boundaries, and each phase's share
    of the token budget.

    Scale: the phase assignment is ``segmented_ntile`` (the banded
    prefix-sum kernel — exact NTILE integers, no single-task window
    over |docs|); the rollup is {_CURR_PHASES} rows and the share
    window runs on that frame.
    """
    from target_hdfs_spark.operators.analytics import segmented_ntile

    d = (
        fan_out(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "n_chars", "text"
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("score"),
            F.size(tokens("text")).cast("long").alias("n_toks"),
        )
        .localCheckpoint(eager=False)  # the kernel consumes it 3x
    )
    p = segmented_ntile(
        d, _CURR_PHASES, "score", "phase", tie_col="doc_id"
    )
    return (
        p.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("phase_tokens"),
            F.min("score").cast("long").alias("score_lo"),
            F.max("score").cast("long").alias("score_hi"),
        )
        .select(
            "phase",
            "n_docs",
            "phase_tokens",
            "score_lo",
            "score_hi",
            # DECIMAL(38,0) before *1e6: a 100 TB corpus's token sums
            # overflow int64 at the multiply (the oracle's HUGEINT sum
            # is already exact); div on decimals returns bigint
            F.expr(
                "CAST(phase_tokens AS DECIMAL(38,0)) * 1000000"
                " div sum(phase_tokens) over ()"
            )
            .cast("long")
            .alias("token_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# L6v: length-bucketed batching — the OTHER industry batching strategy
# (pad-to-bucket instead of concat-and-chunk), priced against packing
# ---------------------------------------------------------------------------

LBB_CAP = PK_CTX  # max sequence length (docs truncate here)
_LBB_BUCKETS = tuple(1 << j for j in range(LBB_CAP.bit_length()))


def bucket_case_sql(col: str) -> str:
    """Smallest power-of-two >= `col` as a CASE chain — pure integer
    comparisons, shared verbatim by the Spark plan and the DuckDB
    oracle (no log2 float boundaries)."""
    whens = " ".join(
        f"WHEN {col} <= {b} THEN {b}" for b in _LBB_BUCKETS
    )
    return f"CASE {whens} END"


@query(
    "q286_length_bucketed_batching",
    oracle=f"""
    WITH d AS (
      SELECT least({_DOC_TOKS_SQL}, {LBB_CAP}) AS eff,
             {_DOC_TOKS_SQL} AS n_toks
      FROM documents
      WHERE {_DOC_TOKS_SQL} > 0
    ),
    b AS (
      SELECT eff, n_toks, {bucket_case_sql('eff')} AS bucket_len FROM d
    )
    SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(eff) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket_len AS BIGINT) AS padded_tokens,
           CAST((COUNT(*) * bucket_len - SUM(eff)) * 1000000
                // (COUNT(*) * bucket_len) AS BIGINT) AS waste_ppm,
           CAST(SUM(n_toks - eff) AS BIGINT) AS truncated_tokens,
           CAST((COUNT(*) + ({LBB_CAP} // bucket_len) - 1)
                // ({LBB_CAP} // bucket_len) AS BIGINT) AS n_batches
    FROM b GROUP BY bucket_len
    """,
    tags=("packing", "curation", "batching"),
)
def q286_length_bucketed_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING priced per bucket — the padding-based
    alternative to q278's concat-and-chunk packing: each document is
    truncated to the {LBB_CAP}-token cap, padded up to the smallest
    power-of-two bucket, and batched with {LBB_CAP}//bucket_len
    peers. Per bucket: docs, real vs padded tokens, exact padding
    waste (ppm), truncation loss, and batch count — next to q279's
    tail-padding numbers this is the packing-vs-padding decision
    table (padding waste typically dwarfs packing's
    cross-contamination cost; now it's a measured claim per corpus).

    Exactness: the power-of-two bucket is a shared integer CASE chain
    (no float log2 at boundaries); every metric is integer
    arithmetic. Scale: one tokenization pass, map-side bucket
    assignment, one {len(_LBB_BUCKETS)}-key aggregation — no joins,
    no windows.
    """
    toks = F.size(tokens("text")).cast("long")
    d = (
        fan_out(
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
            "doc_id",
        )
        .select(toks.alias("n_toks"))
        .filter(F.col("n_toks") > 0)
        .select(
            "n_toks", F.least(F.col("n_toks"), F.lit(LBB_CAP)).alias("eff")
        )
        .withColumn("bucket_len", F.expr(bucket_case_sql("eff")))
    )
    cap_div = f"({LBB_CAP} div bucket_len)"
    return (
        d.groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("eff").cast("long").alias("real_tokens"),
            F.sum(F.col("n_toks") - F.col("eff"))
            .cast("long")
            .alias("truncated_tokens"),
        )
        .select(
            F.col("bucket_len").cast("long").alias("bucket_len"),
            "n_docs",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_len"))
            .cast("long")
            .alias("padded_tokens"),
            # decimal guard: padded tokens x 1e6 overflows int64 past
            # ~9e12 tokens in one bucket (q285's rationale)
            F.expr(
                "(CAST(n_docs AS DECIMAL(38,0)) * bucket_len"
                " - real_tokens) * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * bucket_len)"
            )
            .cast("long")
            .alias("waste_ppm"),
            "truncated_tokens",
            F.expr(f"(n_docs + {cap_div} - 1) div {cap_div}")
            .cast("long")
            .alias("n_batches"),
        )
    )


# ---------------------------------------------------------------------------
# L6w: curriculum x mixture interaction (does the easy->hard schedule
# silently reweight the source mixture?)
# ---------------------------------------------------------------------------


@query(
    "q287_phase_mixture_drift",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score,
             {_DOC_TOKS_SQL} AS n_toks
      FROM documents
    ),
    p AS (
      SELECT source, n_toks,
             CAST(NTILE({_CURR_PHASES}) OVER (ORDER BY score, doc_id)
                  AS BIGINT) AS phase
      FROM d
    ),
    ps AS (
      SELECT phase, source, CAST(SUM(n_toks) AS BIGINT) AS t
      FROM p GROUP BY phase, source
    ),
    g AS (
      SELECT source,
             CAST(SUM(t) * 1000000 // SUM(SUM(t)) OVER () AS BIGINT)
               AS global_share_ppm
      FROM ps GROUP BY source
    ),
    w AS (
      SELECT phase, source, t,
             CAST(t * 1000000 // SUM(t) OVER (PARTITION BY phase)
                  AS BIGINT) AS phase_share_ppm
      FROM ps
    )
    SELECT w.phase, w.source, w.phase_share_ppm, g.global_share_ppm,
           CAST(abs(w.phase_share_ppm - g.global_share_ppm) AS BIGINT)
             AS abs_dev_ppm
    FROM w JOIN g ON g.source = w.source
    """,
    tags=("packing", "curation", "curriculum", "mixture"),
)
def q287_phase_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum x mixture interaction: ordering training by quality
    score SILENTLY reweights the source mixture inside each phase
    (high-quality sources crowd the late phases), which is exactly
    the distribution shift q263 monitors in production — this table
    prices it BEFORE the run: per (phase, source), the source's
    within-phase token share vs its whole-corpus share, and the
    absolute deviation in ppm. A curriculum whose late phases are
    80% one source is a different training run than its mixture
    card claims.

    Scale: one tokenization pass -> banded ntile (no single-task
    window) -> a |phases| x |sources| frame; every share window runs
    partitioned-by-phase or on the |sources| rollup. Exact integer
    ppm both engines.
    """
    from target_hdfs_spark.operators.analytics import segmented_ntile

    d = (
        fan_out(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source", "n_chars", "text"
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("score"),
            F.size(tokens("text")).cast("long").alias("n_toks"),
        )
        .localCheckpoint(eager=False)  # the kernel consumes it 3x
    )
    ps = (
        segmented_ntile(d, _CURR_PHASES, "score", "phase", tie_col="doc_id")
        .groupBy("phase", "source")
        .agg(F.sum("n_toks").alias("t"))
        .localCheckpoint(eager=False)  # feeds global + phase shares
    )
    g = (
        ps.groupBy("source")
        .agg(F.sum("t").alias("st"))
        .select(
            "source",
            F.expr(
                "CAST(st AS DECIMAL(38,0)) * 1000000 div sum(st) over ()"
            )
            .cast("long")
            .alias("global_share_ppm"),
        )
    )
    w = ps.select(
        "phase",
        "source",
        F.expr(
            "CAST(t AS DECIMAL(38,0)) * 1000000"
            " div sum(t) over (partition by phase)"
        )
        .cast("long")
        .alias("phase_share_ppm"),
    )
    return w.join(F.broadcast(g), "source").select(
        "phase",
        "source",
        "phase_share_ppm",
        "global_share_ppm",
        F.abs(F.col("phase_share_ppm") - F.col("global_share_ppm"))
        .cast("long")
        .alias("abs_dev_ppm"),
    )


# ---------------------------------------------------------------------------
# L6x: incremental pack invalidation — the blast radius of a corpus
# delta under concat-and-chunk packing, per training order
# ---------------------------------------------------------------------------

_IPV_MOD = 20  # every 20th doc plays the "newly arrived" delta (~5%)


@query(
    "q288_pack_invalidation",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_DOC_TOKS_SQL} AS n_toks, {_ORD_SQL} AS ord_h
      FROM documents
    ),
    nz AS (SELECT * FROM t WHERE n_toks > 0),
    both_orders AS (
      SELECT 'shuffle' AS train_order, doc_id, n_toks,
             SUM(n_toks) OVER (ORDER BY ord_h, doc_id) - n_toks
               AS cum_before,
             SUM(n_toks) OVER () AS total_toks
      FROM nz
      UNION ALL
      SELECT 'append' AS train_order, doc_id, n_toks,
             SUM(n_toks) OVER (ORDER BY doc_id) - n_toks AS cum_before,
             SUM(n_toks) OVER () AS total_toks
      FROM nz
    ),
    delta AS (
      SELECT train_order,
             CAST(MIN(CASE WHEN doc_id % {_IPV_MOD} = 0
                      THEN cum_before END) AS BIGINT) AS first_changed,
             CAST(SUM(CASE WHEN doc_id % {_IPV_MOD} = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS inserted_docs,
             CAST(SUM(CASE WHEN doc_id % {_IPV_MOD} = 0
                      THEN n_toks ELSE 0 END) AS BIGINT) AS inserted_tokens,
             CAST(ANY_VALUE(total_toks) AS BIGINT) AS total_toks
      FROM both_orders GROUP BY train_order
    )
    SELECT train_order, CAST(ctx AS BIGINT) AS ctx,
           CAST((total_toks + ctx - 1) // ctx AS BIGINT) AS n_chunks,
           CAST(least(first_changed // ctx,
                      (total_toks + ctx - 1) // ctx) AS BIGINT)
             AS reusable_chunks,
           CAST(((total_toks + ctx - 1) // ctx
                 - least(first_changed // ctx, (total_toks + ctx - 1) // ctx))
                * 1000000 // ((total_toks + ctx - 1) // ctx) AS BIGINT)
             AS invalidated_ppm,
           inserted_docs, inserted_tokens
    FROM delta
    CROSS JOIN (SELECT unnest([{", ".join(str(c) for c in _PK_CTXS)}]) AS ctx)
    """,
    tags=("packing", "curation", "incremental", "prefix-sum"),
)
def q288_pack_invalidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL PACK INVALIDATION: when ~5% of the corpus is new
    (every {_IPV_MOD}th doc plays the delta), how many packed chunks
    survive? Concat-and-chunk shifts every token after the FIRST
    inserted document, so reusable chunks = those strictly before the
    first insertion point — computed per training order:

    - 'shuffle' (the salted-hash training order q278 packs in): the
      first insertion lands near offset 0, invalidating ~everything —
      the measured cost of re-shuffling on every corpus refresh;
    - 'append' (doc_id order, the ingest-append layout): insertions
      cluster by arrival and the prefix survives — cheap re-packs,
      but q280's shuffle-uniformity audit is exactly what it gives up.

    Together with q280 this is the re-pack economics table: shuffle
    quality vs incremental cost, per context length.

    Scale: the readout never needs a per-row prefix sum — along any
    total order, cum_before is non-decreasing (weights >= 0), so
    MIN(cum_before) over the inserted docs is cum_before AT the
    order-minimal inserted doc, i.e. the plain SUM of n_toks over
    docs strictly before it. Two 1-row aggregates over one
    checkpointed (doc_id, n_toks, ord_h) frame (order-minimal
    inserted doc per order, then the conditional prefix sums +
    totals) replace the two banded prefix-sum passes x the ctx grid.
    No single-task windows; the oracle's global windows are the
    deliberate independent derivation.
    """
    # ONE tokenization pass; both orders re-read the checkpointed
    # 3-column frame instead of re-tokenizing the corpus
    docs = load_table(spark, sf_dir, "documents")
    base = (
        fan_out(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.size(tokens("text")).cast("long").alias("n_toks"),
            md5_hash32(
                F.concat(F.lit(PK_SALT), F.col("doc_id").cast("string"))
            ).alias("ord_h"),
        )
        .filter(F.col("n_toks") > 0)
        .localCheckpoint(eager=False)
    )
    is_new = F.col("doc_id") % _IPV_MOD == 0
    # pass 1: the order-minimal inserted doc under each order (struct
    # min = lexicographic (ord_h, doc_id) min) + the delta's mass
    firsts = base.filter(is_new).agg(
        F.min(F.struct("ord_h", "doc_id")).alias("s_min"),
        F.min("doc_id").alias("a_min"),
        F.count(F.lit(1)).cast("long").alias("inserted_docs"),
        F.coalesce(F.sum("n_toks"), F.lit(0))
        .cast("long")
        .alias("inserted_tokens"),
    )
    # pass 2: first_changed per order = sum of n_toks strictly before
    # the order-minimal inserted doc (NULL when there is no delta,
    # matching the oracle's MIN over an empty set), + total_toks
    before_s = F.struct("ord_h", "doc_id") < F.col("s_min")
    before_a = F.col("doc_id") < F.col("a_min")
    wide = (
        base.crossJoin(F.broadcast(firsts))
        .agg(
            F.when(
                F.any_value("inserted_docs") > 0,
                F.coalesce(
                    F.sum(F.when(before_s, F.col("n_toks"))), F.lit(0)
                ),
            )
            .cast("long")
            .alias("fc_shuffle"),
            F.when(
                F.any_value("inserted_docs") > 0,
                F.coalesce(
                    F.sum(F.when(before_a, F.col("n_toks"))), F.lit(0)
                ),
            )
            .cast("long")
            .alias("fc_append"),
            F.sum("n_toks").cast("long").alias("total_toks"),
            F.any_value("inserted_docs").alias("inserted_docs"),
            F.any_value("inserted_tokens").alias("inserted_tokens"),
        )
    )
    delta = wide.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("shuffle").alias("train_order"),
                    F.col("fc_shuffle").alias("first_changed"),
                ),
                F.struct(
                    F.lit("append").alias("train_order"),
                    F.col("fc_append").alias("first_changed"),
                ),
            )
        ).alias("o"),
        "inserted_docs",
        "inserted_tokens",
        "total_toks",
    ).select(
        F.col("o.train_order").alias("train_order"),
        F.col("o.first_changed").alias("first_changed"),
        "inserted_docs",
        "inserted_tokens",
        "total_toks",
    # an empty corpus must yield 0 rows (the oracle's GROUP BY over an
    # empty frame), not a NULL readout row from the global aggregate
    ).filter(F.col("total_toks").isNotNull())
    ctxs = F.explode(F.array(*[F.lit(c) for c in _PK_CTXS])).alias("ctx")
    n_chunks = "((total_toks + ctx - 1) div ctx)"
    reusable = f"least(first_changed div ctx, {n_chunks})"
    return delta.select("*", ctxs).select(
        "train_order",
        F.col("ctx").cast("long").alias("ctx"),
        F.expr(n_chunks).cast("long").alias("n_chunks"),
        F.expr(reusable).cast("long").alias("reusable_chunks"),
        F.expr(f"({n_chunks} - {reusable}) * 1000000 div {n_chunks}")
        .cast("long")
        .alias("invalidated_ppm"),
        "inserted_docs",
        "inserted_tokens",
    )
