"""Range-partitioned layout writes driven by the deterministic
quantile sketch — q266's planner made ACTIONABLE in the write path.

Spark's own `repartitionByRange` draws a private per-run sample to
pick boundaries, so two runs over the same data can produce different
layouts (and a grown corpus reshuffles everything). This module plans
boundaries from the q253 fixed-boundary histogram instead: the cells
are deterministic, MERGEABLE integers (1000 executors histogram their
slices, cell addition composes them — `operators/analytics.py`
q253/q254), so the planned boundaries are bit-reproducible across
runs and stable under corpus growth — a nightly re-sort reuses
yesterday's cuts, and downstream readers can prune directories by
range (the R13 hive-partition contract, with RANGES instead of exact
values).

Scale shape: one corpus pass builds the histogram (map-side combined
to <= nbkt cells); the boundary walk runs driver-side on the tiny
cell frame; the write is ONE hash exchange on the assigned partition
id (each range lands in its own `range_id=<i>` directory). Nothing
here samples, sorts globally, or shuffles twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from target_hdfs_spark.operators.analytics import (
    qsk_bucket_expr,
    QSK_NBKT,
    QSK_W,
)


def plan_range_boundaries(
    df: DataFrame,
    value_col: str,
    parts: int,
    width: int = QSK_W,
    nbkt: int = QSK_NBKT,
) -> list[int]:
    """Equi-depth VALUE boundaries for `parts` ranges of `value_col`,
    from the deterministic fixed-boundary histogram (q266's walk, with
    the bucket->partition cut converted to the bucket's lower value).

    Returns `parts - 1` ascending cut values; partition i holds rows
    with boundaries[i-1] <= floor(clamped value) < boundaries[i]. The
    list is collect()ed from the SKETCH frame (<= nbkt rows) — the
    one intentionally driver-side step, same class as a broadcast
    dimension."""
    if parts < 1:
        raise ValueError(f"parts must be >= 1, got {parts}")
    hist = (
        df.select(qsk_bucket_expr(value_col, width, nbkt).alias("bkt"))
        .groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("bkt")
    )
    rows = hist.collect()
    n = sum(r["c"] for r in rows)
    if n == 0:
        return []
    cuts: list[int] = []
    cum_before = 0
    prev_pid = 0
    for r in rows:
        pid = min(parts - 1, cum_before * parts // n)
        if pid != prev_pid:
            cuts.append(r["bkt"] * width)
            prev_pid = pid
        cum_before += r["c"]
    return cuts


def assign_range_id(
    df: DataFrame,
    value_col: str,
    boundaries: list[int],
    width: int = QSK_W,
    nbkt: int = QSK_NBKT,
) -> DataFrame:
    """Attach `range_id` = the number of boundaries at or below the
    row's clamped bucket value — a pure map-side expression (no join,
    no shuffle): the boundary list is a constant folded into the
    plan."""
    clamped = f"least(greatest(CAST(floor({value_col}) AS BIGINT), 0), {width * nbkt - 1})"
    expr = " + ".join(
        [f"(CASE WHEN {clamped} >= {b} THEN 1 ELSE 0 END)" for b in boundaries]
    ) or "0"
    return df.withColumn("range_id", F.expr(expr).cast("int"))


def write_range_partitioned(
    df: DataFrame,
    value_col: str,
    path: str,
    parts: int,
    fmt: str = "parquet",
    width: int = QSK_W,
    nbkt: int = QSK_NBKT,
) -> list[int]:
    """Write `df` under `path` as `range_id=<i>` directories whose
    ranges are the sketch-planned equi-depth cuts of `value_col`.
    Returns the boundary list (persist it beside the dataset — the
    next run reuses it for a layout-stable append, and readers prune
    directories from it).

    The write is one exchange: rows repartition on the assigned
    range_id, then each task writes its own directory. Re-running on
    the same data reproduces the identical layout bit-for-bit."""
    boundaries = plan_range_boundaries(df, value_col, parts, width, nbkt)
    assigned = assign_range_id(df, value_col, boundaries, width, nbkt)
    (
        assigned.repartition("range_id")
        .write.partitionBy("range_id")
        .format(fmt)
        .mode("overwrite")
        .save(path)
    )
    return boundaries


def read_range_pruned(
    spark,
    path: str,
    value_col: str,
    boundaries: list[int],
    lo: float | None = None,
    hi: float | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """Read the range layout with DIRECTORY pruning: a [lo, hi] value
    predicate is translated through the persisted boundaries into a
    range_id interval, which Spark's partition pruning turns into
    "never list, open, or scan the other directories" — the payoff of
    the deterministic layout (the value filter is still applied for
    exactness at the range edges).

    With N ranges and a selective predicate this reads ~|hit ranges|/N
    of the dataset at 100 TB, before any row-group statistics help."""
    bounds = list(boundaries)
    first = 0
    last = len(bounds)  # range ids run 0..len(bounds)
    if lo is not None:
        # the range below a cut b <= lo holds values < b <= lo only,
        # so this is already the tight lower range id — including for
        # cut-aligned predicates (values == lo live in the range ABOVE
        # the cut)
        first = sum(1 for b in bounds if b <= lo)
    if hi is not None:
        last = sum(1 for b in bounds if b <= hi)
    df = spark.read.option("basePath", path).format(fmt).load(path)
    pruned = df.filter(
        (F.col("range_id") >= first) & (F.col("range_id") <= last)
    )
    if lo is not None:
        pruned = pruned.filter(F.col(value_col) >= lo)
    if hi is not None:
        pruned = pruned.filter(F.col(value_col) <= hi)
    return pruned
