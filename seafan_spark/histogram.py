"""Mergeable equi-width histogram sketches and distributed quantile estimates.

The 100 TB pattern (sibling of the HLL sketch table in ``sketches.py``):
exact quantiles over a petabyte fact table need a global sort or a
full-width `percentile` shuffle per question. A *histogram sketch table*
inverts the cost — one scan builds a tiny (group x bucket -> count,
bin_min, bin_max) table with map-side partial aggregation, and every later
question (median per segment, p99 last quarter, overall IQR) is answered
from kilobytes of sketch rows. The merge operator is exact (counts add,
mins/maxes combine), so rollups compose associatively and incremental
refresh only re-sketches the partitions that changed.

Accuracy: a quantile estimate lands inside the true value's bucket and is
interpolated between the bucket's *observed* min and max, so the error is
bounded by one bucket's observed spread — and is exactly 0 whenever the
bucket holds a single distinct value. Estimates are a pure function of the
input multiset and the (lo, hi, nbins) grid: deterministic, hence
hash-checkable against a SQL twin.

Everything stays JVM-side Columns (no UDFs). The bucket index is computed
with explicit double arithmetic rather than the engine's ``width_bucket``
builtin so the same formula text can run on any SQL engine (DuckDB has no
``width_bucket``) and produce bit-identical assignments.

North-star operator: the reference engine (seafan) has no sketch surface;
its ``Desc`` (desc.go) recomputes exact quantiles per call.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from seafan_spark.session import _plan_literal


def bucket_col(v: Column, lo: float, hi: float, nbins: int) -> Column:
    """Equi-width bucket index of ``v`` over [lo, hi): 0 = underflow,
    ``nbins + 1`` = overflow (v >= hi), else 1..nbins. The in-range index
    is ``1 + floor((v - lo) * nbins / (hi - lo))`` clamped to nbins — the
    multiply-then-divide order is part of the contract (IEEE doubles make
    it reproducible across engines when written identically). NaN lands
    in the overflow bucket on BOTH engines (Spark and DuckDB each order
    NaN above every value, so ``NaN >= hi`` is true in both — verified,
    not assumed)."""
    if not (hi > lo) or nbins < 1:
        raise ValueError(f"need hi > lo and nbins >= 1, got [{lo}, {hi}) x {nbins}")
    x = v.cast("double")
    raw = F.floor((x - F.lit(float(lo))) * F.lit(float(nbins)) / F.lit(float(hi - lo)))
    inner = F.lit(1) + F.least(F.lit(nbins - 1), raw)
    return (
        # explicit NULL passthrough: least() SKIPS null args, so without
        # this branch a NULL value would land in bucket nbins-1
        F.when(x.isNull(), F.lit(None))
        .when(x < F.lit(float(lo)), F.lit(0))
        .when(x >= F.lit(float(hi)), F.lit(nbins + 1))
        .otherwise(inner)
        .cast("bigint")
    )


def bucket_sql(value_expr: str, lo: float, hi: float, nbins: int) -> str:
    """The ANSI-SQL twin of :func:`bucket_col` — same formula, same
    arithmetic order, for oracle cross-checks on any engine."""
    return (
        f"CASE WHEN {value_expr} IS NULL THEN NULL "
        f"WHEN {value_expr} < {lo!r} THEN 0 "
        f"WHEN {value_expr} >= {hi!r} THEN {nbins + 1} "
        f"ELSE 1 + LEAST({nbins - 1}, CAST(FLOOR(({value_expr} - {lo!r}) * "
        f"{float(nbins)!r} / {float(hi - lo)!r}) AS BIGINT)) END"
    )


def histogram_sketch_table(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """One (bucket, count, bin_min, bin_max) row per group x occupied
    bucket — the build-once artifact. One scan, map-side partial
    aggregation (count/min/max are all combiners), shuffle carries only
    partial bucket rows, never raw values. NULLs are dropped (they have
    no bucket), matching SQL aggregate semantics."""
    v = F.col(value_col).cast("double")
    b = bucket_col(F.col(value_col), lo, hi, nbins)
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(v).alias("bin_min"),
            F.max(v).alias("bin_max"),
        )
    )


def histogram_rollup(
    hist: DataFrame,
    group_cols: Sequence[str],
) -> DataFrame:
    """Merge fine-grained sketch rows up to coarser groups (``group_cols``
    may be empty for a grand total). Exact merge: counts add, extrema
    combine — a rollup of per-day sketches equals the sketch built
    directly on the union, which is what the oracle cross-check asserts."""
    keys = [*group_cols, "bucket"]
    return hist.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.min("bin_min").alias("bin_min"),
        F.max("bin_max").alias("bin_max"),
    )


def quantiles_from_histogram(
    hist: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
) -> DataFrame:
    """Quantile estimates per group from a sketch table: for each q the
    estimate interpolates inside the first bucket whose cumulative count
    reaches ``q * total``, between that bucket's observed min and max —
    so the estimate is always a value the data could have contained and
    the error is bounded by one bucket's spread.

    All-window implementation (one shuffle on the group keys, sketch-sized
    input): cumulative counts via an ordered window, q fan-out via a
    literal explode, bucket selection via a filter — no driver collection,
    so it works on a sketch table of any width (millions of groups).
    """
    bad = [q for q in qs if not (0.0 <= q <= 1.0)]
    if bad:
        raise ValueError(f"quantiles must be in [0, 1], got {bad}")
    wc = (
        Window.partitionBy(*group_cols).orderBy("bucket")
        if group_cols
        else Window.orderBy("bucket")
    )
    wt = wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    qarr = _plan_literal([float(q) for q in qs], "array<double>")
    d = (
        hist.withColumn("_cume", F.sum("cnt").over(wc))
        .withColumn("_total", F.sum("cnt").over(wt))
        .withColumn("q", F.explode(qarr))
    )
    # target rank in (0, total]; tiny floor keeps q=0 inside the first bucket
    target = F.greatest(F.col("q") * F.col("_total"), F.lit(1e-12))
    before = F.col("_cume") - F.col("cnt")
    d = d.where((before < target) & (F.col("_cume") >= target))
    frac = (target - before) / F.col("cnt")
    est = F.col("bin_min") + frac * (F.col("bin_max") - F.col("bin_min"))
    # q=0 means "the minimum": return the first bucket's observed min
    # exactly rather than an epsilon-rank interpolation
    est = F.when(F.col("q") == 0.0, F.col("bin_min")).otherwise(est)
    return d.select(*group_cols, "q", est.alias("estimate"))


def psi_from_histograms(
    hist_a: DataFrame,
    hist_b: DataFrame,
    group_cols: Sequence[str],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per group between two sketch tables on
    the SAME (lo, hi, nbins) grid — the drift monitor of a recurring
    pipeline: PSI(a, b) = sum_buckets (p_i - q_i) * ln(p_i / q_i), where
    p/q are the bucket shares of each side, floored at ``eps`` so a
    bucket empty on one side contributes a finite penalty instead of
    infinity. Common reading: < 0.1 stable, 0.1-0.25 shifting, > 0.25
    drifted.

    Because the inputs are sketch tables, comparing this week's corpus
    against last week's touches kilobytes per question — the sketches
    were each built in their own single scan. Sketch-sized shuffles only:
    a full outer join on (group, bucket), then one aggregation. PSI is
    symmetric-ish in shape but not in value; a and b are conventionally
    (expected/baseline, actual/current)."""
    keys = [*group_cols, "bucket"]
    a = hist_a.select(*keys, F.col("cnt").alias("cnt_a"))
    b = hist_b.select(*keys, F.col("cnt").alias("cnt_b"))
    j = a.join(b, on=keys, how="full_outer").select(
        *group_cols,
        F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
    )
    wt = (
        Window.partitionBy(*group_cols)
        if group_cols
        else Window.partitionBy(F.lit(1))
    )
    # a group present on only one side has total 0 there: 0/0 would abort
    # under ANSI — and "drift vs nothing" is not a meaningful PSI, so such
    # groups are dropped (inner semantics at the group level)
    j = (
        j.withColumn("_tot_a", F.sum("cnt_a").over(wt))
        .withColumn("_tot_b", F.sum("cnt_b").over(wt))
        .where((F.col("_tot_a") > 0) & (F.col("_tot_b") > 0))
    )
    p = F.greatest(F.col("cnt_a") / F.col("_tot_a"), F.lit(float(eps)))
    q = F.greatest(F.col("cnt_b") / F.col("_tot_b"), F.lit(float(eps)))
    term = (p - q) * F.log(p / q)
    d = j.withColumn("_term", term)
    if group_cols:
        return d.groupBy(*group_cols).agg(F.sum("_term").alias("psi"))
    return d.agg(F.sum("_term").alias("psi"))
