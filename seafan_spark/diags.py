"""Model diagnostics (reference diags.go), rebuilt as aggregations.

Every diagnostic here is one or two Spark aggregation passes (map-side
partials, no raw-row collection) returning small driver-side results — the
reference sorts/copies entire columns in memory per call (e.g. KS sorts both
class vectors, diags.go:148-149).

Plotting is intentionally out of scope (the reference renders plotly HTML);
each function returns the numbers the plots are drawn from.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from seafan_spark.ftypes import FRole
from seafan_spark.pipeline import Pipeline
from seafan_spark.session import _local_frame, _plan_literal
from seafan_spark.slicer import Slice

THRESH = 0.5  # binary threshold (diags.go thresh const)


def ks(pipe: Pipeline, fit: str, obs: str, bins: int = 1000) -> float:
    """Two-sample KS of fitted scores split by binary outcome
    (KS, diags.go:110-221): 100 * max |CDF_target - CDF_rest|.

    The reference interpolates both empirical CDFs on a 101-point grid; here
    scores are bucketed into ``bins`` equal-width bins in one aggregation
    pass and the CDF difference is maximized over bin edges — resolution
    1/bins of the score range, no per-class sort, scales to any row count.
    """
    # not routed through ks_by(keys=()): that measured 2x slower (0.53 vs 0.26 s wall)
    # rows with a NULL score or outcome are excluded entirely, as ks_by
    # excludes them: a NULL score would land in the top bin and a NULL
    # outcome would count as a negative
    scored = pipe.df.filter(F.col(fit).isNotNull() & F.col(obs).isNotNull())
    r = scored.agg(
        F.min(fit).alias("lo"),
        F.max(fit).alias("hi"),
        F.sum(F.when(F.col(obs) > THRESH, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col(obs) > THRESH, 0).otherwise(1)).alias("n0"),
    ).collect()[0]
    lo, hi, n1, n0 = r["lo"], r["hi"], r["n1"], r["n0"]
    if not n1 or not n0:
        raise ValueError("ks: need both positive and negative outcomes")
    if hi == lo:
        return 0.0
    width = (hi - lo) / bins
    b = F.least(F.floor((F.col(fit) - F.lit(lo)) / F.lit(width)), F.lit(bins - 1))
    counts = (
        scored.groupBy(
            b.alias("bin"), (F.col(obs) > THRESH).alias("is_t")
        )
        .count()
        .collect()
    )
    hist0 = [0] * bins
    hist1 = [0] * bins
    for row in counts:
        (hist1 if row["is_t"] else hist0)[int(row["bin"])] += row["count"]
    best, c0, c1 = 0.0, 0, 0
    for i in range(bins):
        c0 += hist0[i]
        c1 += hist1[i]
        best = max(best, abs(c1 / n1 - c0 / n0))
    return 100.0 * best


def decile_table(
    pipe: Pipeline,
    fit: str,
    obs: str,
    n_buckets: int = 10,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Decile table (Decile, diags.go:354-473): bucket by fitted-value
    quantiles, per bucket mean fit, mean obs, count, and the ±2 binomial-SE
    band around mean obs. Bucketing is NTILE-identical but distributed
    (range-repartition + per-partition rank, seafan_spark.rank) — no
    unpartitioned window, no single-task sort at scale.
    ``tiebreak`` columns make bucket assignment deterministic under ties."""
    from seafan_spark.rank import ntile_exact

    order = [(fit, True)] + [(c, True) for c in tiebreak]
    d, _ = ntile_exact(pipe.df, order, n_buckets, "_nt")
    d = d.withColumn("_dec", F.col("_nt") - F.lit(1)).drop("_nt")
    out = (
        d.groupBy("_dec")
        .agg(
            F.avg(fit).alias("mean_fit"),
            F.avg(obs).alias("mean_obs"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "se", F.sqrt(F.col("mean_obs") * (1 - F.col("mean_obs")) / F.col("n"))
        )
        .withColumn("lower", F.col("mean_obs") - 2 * F.col("se"))
        .withColumn("upper", F.col("mean_obs") + 2 * F.col("se"))
        .withColumnRenamed("_dec", "bucket")
        .orderBy("bucket")
    )
    return out


@dataclass
class SegRow:
    value: Any
    n: int
    mean_obs: float
    obs_se: float
    mean_fit_corrected: float


@dataclass
class SegResult:
    rows: list[SegRow]
    bias: float
    mad: float


def seg_table(
    pipe: Pipeline, obs: str, fit: str, seg: str, min_cnt: int = 100
) -> SegResult:
    """Per-segment mean observed vs bias-corrected mean fitted
    (SegPlot, diags.go:230-346): bias = global mean(fit) - mean(obs);
    each segment reports mean_obs ± 2·SE and mean_fit - bias; MAD is the
    mean |corrected fit - obs| over kept segments.

    The collected form of :func:`seg_table_df` (the reference iterates
    slices, re-copying rows per segment)."""
    rows = _seg_frame(pipe, obs, fit, seg, min_cnt).orderBy(seg).collect()
    if rows:
        bias = rows[0]["_bias"]
    else:  # no segment reaches min_cnt: the bias still describes the fit
        bias = pipe.df.agg(F.avg(fit) - F.avg(obs)).collect()[0][0]
    out = [
        SegRow(
            value=r[seg],
            n=r["n"],
            mean_obs=r["mean_obs"],
            obs_se=r["obs_se"],
            mean_fit_corrected=r["mean_fit_corrected"],
        )
        for r in rows
    ]
    mad = sum(abs(r.mean_fit_corrected - r.mean_obs) for r in out)
    return SegResult(rows=out, bias=bias, mad=mad / len(out) if out else float("nan"))


@dataclass
class AssessResult:
    n: int
    precision: float
    recall: float
    accuracy: float


def assess(pipe: Pipeline, fit: str, obs: str, cutoff: float) -> AssessResult:
    """Precision/recall/accuracy at a cutoff (Assess, diags.go:476-529):
    predicted-yes = fit > cutoff, observed-yes = obs > 0.999. The
    collected form of :func:`assess_r2_df`; precision is NaN when no row
    is predicted yes."""
    r = _assess_r2_frame(pipe, fit, obs, cutoff).collect()[0]
    if r["obs_tot"] == 0:
        raise ValueError("assess: no positive outcomes")
    if r["obs_tot"] == r["n"]:
        raise ValueError("assess: no negative outcomes")
    return AssessResult(
        n=r["n"], precision=r["precision"], recall=r["recall"], accuracy=r["accuracy"]
    )


def _seg_frame(pipe: Pipeline, obs: str, fit: str, seg: str, min_cnt: int) -> DataFrame:
    """:func:`seg_table_df` plus the global bias as ``_bias``."""
    bias_row = pipe.df.agg(
        (F.avg(fit) - F.avg(obs)).alias("_bias"),
    )
    per_seg = (
        pipe.df.groupBy(seg)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(obs).alias("mean_obs"),
            F.stddev_samp(obs).alias("std_obs"),
            F.avg(fit).alias("mean_fit"),
        )
        .filter(F.col("n") >= min_cnt)
    )
    return per_seg.crossJoin(F.broadcast(bias_row)).select(
        F.col(seg),
        F.col("n"),
        F.col("mean_obs"),
        (F.coalesce(F.col("std_obs"), F.lit(0.0)) / F.sqrt(F.col("n"))).alias("obs_se"),
        (F.col("mean_fit") - F.col("_bias")).alias("mean_fit_corrected"),
        F.col("_bias"),
    )


def seg_table_df(pipe: Pipeline, obs: str, fit: str, seg: str, min_cnt: int = 100):
    """Lazy DataFrame form of :func:`seg_table`: per-segment mean observed
    vs bias-corrected mean fitted ± 2·SE. The global bias (mean fit − mean
    obs) is a 1-row aggregate cross-joined in (broadcast — no second scan
    collected driver-side)."""
    return _seg_frame(pipe, obs, fit, seg, min_cnt).drop("_bias")


def _ratio(num: Column, den: Column) -> Column:
    """``num / den`` as a double, NaN when ``den`` is 0 (a bare division
    aborts the query under the default ANSI mode)."""
    return F.when(den == 0, F.lit(float("nan"))).otherwise(num.cast("double") / den)


def _assess_r2_frame(pipe: Pipeline, fit: str, obs: str, cutoff: float) -> DataFrame:
    """:func:`assess_r2_df` plus the raw ``obs_tot`` count."""
    pred = F.col(fit) > F.lit(cutoff)
    oy = F.col(obs) > F.lit(0.999)
    s = pipe.df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((pred & oy).cast("long")).alias("tp"),
        F.sum((~pred & ~oy).cast("long")).alias("tn"),
        F.sum(oy.cast("long")).alias("obs_tot"),
        F.sum(pred.cast("long")).alias("pred_tot"),
        F.sum(F.pow(F.col(obs) - F.col(fit), F.lit(2.0))).alias("sse"),
        F.var_samp(obs).alias("vy"),
    )
    return s.select(
        F.col("n"),
        _ratio(F.col("tp"), F.col("pred_tot")).alias("precision"),
        _ratio(F.col("tp"), F.col("obs_tot")).alias("recall"),
        _ratio(F.col("tp") + F.col("tn"), F.col("n")).alias("accuracy"),
        (
            F.lit(100.0)
            * (F.lit(1.0) - _ratio(F.col("sse"), (F.col("n") - 1) * F.col("vy")))
        ).alias("r2"),
        F.col("obs_tot"),
    )


def assess_r2_df(pipe: Pipeline, fit: str, obs: str, cutoff: float):
    """Assess + R2 fused into ONE lazy aggregation pass (one scan, one-row
    DataFrame, nothing collected driver-side). ``assess``/``r2`` are its
    collected forms. A zero denominator (no row predicted or observed
    positive, no rows, constant ``obs``) gives NaN, not a query error."""
    return _assess_r2_frame(pipe, fit, obs, cutoff).drop("obs_tot")


def r2(pipe: Pipeline, fit: str, obs: str) -> float:
    """100 * (1 - SSE/TSS) (R2, diags.go:734-754); the collected form of
    :func:`assess_r2_df` (NaN when ``obs`` is constant)."""
    return assess_r2_df(pipe, fit, obs, THRESH).select("r2").collect()[0][0]


def marginal(
    fr,
    pipe: Pipeline,
    feat: str,
    n_seg: int = 4,
    n_sweep: int = 4,
    take: int = 1000,
    max_cats: int = 10,
    seed: int = 42,
    tiebreak: str | None = None,
    seg_round: int | None = None,
):
    """Marginal-effect table (Marginal, diags.go:592-731): segment rows by
    quantile of the fitted value (high to low), counterfactually set
    ``feat`` to each sweep value, re-score, and report the fitted
    distribution per (segment, sweep value).

    Sweep grid follows the reference: continuous features sweep
    ``q0 + g*(q100-q0)/5`` for g = 1..n_sweep; categorical features sweep
    the top ``max_cats`` levels by count. The whole counterfactual grid is
    ONE DataFrame (rows × sweep values via explode) scored in ONE
    model.transform — no per-segment loop, no driver-side batching.

    Returns a DataFrame: (fit_seg, x_value, mean_fit, sd_fit, n) where
    fit_seg 1 = highest fitted segment.

    Determinism knobs (the argmax_round story applied to segmentation):
    by default the ntile tiebreak and the per-segment sample order use a
    seeded row hash — deterministic within Spark but not replayable
    elsewhere. ``tiebreak`` names an existing (unique) column to use
    instead, making the whole table replayable in plain SQL;
    ``seg_round`` rounds the fitted value to that many decimals before
    segmenting, so a 1-ulp scoring difference (numpy FMA vs another
    engine) near a segment boundary can't flip a row's segment —
    rounded ties fall to the tiebreak. The oracled ``marginal_fixed``
    query pins both.
    """
    from seafan_spark.model import predict
    from seafan_spark.rank import ntile_exact
    from seafan_spark.rounding import round_col

    scored = predict(fr, pipe, "mfit0")
    if tiebreak is None:
        # deterministic per-row hash: ntile tiebreak + sampling order
        hcol = F.xxhash64(
            *[F.col(c) for c in pipe.df.columns if not c.startswith("_")], F.lit(seed)
        )
    else:
        hcol = F.col(tiebreak)
    segkey = (
        round_col(F.col("mfit0"), seg_round)
        if seg_round is not None
        else F.col("mfit0")
    )
    # materialize the scored rows once: the distributed ntile below runs a
    # sampling pass + a counts pass + the final pass, and re-running the
    # model transform (VectorAssembler + predict) for each would triple the
    # scoring cost
    d0 = (
        scored.df.withColumn("_h", hcol)
        .withColumn("_segkey", segkey)
        # lazy: ntile_exact's first pass materializes the blocks; the
        # scoring transform still runs exactly once
        .localCheckpoint(eager=False)
    )
    # distributed NTILE (rank.py) — no unpartitioned window
    d, total = ntile_exact(d0, [("_segkey", False), ("_h", True)], n_seg, "fit_seg")
    d = d.drop("_segkey")
    # bounded per-segment sample = the `take` smallest hashes per segment.
    # Pre-filter to ~4x the needed rows by a uniform-hash threshold so the
    # per-segment rank window sorts O(take) rows, not the whole segment.
    # (hash mode only: a user tiebreak column has no uniformity contract)
    seg_size = -(-total // n_seg) if total else 0
    if tiebreak is None and seg_size > 4 * take:
        frac = 4.0 * take / seg_size
        d = d.filter(F.col("_h") <= F.lit(int(-(2**63) + frac * 2**64)))
    ws = Window.partitionBy("fit_seg").orderBy(F.col("_h"))
    d = (
        d.withColumn("rn0", F.row_number().over(ws))
        .filter(F.col("rn0") <= take)
        .drop("rn0", "_h")
    )

    ft = pipe.get_ftype(feat)
    dtype = dict(pipe.df.dtypes).get(feat, "double")
    is_cat = (ft is not None and ft.role == FRole.CAT) or dtype == "string"
    if is_cat:
        levels = [
            r[feat]
            for r in pipe.df.groupBy(feat)
            .count()
            .orderBy(F.col("count").desc(), F.col(feat).asc())
            .limit(max_cats)
            .collect()
        ]
        sweep = _plan_literal(levels, f"array<{dtype}>")
    else:
        q = pipe.df.agg(
            F.min(F.col(feat).cast("double")).alias("q0"),
            F.max(F.col(feat).cast("double")).alias("q100"),
        ).collect()[0]
        dp = (q["q100"] - q["q0"]) / 5.0
        sweep = _plan_literal(
            [q["q0"] + dp * g for g in range(1, n_sweep + 1)], "array<double>"
        )

    d = d.withColumn("x_value", F.explode(sweep)).withColumn(feat, F.col("x_value"))
    swept = pipe._derive(d)
    rescored = predict(fr, swept, "mfit1")
    return (
        rescored.df.groupBy("fit_seg", "x_value")
        .agg(
            F.avg("mfit1").alias("mean_fit"),
            F.stddev_samp("mfit1").alias("sd_fit"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("fit_seg", "x_value")
    )


def coalesce_col(
    oh_col: Column,
    n_cat: int,
    trg: Sequence[int],
    binary: bool = False,
    logodds: bool = False,
) -> Column:
    """Collapse a one-hot/softmax array column over target indices
    (Coalesce, diags.go:32-95):

    - binary: 1.0 if any target element > 0.5
    - logodds: softmax-normalize (exp / sum-exp) then sum targets
    - else: plain sum of target elements
    """
    if n_cat < 1:
        raise ValueError("coalesce: n_cat must be at least 1")
    if binary and logodds:
        raise ValueError("coalesce: cannot have both binary and logodds")
    for t in trg:
        if t > n_cat - 1:
            raise ValueError("coalesce: trg index out of range")
    els = [F.element_at(oh_col, t + 1) for t in trg]
    if binary:
        cond = els[0] > THRESH
        for e in els[1:]:
            cond = cond | (e > THRESH)
        return cond.cast("double")
    if logodds:
        den = sum(
            (F.exp(F.element_at(oh_col, i + 1)) for i in range(1, n_cat)),
            F.exp(F.element_at(oh_col, 1)),
        )
        return sum((F.exp(e) for e in els[1:]), F.exp(els[0])) / den
    return sum(els[1:], els[0])


def logodds_col(p: Column, clamp: float = 10.0) -> Column:
    """log(p/(1-p)) clamped to ±clamp at the 0/1 boundaries
    (AddFitted's logodds option, diags.go:557-569)."""
    safe = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    lo = F.log(safe / (F.lit(1.0) - safe))
    return F.least(F.greatest(lo, F.lit(-clamp)), F.lit(clamp))


# --------------------------------------------------- isotonic calibration ----
def isotonic_calibrate(
    pipe,
    score_col: str,
    label_col: str,
    bins: int = 100,
) -> DataFrame:
    """Binned isotonic (monotone) calibration of a model score against a
    0/1 outcome — the standard post-hoc probability calibration (Zadrozny
    & Elkan 2002), fitted with pool-adjacent-violators over score-quantile
    bins instead of raw rows so it scales: the corpus contributes the
    quantile-edge computation (distributed rank, agg.exact_quantiles) and
    ONE groupBy down to ``bins`` cells; PAV pools the tiny bin relation
    driver-side (deterministic, weighted by bin counts); the result maps
    each bin to its calibrated probability.

    Returns one row per non-empty bin: (bin, score_lo, n, mean_score,
    mean_label, calibrated) with ``calibrated`` non-decreasing in
    ``bin``.  Apply to new data by bucketing a score the same way and
    joining (the bins relation broadcasts).
    """
    from seafan_spark.agg import exact_quantiles
    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe)
    us = [i / bins for i in range(bins)]
    _, qs = exact_quantiles(d, score_col, us)
    # distinct, sorted edges; duplicate quantiles (ties) merge bins
    edges = sorted({v for v in qs.values() if v is not None})
    if not edges:
        raise ValueError("isotonic_calibrate: no non-null scores")
    earr = _plan_literal([float(e) for e in edges], "array<double>")
    score = F.col(score_col).cast("double")
    # bin = number of edges <= score, 1-based (JVM O(bins) per row)
    bin_col = F.aggregate(
        earr,
        F.lit(0),
        lambda acc, e: acc + F.when(score >= e, F.lit(1)).otherwise(F.lit(0)),
    )
    cells = (
        d.filter(score.isNotNull())
        .withColumn("_bin", bin_col)
        .groupBy("_bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(score).alias("mean_score"),
            F.avg(F.col(label_col).cast("double")).alias("mean_label"),
        )
        .orderBy("_bin")
    )
    rows = cells.collect()  # <= bins rows by construction
    # weighted PAV: pool adjacent bins while the running mean decreases;
    # each block remembers how many bins it swallowed so the fitted
    # value expands back onto exactly those bins
    blocks: list[list[float]] = []  # [sum_w*y, sum_w, n_bins]
    for r in rows:
        w, y = float(r["n"]), float(r["mean_label"])
        blocks.append([w * y, w, 1])
        while len(blocks) > 1 and (
            blocks[-2][0] / blocks[-2][1] > blocks[-1][0] / blocks[-1][1]
        ):
            b = blocks.pop()
            blocks[-1][0] += b[0]
            blocks[-1][1] += b[1]
            blocks[-1][2] += b[2]
    out_vals: list[float] = []
    for b in blocks:
        out_vals.extend([b[0] / b[1]] * int(b[2]))
    spark = d.sparkSession
    lo = {i + 1: e for i, e in enumerate(edges)}
    out_rows = [
        (
            int(r["_bin"]),
            float(lo.get(int(r["_bin"]), edges[0])),
            int(r["n"]),
            float(r["mean_score"]),
            float(r["mean_label"]),
            float(v),
        )
        for r, v in zip(rows, out_vals)
    ]
    res = _local_frame(
        spark,
        out_rows,
        "bin int, score_lo double, n bigint, mean_score double, "
        "mean_label double, calibrated double",
    )
    return res.select(
        "bin",
        round_col(F.col("score_lo"), 6).alias("score_lo"),
        "n",
        round_col(F.col("mean_score"), 6).alias("mean_score"),
        round_col(F.col("mean_label"), 6).alias("mean_label"),
        round_col(F.col("calibrated"), 6).alias("calibrated"),
    )


def auc_by(
    pipe,
    fit: str,
    obs: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """ROC AUC of a score against a binary outcome, optionally per group
    — the companion to :func:`ks`/:func:`decile_table` the reference's
    diagnostics stop short of (diags.go has KS and deciles only).

    Computed rank-wise (the Mann-Whitney identity), never by curve
    integration:

        AUC = (sum of positive midranks - n1*(n1+1)/2) / (n1 * n0)

    Midranks (``rank + (ties-1)/2``) make tied scores count half, which
    is exactly the trapezoidal tie convention. Returns one row per group:
    (keys..., n_pos, n_neg, auc). Groups missing a class get NULL auc
    (undefined) rather than an error — fairness-style scans over many
    segments shouldn't abort on a degenerate one.

    Scale shape: with keys the rank is a window PARTITIONED by the group
    keys (each group ranks independently, distributed across groups);
    with NO keys the midrank comes from the distributed-rank machinery
    (``agg._global_midrank``: range repartition + per-partition rank +
    driver offsets) — never a corpus-sized single-task window. One
    aggregation pass after ranking; integer-exact until the final
    division, so the statistic is bit-identical cross-engine.
    """
    from seafan_spark.agg import _global_midrank
    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe)
    keys = list(keys)
    score = F.col(fit).cast("double")
    label = F.when(F.col(obs).cast("double") > THRESH, 1).otherwise(0)
    base = d.filter(score.isNotNull() & F.col(obs).isNotNull()).select(
        *keys, score.alias("_s"), label.alias("_y")
    )
    if keys:
        from seafan_spark.rank import keyed_midrank

        # round-10: the keyed window form funneled each low-cardinality
        # key cell's corpus-fraction sort through one task
        ranked = keyed_midrank(base, keys, "_s", mid_out="_mid")
    else:
        ranked, _ = _global_midrank(base, "_s", "_mid")
    agg = ranked.groupBy(*keys).agg(
        F.sum("_y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).alias("n_neg"),
        F.sum(F.col("_mid") * F.col("_y")).alias("_r1"),
    )
    n1 = F.col("n_pos").cast("double")
    n0 = F.col("n_neg").cast("double")
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        (F.col("_r1") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)) / (n1 * n0),
    )
    return agg.select(*keys, "n_pos", "n_neg", round_col(auc, 6).alias("auc"))


def average_precision_by(
    pipe,
    fit: str,
    obs: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Average precision (the step-interpolated area under the
    precision-recall curve), optionally per group — the PR-side companion
    to :func:`auc_by`, preferred when positives are rare:

        AP = sum_k (R_k - R_{k-1}) * P_k

    over thresholds placed between DISTINCT score values in descending
    order (the standard estimator: each distinct score contributes its
    positives' recall mass at that threshold's precision). Ties carry no
    ordering ambiguity because the curve only steps between distinct
    values. Returns (keys..., n_pos, n_neg, ap); a group with no
    positives gets NULL ap.

    Scale shape: one map-side-partial groupBy collapses rows to the
    (group, distinct score) relation with positive/negative counts; with
    keys the cumulative TP/FP are windows PARTITIONED by the group keys
    over that collapsed relation; with NO keys they come from
    ``rank.attach_running_ops`` (range repartition + driver carry-ins) —
    never a corpus-sized single-task window. One final aggregation; each
    per-threshold term is a ratio of exact integer counts (1-ulp exact),
    so the only cross-engine noise is summation order — O(n_thresholds *
    eps), absorbed by the 6 dp rounding.
    """
    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe)
    keys = list(keys)
    score = F.col(fit).cast("double")
    label = F.when(F.col(obs).cast("double") > THRESH, 1).otherwise(0)
    base = d.filter(score.isNotNull() & F.col(obs).isNotNull()).select(
        *keys, score.alias("_s"), label.alias("_y")
    )
    g = base.groupBy(*keys, "_s").agg(
        F.sum("_y").alias("_pos"),
        F.sum(F.lit(1) - F.col("_y")).alias("_neg"),
    )
    if keys:
        from seafan_spark.rank import keyed_running_scan

        # round-10: keyed running sums via the range-partitioned scan —
        # the distinct-score relation is corpus-sized for continuous
        # scores, so a keyed window would put a key cell on one task.
        # _pos/_neg are non-null longs (the sums contract); exact.
        g = keyed_running_scan(
            g, keys, [("_s", False)],
            sums={"_tp": F.col("_pos"), "_fp": F.col("_neg")},
        )
    else:
        from seafan_spark.rank import attach_running_ops

        g = attach_running_ops(
            g,
            [("_s", False)],
            [("_tp", "sum", F.col("_pos")), ("_fp", "sum", F.col("_neg"))],
        )
    prec = F.col("_tp").cast("double") / (F.col("_tp") + F.col("_fp")).cast("double")
    out = g.groupBy(*keys).agg(
        F.sum("_pos").alias("n_pos"),
        F.sum("_neg").alias("n_neg"),
        F.sum(F.col("_pos") * prec).alias("_apn"),
    )
    ap = F.when(
        F.col("n_pos") > 0, F.col("_apn") / F.col("n_pos").cast("double")
    )
    return out.select(
        *keys,
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        round_col(ap, 6).alias("ap"),
    )


def brier_decomposition(
    pipe,
    fit: str,
    obs: str,
    bins: int = 10,
) -> DataFrame:
    """Brier score with the Murphy (1973) reliability-resolution
    decomposition over equal-width probability bins — the calibration
    summary behind :func:`isotonic_calibrate`'s curve:

        brier      = mean((p - y)^2)
        reliability = sum_k n_k (pbar_k - ybar_k)^2 / N   (want ~0)
        resolution  = sum_k n_k (ybar_k - ybar)^2 / N     (want large)
        uncertainty = ybar (1 - ybar)

    The identity ``brier = reliability - resolution + uncertainty``
    holds exactly only when scores are constant within bins; the gap
    (within-bin variance) is reported as ``within_bin`` so the table is
    self-consistent. Returns ONE row: (n, brier, reliability,
    resolution, uncertainty, within_bin).

    Scale shape: one map-side-partial groupBy to the ``bins``-row bin
    relation carrying (n, sum p, sum y, sum (p-y)^2), then one scalar
    aggregation — the corpus shuffles once, kilobytes. Scores are
    clamped into [0, 1] before binning (the top edge closes the last
    bin, the standard convention).
    """
    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe)
    if bins < 1:
        raise ValueError("brier_decomposition: bins must be >= 1")
    p = F.col(fit).cast("double")
    y = F.when(F.col(obs).cast("double") > THRESH, 1.0).otherwise(0.0)
    base = d.filter(p.isNotNull() & F.col(obs).isNotNull()).select(
        F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)).alias("_p"),
        y.alias("_y"),
    )
    b = F.least(
        F.floor(F.col("_p") * F.lit(float(bins))).cast("int"), F.lit(bins - 1)
    )
    g = base.groupBy(b.alias("_bin")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_p").alias("_sp"),
        F.sum("_y").alias("_sy"),
        F.sum((F.col("_p") - F.col("_y")) * (F.col("_p") - F.col("_y"))).alias(
            "_sq"
        ),
    )
    tot = g.agg(
        F.sum("_n").alias("n"),
        F.sum("_sq").alias("_ssq"),
        F.sum("_sy").alias("_tsy"),
        # sum over bins of n_k * (pbar_k - ybar_k)^2 expands to per-bin
        # closed forms of the three sums — no second corpus pass
        F.sum(
            (F.col("_sp") - F.col("_sy"))
            * (F.col("_sp") - F.col("_sy"))
            / F.col("_n").cast("double")
        ).alias("_rel_n"),
        F.sum(
            F.col("_sy") * F.col("_sy") / F.col("_n").cast("double")
        ).alias("_sy2n"),
    )
    nn = F.col("n").cast("double")
    ybar = F.col("_tsy") / nn
    brier = F.col("_ssq") / nn
    rel = F.col("_rel_n") / nn
    # resolution = sum n_k (ybar_k - ybar)^2 / N = (sum sy_k^2/n_k)/N - ybar^2
    res = F.col("_sy2n") / nn - ybar * ybar
    unc = ybar * (F.lit(1.0) - ybar)
    within = brier - (rel - res + unc)
    return tot.select(
        F.col("n").cast("long").alias("n"),
        round_col(brier, 6).alias("brier"),
        round_col(rel, 6).alias("reliability"),
        round_col(res, 6).alias("resolution"),
        round_col(unc, 6).alias("uncertainty"),
        round_col(within, 6).alias("within_bin"),
    )


def ks_by(
    pipe,
    fit: str,
    obs: str,
    keys: Sequence[str] = (),
    bins: int = 1000,
) -> DataFrame:
    """Grouped, fully-distributed two-sample KS of a score split by a
    binary outcome — the DataFrame generalization of :func:`ks` (the
    reference's flagship diagnostic, diags.go:110-221): 100 * max
    |CDF_pos - CDF_neg| over ``bins`` equal-width bins of each group's
    own score range. Returns (keys..., n_pos, n_neg, ks); groups
    missing a class get NULL (a one-class KS is undefined), and a
    zero-range group scores exactly 0.

    Unlike :func:`ks` (which folds two histograms driver-side — fine
    for one statistic, not for a thousand-segment fairness scan), every
    stage here is a relation: per-group score range and class totals
    from one aggregation, bin counts from a second map-side-partial
    groupBy (at most ``bins`` rows per group, regardless of corpus
    size), and the CDF-difference maximum from one keyed window over
    that bounded relation. Each CDF term is a ratio of exact integer
    counts, so the statistic is deterministic cross-engine.
    """
    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe)
    keys = list(keys)
    score = F.col(fit).cast("double")
    label = F.when(F.col(obs).cast("double") > THRESH, 1).otherwise(0)
    base = d.filter(score.isNotNull() & F.col(obs).isNotNull()).select(
        *keys, score.alias("_s"), label.alias("_y")
    )
    rng = base.groupBy(*keys).agg(
        F.min("_s").alias("_lo"),
        F.max("_s").alias("_hi"),
        F.sum("_y").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).alias("n_neg"),
    )
    joined = (
        base.join(F.broadcast(rng), on=keys, how="inner")
        if keys
        else base.crossJoin(F.broadcast(rng))
    )
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
    b = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("_s") - F.col("_lo")) / width).cast("int"),
            F.lit(bins - 1),
        )
    )
    cells = joined.groupBy(
        *keys, b.alias("_bin"), F.col("n_pos"), F.col("n_neg")
    ).agg(
        F.sum("_y").alias("_c1"),
        F.sum(F.lit(1) - F.col("_y")).alias("_c0"),
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    ).orderBy(F.col("_bin").asc()).rowsBetween(Window.unboundedPreceding, 0)
    # one-class groups would divide by zero under ANSI mode: NULL the
    # denominator instead — the final guard already returns NULL ks there
    safe_pos = F.when(F.col("n_pos") > 0, F.col("n_pos")).cast("double")
    safe_neg = F.when(F.col("n_neg") > 0, F.col("n_neg")).cast("double")
    diff = F.abs(
        F.sum("_c1").over(w).cast("double") / safe_pos
        - F.sum("_c0").over(w).cast("double") / safe_neg
    )
    scored = cells.withColumn("_d", diff)
    out = scored.groupBy(*keys, "n_pos", "n_neg").agg(F.max("_d").alias("_ks"))
    ks_val = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.lit(100.0) * F.col("_ks"),
    )
    return out.select(
        *keys,
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        round_col(ks_val, 6).alias("ks"),
    )


def conformal_interval(
    pipe,
    fit: str,
    obs: str,
    key_col: str,
    alpha: float = 0.1,
    calib_frac: float = 0.5,
    salt: str = "conformal",
):
    """Split conformal prediction intervals (Vovk et al.; Lei et al.
    2018): distribution-free (1 - alpha)-coverage bands around ANY
    point predictor, the finite-sample honesty wrapper a fitted model's
    predictions should ship with.

    A deterministic md5-keyed split (``sampling.hash_bucket_col`` on
    ``key_col`` — reproducible across runs/engines/retries) reserves
    ~``calib_frac`` of rows for calibration; q is the k-th smallest
    absolute residual there with ``k = ceil((n_calib + 1)(1 - alpha))``
    (the conformal order statistic — an exact rank, no interpolation,
    so cross-engine identical), and every row gets
    ``[fit - q, fit + q]`` plus its split label. Raises if the
    calibration set is too small for the requested alpha (k > n).

    Scale shape: the split is a pure hash filter (no shuffle); the
    order statistic comes from the distributed-rank machinery
    (``rank.global_row_number``: range repartition + per-partition rank
    + driver offsets) and fetches ONE row; the bands are a literal
    projection. The corpus never sorts globally.
    """
    import math as _math

    from seafan_spark.rank import global_row_number
    from seafan_spark.sampling import _BUCKETS, hash_bucket_col

    if not 0.0 < alpha < 1.0:
        raise ValueError("conformal_interval: alpha must be in (0, 1)")
    if not 0.0 < calib_frac < 1.0:
        raise ValueError("conformal_interval: calib_frac must be in (0, 1)")
    d = getattr(pipe, "df", pipe)
    bucket = hash_bucket_col(F.col(key_col), salt)
    is_calib = bucket < int(calib_frac * _BUCKETS)
    scored = d.withColumn("_cal", is_calib)
    calib = scored.filter(
        F.col("_cal") & F.col(fit).isNotNull() & F.col(obs).isNotNull()
    ).select(
        F.abs(F.col(obs).cast("double") - F.col(fit).cast("double")).alias("_r")
    )
    ranked, n = global_row_number(calib, [("_r", True)], "_rk")
    k = _math.ceil((n + 1) * (1.0 - alpha))
    if k > n:
        raise ValueError(
            f"conformal_interval: calibration set too small (n={n}) for "
            f"alpha={alpha} (needs k={k} <= n)"
        )
    q = float(ranked.filter(F.col("_rk") == k).collect()[0]["_r"])
    return scored.withColumn(
        "conf_lo", F.col(fit).cast("double") - F.lit(q)
    ).withColumn("conf_hi", F.col(fit).cast("double") + F.lit(q)).withColumnRenamed(
        "_cal", "is_calibration"
    )
