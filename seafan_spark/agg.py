"""Aggregation surface.

The reference has NO group-by operator — aggregation = whole-column summary
functions (parser.go:726-792), eager per-column Summary stats
(gdata.go:118-125), and the Slice group iterator (slicer.go). Here the
native form is ``df.groupBy().agg`` — strictly more capable; the
reference-shaped helpers below are thin layers over it.

Scale notes: ``describe`` computes every continuous field's stats in ONE
aggregation pass (map-side partial aggregation, no shuffle of raw rows);
categorical top-k is a groupBy/count per field (shuffle on the level key,
skew-safe under AQE).
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seafan_spark.ftypes import FRole
from seafan_spark.pipeline import Pipeline
from seafan_spark.session import _drop_zip_importers

QUANTILE_U = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0]


def describe(
    pipe: Pipeline, fields: Sequence[str] | None = None, top_k: int = 10
) -> dict[str, Any]:
    """Desc stats (data.go:154-204 / gdata.go:44-56).

    continuous field -> {"n", "mean", "std", "quantiles": [q0,q10,...,q100]}
    categorical field -> {"n", "levels": [(value, count), ...] top-k by count}
    """
    names = list(fields) if fields is not None else pipe.field_list()
    cts, cat = [], []
    for n in names:
        ft = pipe.fts.get(n)
        role = ft.role if ft is not None else FRole.CTS
        (cat if role in (FRole.CAT,) else cts).append(n)

    out: dict[str, Any] = {}
    if cts:
        aggs: list[Column] = []
        for c in cts:
            aggs += [
                F.count(F.col(c)).alias(f"{c}__n"),
                F.avg(F.col(c)).alias(f"{c}__mean"),
                F.stddev_samp(F.col(c)).alias(f"{c}__std"),
                F.percentile_approx(F.col(c), QUANTILE_U, 10000).alias(f"{c}__q"),
            ]
        row = pipe.df.agg(*aggs).collect()[0]
        for c in cts:
            out[c] = {
                "n": row[f"{c}__n"],
                "mean": row[f"{c}__mean"],
                "std": row[f"{c}__std"],
                "quantiles": row[f"{c}__q"],
            }
    for c in cat:
        lv = (
            pipe.df.groupBy(c)
            .count()
            .orderBy(F.col("count").desc(), F.col(c).asc())
            .limit(top_k)
            .collect()
        )
        n = pipe.df.agg(F.count(F.col(c))).collect()[0][0]
        out[c] = {"n": n, "levels": [(r[c], r["count"]) for r in lv]}
    return out


def exact_quantiles(
    df: DataFrame, field: str, us: Sequence[float]
) -> tuple[int, dict[float, float | None]]:
    """EXACT linearly-interpolated quantiles without a single-task sort
    and without an unbounded aggregation buffer.

    ``F.percentile`` funnels every distinct value of the column into one
    final aggregation buffer — fine at test scale, an executor OOM on a
    full-corpus column. Here: distributed global rank over the value
    (``rank.global_row_number``: range repartition + per-partition rank +
    driver offsets), then fetch ONLY the rows at the floor/ceil ranks of
    each target position (a pushed-down IN filter over ~2 x len(us)
    ranks) and interpolate driver-side with the same
    ``lo + (hi-lo) * frac`` definition as DuckDB's ``quantile_cont`` /
    Spark's ``percentile``. Two parallel jobs + a collect of at most
    ``2 * len(us)`` rows. Returns (non-null count, {u: quantile})."""
    import math

    from seafan_spark.rank import global_row_number

    d = df.select(F.col(field).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    ranked, n = global_row_number(d, [("_v", True)], "_rn")
    if n == 0:
        return 0, {u: None for u in us}
    positions = {u: 1.0 + (n - 1) * float(u) for u in us}
    need = sorted(
        {int(math.floor(p)) for p in positions.values()}
        | {int(math.ceil(p)) for p in positions.values()}
    )
    vals = {
        r["_rn"]: r["_v"]
        for r in ranked.filter(F.col("_rn").isin(need)).collect()
    }
    out: dict[float, float | None] = {}
    for u, pos in positions.items():
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        if lo == hi:
            out[u] = float(vals[lo])
        else:
            out[u] = float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))
    return n, out


def describe_df(pipe: Pipeline, field: str) -> DataFrame:
    """One-row Desc of a continuous field (data.go:154-168) with EXACT
    interpolated quantiles at u = [0,.1,.25,.5,.75,.9,1] (same
    linear-interpolation definition as DuckDB's ``quantile_cont``).

    Quantiles come from :func:`exact_quantiles` (distributed rank — no
    single-task sort, no unbounded ``F.percentile`` buffer), so this is
    eager: the quantile boundary rows are fetched up front and re-enter
    the one-row result as literals next to the lazy count/mean/std
    aggregates. ``describe`` keeps the approx path for wide multi-column
    profiling; this is the single-column oracle-able form."""
    c = F.col(field)
    _, qs = exact_quantiles(pipe.df, field, QUANTILE_U)
    return pipe.df.agg(
        F.count(c).alias("n"),
        F.avg(c).alias("mean"),
        F.stddev_samp(c).alias("std"),
        *[
            F.lit(qs[u]).cast("double").alias(f"q{int(u * 100)}")
            for u in QUANTILE_U
        ],
    )


def by_counts(pipe: Pipeline, field: str) -> DataFrame:
    """Value -> frequency (ByCounts, data.go:684-699)."""
    return pipe.df.groupBy(field).count()


def top_k(
    pipe: Pipeline, field: str, k: int, by_count: bool = True, ascending: bool = False
) -> DataFrame:
    """Top-k category values by count or by value (Levels.TopK,
    data.go:815-837)."""
    d = pipe.df.groupBy(field).count()
    key = F.col("count") if by_count else F.col(field)
    key = key.asc() if ascending else key.desc()
    tiebreak = F.col(field).asc() if by_count else F.col("count").desc()
    return d.orderBy(key, tiebreak).limit(k)


def group_by(pipe: Pipeline, keys: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """Native grouped aggregation — the generalization of Slice+summary
    (SURVEY §2.6). ``aggs`` maps output name -> aggregate Column."""
    return pipe.df.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def pivot_table(
    pipe: Pipeline,
    index: Sequence[str] | str,
    pivot_col: str,
    agg: Column,
    values: Sequence[str] | None = None,
) -> DataFrame:
    """Crosstab/pivot: one output column per ``pivot_col`` level, filled
    with ``agg`` over each (index, level) cell.

    Pass ``values`` explicitly at scale: it skips the extra
    distinct-scan Spark otherwise runs to discover levels, fixes the
    output schema for streaming/incremental use, and caps width (a
    pivot over an unbounded-cardinality column is a schema explosion —
    the same reason the reference's slicer requires declared levels).
    Nulls in empty cells are the caller's contract (coalesce after if
    defaults are wanted)."""
    idx = [index] if isinstance(index, str) else list(index)
    g = pipe.df.groupBy(*idx)
    p = g.pivot(pivot_col, list(values)) if values is not None else g.pivot(pivot_col)
    return p.agg(agg)


def summary(pipe: Pipeline, aggs: dict[str, Column]) -> dict[str, Any]:
    """Whole-table summary scalars in one pass (EvalSFunction family,
    parser.go:726-792)."""
    row = pipe.df.agg(*[c.alias(n) for n, c in aggs.items()]).collect()[0]
    return row.asDict()


def irr_by(
    pipe: Pipeline,
    keys: Sequence[str],
    flow_col: str,
    cost: float | None = None,
    cost_col: str | None = None,
    tol: float = 1e-4,
) -> DataFrame:
    """Per-group IRR: for each key group, the rate r solving
    ``npv(r, flows) = cost`` over the group's flows in pipeline order.

    The reference's IRR is whole-table and is its only concurrent code path
    (parser.go:617-658); this is the natural Spark generalization — groups
    partition across executors via ``applyInPandas`` (Arrow-batched), the
    per-group solve is vectorized numpy bisection (same bracket [-0.9999,
    1e4] and 1e-4 relative tolerance as the expression-language ``irr``).

    ``cost``: one cost for every group, or ``cost_col``: a per-row column
    whose first in-order value per group is that group's cost. Groups where
    the bracket has no sign change come back with rate = null/NaN (a
    distributed op must not abort the job for one degenerate group).

    Returns (keys..., rate double).
    """
    import numpy as np
    import pandas as pd

    if (cost is None) == (cost_col is None):
        raise ValueError("irr_by: pass exactly one of cost= or cost_col=")
    pipe._ensure_rid()
    order_cols = [c for c, _ in pipe.order_spec]
    proj = list(dict.fromkeys([*keys, *order_cols, flow_col] + ([cost_col] if cost_col else [])))
    d = pipe.df.select(*proj)
    key_fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                           for f in d.schema.fields if f.name in keys)
    out_schema = f"{key_fields}, rate double"
    fixed_cost = cost

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        _drop_zip_importers()
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        flows = pdf[flow_col].to_numpy(dtype="float64")
        c = float(pdf[cost_col].iloc[0]) if cost_col else float(fixed_cost)
        idx = np.arange(len(flows), dtype="float64")

        def f(r: float) -> float:
            # same boundary semantics as the scalar solver
            # (exprlang/compiler._solve_irr): (1+r)^i overflow -> term 0,
            # underflow to 0 -> term +-inf by flow sign
            with np.errstate(over="ignore", divide="ignore", invalid="ignore"):
                disc = np.power(1.0 + r, idx)
                terms = np.where(
                    disc == 0.0,
                    np.where(flows >= 0, np.inf, -np.inf),
                    flows / np.where(disc == 0.0, 1.0, disc),
                )
                val = float(np.sum(terms))
            return val - c

        lo, hi = -0.9999, 1e4
        flo, fhi = f(lo), f(hi)
        rate = float("nan")
        if flo * fhi <= 0:
            for _ in range(200):
                mid = (lo + hi) / 2.0
                fm = f(mid)
                if flo * fm <= 0:
                    hi, fhi = mid, fm
                else:
                    lo, flo = mid, fm
            r = (lo + hi) / 2.0
            if abs(f(r)) <= abs(tol * c) + tol:
                rate = r
        head = pdf.iloc[[0]][list(keys)].reset_index(drop=True)
        head["rate"] = rate
        return head

    return d.groupBy(*keys).applyInPandas(solve, schema=out_schema)


def _bisect_fused_cols(
    fl: Column,
    cost_col: Column,
    lo: float,
    hi: float,
    steps: int,
    npv_round: int,
    gated: bool,
) -> tuple[Column, Column, Column]:
    """The ENTIRE fixed-step bisection as one Column expression over a
    per-group flow array ``fl`` = array<struct<i: double, v: double>>
    sorted ascending by ``i`` (the sequential recurrence, verbatim,
    inside a higher-order fold) — zero driver round-trips per step.

    Every NPV fold adds terms in ascending ``i``, so the summation order
    is pinned by the array, not by partitioning; null flows contribute
    0.0 exactly as ``F.sum`` skips them; f(mid) is rounded with the
    in-plan ``rounding.round_col``; midpoints are the exact dyadic
    doubles ``(lo+hi)/2``. mid and the rounded f(mid) are let-bound once
    per step via the transform-singleton trick (HOF bodies get no codegen
    CSE), so each step costs exactly one NPV fold.

    ``gated=True`` (grouped contract): groups whose bracket shows no
    sign change — including NaN endpoints — freeze and yield NULL.
    ``gated=False`` (scalar contract): always step; the caller raises
    on a strictly positive product, and NaN endpoints step anyway.

    Returns (rate, f(lo), f(hi)) columns.
    """
    from seafan_spark.rounding import round_col as _rcol

    def _npv(r: Column) -> Column:
        return F.aggregate(
            fl,
            F.lit(0.0),
            lambda s, x: s
            + F.coalesce(
                x["v"] / F.pow(F.lit(1.0) + r, x["i"]), F.lit(0.0)
            ),
        )

    flo0 = _rcol(_npv(F.lit(lo)) - cost_col, npv_round)
    fhi0 = _rcol(_npv(F.lit(hi)) - cost_col, npv_round)

    def _step(acc: Column, _s: Column) -> Column:
        def _with_mid(mid: Column) -> Column:
            def _with_fm(fm: Column) -> Column:
                take_hi = (acc["flo"] * fm) <= F.lit(0.0)
                return F.struct(
                    F.when(take_hi, acc["lo"]).otherwise(mid).alias("lo"),
                    F.when(take_hi, mid).otherwise(acc["hi"]).alias("hi"),
                    F.when(take_hi, acc["flo"]).otherwise(fm).alias("flo"),
                    acc["ok"].alias("ok"),
                )

            return F.element_at(
                F.transform(
                    F.array(_rcol(_npv(mid) - cost_col, npv_round)),
                    _with_fm,
                ),
                1,
            )

        body = F.element_at(
            F.transform(
                F.array((acc["lo"] + acc["hi"]) / F.lit(2.0)), _with_mid
            ),
            1,
        )
        return F.when(acc["ok"], body).otherwise(acc) if gated else body

    acc0 = F.element_at(
        F.zip_with(
            F.array(flo0),
            F.array(fhi0),
            lambda a, b: F.struct(
                F.lit(float(lo)).alias("lo"),
                F.lit(float(hi)).alias("hi"),
                a.alias("flo"),
                (
                    ((a * b) <= F.lit(0.0)) if gated else F.lit(True)
                ).alias("ok"),
            ),
        ),
        1,
    )
    res = F.aggregate(F.sequence(F.lit(1), F.lit(int(steps))), acc0, _step)
    rate = F.element_at(
        F.transform(
            F.array(res),
            lambda q: F.when(q["ok"], (q["lo"] + q["hi"]) / F.lit(2.0)),
        ),
        1,
    )
    return rate, flo0, fhi0


def _irr_bisect_core(
    df: DataFrame,
    keys: list[str],
    flow_col: str,
    order: Sequence[str],
    cost: float | None,
    lo: float,
    hi: float,
    steps: int,
    npv_round: int,
    gated: bool,
) -> DataFrame:
    """The one fixed-step bisection IRR plan shared by :func:`irr_bisect`
    (``keys=[]``: the whole table is one group) and
    :func:`irr_by_bisect`. Lazy — no job runs until the caller's action.

    Flows are indexed ``i = row_number - 1`` over ``order`` within each
    ``keys`` group, gathered per group into one ``array_sort``-ed
    (i, v) array, and the whole walk runs in-plan
    (:func:`_bisect_fused_cols`). The default cost (half the flow total,
    null flows skipped like ``F.sum``) folds over that same sorted
    array, so its summation order is ascending ``i`` on any
    partitioning. Returns (keys..., rate, _flo, _fhi).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    g = (
        df.select(
            *keys,
            F.struct(
                (F.row_number().over(w) - 1).cast("double").alias("i"),
                F.col(flow_col).cast("double").alias("v"),
            ).alias("_x"),
        )
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("_x")).alias("_fl"))
    )
    if cost is None:
        c = F.aggregate(
            F.col("_fl"),
            F.lit(None).cast("double"),
            lambda s, x: F.when(x["v"].isNull(), s).otherwise(
                F.coalesce(s, F.lit(0.0)) + x["v"]
            ),
        ) / F.lit(2.0)
    else:
        c = F.lit(float(cost))
    g = g.select(*keys, "_fl", c.alias("_c"))
    rate, flo, fhi = _bisect_fused_cols(
        F.col("_fl"), F.col("_c"), float(lo), float(hi), steps, npv_round,
        gated,
    )
    return g.select(
        *keys, rate.alias("rate"), flo.alias("_flo"), fhi.alias("_fhi")
    )


def irr_bisect(
    df: DataFrame,
    flow_col: str,
    order: Sequence[str],
    cost: float | None = None,
    lo: float = 0.0,
    hi: float = 4.0,
    steps: int = 40,
    npv_round: int = 4,
) -> float:
    """DISTRIBUTED fixed-step bisection IRR: the rate r in [lo, hi] with
    ``npv(r, flows) = cost`` after exactly ``steps`` halvings.

    This is the deterministic, exactly-replayable half of the IRR family
    (the kcenter/mmr/rake unroll applied to a root-finder): the flow
    vector NEVER collects to the driver — the whole walk is one
    aggregate job (:func:`_irr_bisect_core` with no keys) and the
    driver collects one (rate, f(lo), f(hi)) row — unlike the
    reference-compat expression ``irr()`` which gathers the flows
    (parser.go:617-658). Decisions test the ROUNDED f(mid)
    (``npv_round`` decimals, the argmax_round story applied to a sign
    test) so cross-engine/cross-run sum-order noise can never flip a
    step; with a dyadic bracket every midpoint is an exact dyadic
    rational, so matching decisions give a BIT-EQUAL rate. ``cost``
    defaults to half the undiscounted flow total (brackets a root
    whenever the first flow is below half the total: f(0) = total −
    cost > 0, f(r→∞) → flow₀ − cost < 0). Raises ValueError when the
    bracket shows no sign change.

    A single cashflow series is small by contract: the series is
    indexed and gathered in one partition.

    Adaptive-tolerance root polishing stays in ``irr()``/``irr_by`` —
    fixed-step bisection trades their early exit for replayability.
    """
    if steps < 1:
        raise ValueError("irr_bisect: steps must be >= 1")
    row = _irr_bisect_core(
        df, [], flow_col, order, cost, lo, hi, steps, npv_round, gated=False
    ).collect()[0]
    flo, fhi = row["_flo"], row["_fhi"]
    if flo * fhi > 0:
        raise ValueError(
            f"irr_bisect: no sign change in [{lo}, {hi}] "
            f"(f(lo)={flo}, f(hi)={fhi})"
        )
    return float(row["rate"])


def irr_by_bisect(
    df: DataFrame,
    keys: Sequence[str],
    flow_col: str,
    order: Sequence[str],
    cost: float | None = None,
    lo: float = 0.0,
    hi: float = 4.0,
    steps: int = 40,
    npv_round: int = 4,
) -> DataFrame:
    """GROUPED distributed fixed-step bisection IRR — :func:`irr_bisect`
    per group: for each group g, the rate r in [lo, hi] with
    ``npv(r, flows_g) = cost_g`` after exactly ``steps`` halvings.

    One lazy plan (:func:`_irr_bisect_core`): a window shuffle on
    ``keys`` indexes each group's flows, the same exchange gathers them
    into one sorted array per group, and every group runs the whole walk
    in-plan. No driver round-trips, no eager job at build time, never an
    ``applyInPandas`` (contrast :func:`irr_by`, which Arrow-ships each
    group's flows to Python); flows never leave the JVM. Each group's
    flows must fit in one array (cohorts, not a corpus-sized series).

    Determinism contract shared with ``irr_bisect``: decisions test the
    ROUNDED f(mid) at exact dyadic midpoints, so each group's rate is
    bit-equal to ``irr_bisect`` on that group alone, and matching
    decisions give bit-equal rates cross-engine — the DuckDB twin stays
    the straightforward sequential 40-step CTE chain. ``cost`` defaults
    to half each group's undiscounted flow total. Groups whose bracket
    has no sign change return rate NULL (one degenerate group must not
    abort the job — the ``irr_by`` contract).

    Returns (keys..., rate double), one row per group.
    """
    if steps < 1:
        raise ValueError("irr_by_bisect: steps must be >= 1")
    keys = list(keys)
    if not keys:
        raise ValueError("irr_by_bisect: need at least one key (use irr_bisect)")
    return _irr_bisect_core(
        df, keys, flow_col, order, cost, lo, hi, steps, npv_round, gated=True
    ).select(*keys, "rate")


def rollup_table(
    pipe: Pipeline,
    keys: Sequence[str],
    aggs: dict[str, Column],
    kind: str = "rollup",
) -> DataFrame:
    """Hierarchical / cross-dimensional subtotals: ``kind='rollup'`` emits
    one row per grouping prefix (k1..kn, k1..kn-1, ..., grand total),
    ``'cube'`` one per key subset — Spark's native ROLLUP/CUBE, which
    computes every grouping level in a single shuffle (partial aggregation
    map-side, no per-level rescan of the input).

    Subtotal rows carry NULL in the rolled-up key columns plus a per-key
    ``g_<key>`` 0/1 flag (``grouping()``) so data-NULLs stay
    distinguishable from subtotal-NULLs — the standard SQL contract.
    """
    df = pipe.df
    if kind == "rollup":
        g = df.rollup(*keys)
    elif kind == "cube":
        g = df.cube(*keys)
    else:
        raise ValueError(f"rollup_table: kind must be rollup|cube, got {kind!r}")
    return g.agg(
        *[F.grouping(k).cast("int").alias(f"g_{k}") for k in keys],
        *[c.alias(n) for n, c in aggs.items()],
    )


def corr_matrix(pipe: Pipeline, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` as tidy rows
    (col_a, col_b, corr), col_a < col_b. ONE aggregation pass computes
    every pair (map-side partials; no per-pair rescans), then the 1-row
    result unpivots driver-free via ``stack`` — at any scale this moves
    exactly n*(n-1)/2 doubles."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in list(cols)[i + 1:]]
    agg = pipe.df.agg(
        *[F.corr(F.col(a), F.col(b)).alias(f"_c_{i}") for i, (a, b) in enumerate(pairs)]
    )
    stack_args = ", ".join(f"'{a}', '{b}', _c_{i}" for i, (a, b) in enumerate(pairs))
    return agg.select(
        F.expr(f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)")
    )


def distinct_counts(
    pipe: Pipeline, cols: Sequence[str], approx: bool = False, rsd: float = 0.05
) -> DataFrame:
    """Per-column distinct cardinalities in one pass: (field, n_distinct).

    ``approx=True`` uses HyperLogLog++ (``approx_count_distinct``,
    relative error ``rsd``) — at 100 TB the exact form's per-column
    distinct tracking is the memory hog, while HLL state is KB-sized and
    merge-able map-side; exact is the oracle-checkable default."""
    df = pipe.df
    f = (lambda c: F.approx_count_distinct(c, rsd)) if approx else F.count_distinct
    agg = df.agg(*[f(F.col(c)).alias(f"_d_{i}") for i, c in enumerate(cols)])
    stack_args = ", ".join(f"'{c}', _d_{i}" for i, c in enumerate(cols))
    return agg.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (field, n_distinct)")
    )


def ols_by(
    pipe: Pipeline, x_col: str, y_col: str, keys: Sequence[str]
) -> DataFrame:
    """Per-group simple linear regression (y = intercept + slope*x) in
    closed form: (keys..., n, slope, intercept, r2), one aggregation
    pass. The closed-form bridge between the expression language's
    scalar ``corr`` and the iterative model layer (model_glm is
    rows-only checkable; this surface is exactly SQL-twinnable).

    Scale shape: ONE map-side-partial groupBy computing the five moment
    sums; slope/intercept/r2 are post-aggregation arithmetic on one row
    per group. The moment formulas are written in the same association
    order as the DuckDB oracle so the hash check sees identical doubles
    after 6-dp rounding. Groups with zero x-variance get NULL slope/r2
    (the division is guarded, so ANSI mode never trips)."""
    from seafan_spark.rounding import round_col

    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    agg = pipe.df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x_n = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y_n = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(var_x_n != 0.0, cov_n / var_x_n)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.when(
        (var_x_n != 0.0) & (var_y_n != 0.0),
        (cov_n * cov_n) / (var_x_n * var_y_n),
    )
    return agg.select(
        *keys,
        F.col("n"),
        round_col(slope, 6).alias("slope"),
        round_col(intercept, 6).alias("intercept"),
        round_col(r2, 6).alias("r2"),
    )


def ttest_by(
    pipe: Pipeline, value_col: str, label_col: str, keys: Sequence[str]
) -> DataFrame:
    """Per-group Welch two-sample t-test of ``value_col`` between the
    label=true and label=false populations: (keys..., n1, n0, mean1,
    mean0, t_stat, df) — the A/B-comparison companion to the KS
    diagnostic, in closed form.

    ONE map-side-partial aggregation pass computes six conditional
    moment sums; the statistic and Welch-Satterthwaite df are
    post-aggregation arithmetic on one row per group, written in the
    same association order as the DuckDB twin so the hash check sees
    identical doubles after rounding. Groups without >= 2 rows on each
    side (or with zero pooled variance) get NULL t/df — the divisions
    are guarded, so ANSI mode never trips. No p-value column: neither
    engine ships an erf/ibeta builtin; compare |t| against the normal
    critical value at the df the row reports.
    """
    from seafan_spark.rounding import round_col

    x = F.col(value_col).cast("double")
    is1 = F.col(label_col).cast("boolean")
    one = F.when(is1, 1.0).otherwise(0.0)
    zero = F.when(is1, 0.0).otherwise(1.0)
    agg = pipe.df.groupBy(*keys).agg(
        F.sum(one).alias("_n1"),
        F.sum(zero).alias("_n0"),
        F.sum(x * one).alias("_s1"),
        F.sum(x * zero).alias("_s0"),
        F.sum(x * x * one).alias("_q1"),
        F.sum(x * x * zero).alias("_q0"),
    )
    n1, n0 = F.col("_n1"), F.col("_n0")
    m1, m0 = F.col("_s1") / n1, F.col("_s0") / n0
    # sample variance, ddof=1, in n*q - s*s form (same as ols_by)
    v1 = (n1 * F.col("_q1") - F.col("_s1") * F.col("_s1")) / (n1 * (n1 - 1.0))
    v0 = (n0 * F.col("_q0") - F.col("_s0") * F.col("_s0")) / (n0 * (n0 - 1.0))
    ok = (n1 >= 2.0) & (n0 >= 2.0)
    se2 = v1 / n1 + v0 / n0
    t = F.when(ok & (se2 > 0.0), (m1 - m0) / F.sqrt(se2))
    df = F.when(
        ok & (se2 > 0.0),
        (se2 * se2)
        / ((v1 / n1) * (v1 / n1) / (n1 - 1.0) + (v0 / n0) * (v0 / n0) / (n0 - 1.0)),
    )
    return agg.select(
        *keys,
        n1.cast("bigint").alias("n1"),
        n0.cast("bigint").alias("n0"),
        round_col(F.when(n1 > 0, m1), 6).alias("mean1"),
        round_col(F.when(n0 > 0, m0), 6).alias("mean0"),
        round_col(t, 6).alias("t_stat"),
        round_col(df, 6).alias("df"),
    )


def chisq_by(
    pipe: Pipeline, cat_col: str, label_col: str, keys: Sequence[str]
) -> DataFrame:
    """Per-group chi-square test of independence between ``cat_col`` and
    ``label_col``: (keys..., n, chi2, dof).

    Uses the zero-cell-safe expansion chi2 = n * sum_observed(o^2 /
    (rowtot*coltot)) - n — unobserved cells contribute nothing to the
    sum, so the contingency table never needs densifying. One map-side-
    partial count over (keys, cat, label), then window totals over the
    tiny counts table (cardinality = groups x cats x labels, never the
    fact table) and one final group-by. dof = (#cats-1)*(#labels-1) per
    group from the same counts.
    """
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = pipe.df.select(
        *keys, F.col(cat_col).alias("_cat"), F.col(label_col).alias("_lab")
    )
    c = d.groupBy(*keys, "_cat", "_lab").agg(
        F.count(F.lit(1)).cast("double").alias("_o")
    )
    wk = Window.partitionBy(*keys)
    rt = F.sum("_o").over(Window.partitionBy(*keys, "_cat"))
    ct = F.sum("_o").over(Window.partitionBy(*keys, "_lab"))
    n = F.sum("_o").over(wk)
    cells = c.select(
        *keys,
        n.alias("_n"),
        (F.col("_o") * F.col("_o") / (rt * ct)).alias("_term"),
        F.col("_cat"),
        F.col("_lab"),
    )
    out = cells.groupBy(*keys).agg(
        F.first("_n").alias("_nn"),
        F.sum("_term").alias("_sumterm"),
        F.count_distinct("_cat").alias("_ncat"),
        F.count_distinct("_lab").alias("_nlab"),
    )
    chi2 = F.col("_nn") * F.col("_sumterm") - F.col("_nn")
    dof = (F.col("_ncat") - 1) * (F.col("_nlab") - 1)
    return out.select(
        *keys,
        F.col("_nn").cast("bigint").alias("n"),
        round_col(chi2, 6).alias("chi2"),
        dof.cast("bigint").alias("dof"),
    )


def entropy_by(
    pipe: Pipeline, cat_col: str, keys: Sequence[str]
) -> DataFrame:
    """Per-group categorical diversity: (keys..., n, n_cats, entropy,
    gini) — Shannon entropy (nats) and Gini impurity of ``cat_col``'s
    distribution within each group. The standard corpus-monitoring
    rollup (is one source/language/domain collapsing the mixture?).

    One map-side-partial count over (keys, cat), a window total over the
    tiny counts table, one final group-by — the fact table shuffles
    once. Zero-probability cells can't occur (absent categories have no
    count row), so the p*ln(p) terms are always finite.
    """
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = pipe.df.select(*keys, F.col(cat_col).alias("_cat"))
    c = d.groupBy(*keys, "_cat").agg(F.count(F.lit(1)).cast("double").alias("_o"))
    n = F.sum("_o").over(Window.partitionBy(*keys))
    p = F.col("_o") / F.col("_n")
    out = (
        c.withColumn("_n", n)
        .groupBy(*keys)
        .agg(
            F.first("_n").alias("_nn"),
            F.count(F.lit(1)).alias("_ncats"),
            F.sum(-p * F.log(p)).alias("_h"),
            F.sum(p * p).alias("_sp2"),
        )
    )
    return out.select(
        *keys,
        F.col("_nn").cast("bigint").alias("n"),
        F.col("_ncats").cast("bigint").alias("n_cats"),
        round_col(F.col("_h"), 6).alias("entropy"),
        round_col(F.lit(1.0) - F.col("_sp2"), 6).alias("gini"),
    )


def _grouped_median(d: DataFrame, keys: Sequence[str], val: str) -> DataFrame:
    """Exact per-group median via rank arithmetic: (keys..., _med).

    The rank comes from the range-partitioned keyed scan (round-10
    upgrade: ``Window.partitionBy(keys)`` put each LOW-CARDINALITY key
    cell's corpus-fraction sort on one task; ``keyed_running_scan``
    spreads it over a run of partitions); the two middle rows are
    picked by row number against the group count (avg of both — even
    groups get the midpoint), so no aggregation buffer ever holds a
    group's distinct values (F.median's buffer is group-sized; a
    100 TB hot group would sink it).
    """
    from seafan_spark.rank import keyed_running_scan

    # ties in the order are broken arbitrarily, but the VALUE at each rank
    # is deterministic (equal values are interchangeable), and values are
    # all the median reads — no tiebreak column needed
    ranked = keyed_running_scan(
        d, list(keys), [(val, True)], rownum_out="_gm_rn", total_out="_gm_cnt"
    )
    # Spark `/` is DOUBLE division: without floor, an even group's lower
    # middle rank ((n+1)/2 = x.5) matches nothing and the "median" would
    # silently become the upper-middle value
    mid = ranked.filter(
        (F.col("_gm_rn") == F.floor((F.col("_gm_cnt") + 1) / 2))
        | (F.col("_gm_rn") == F.floor((F.col("_gm_cnt") + 2) / 2))
    )
    return mid.groupBy(*keys).agg(F.avg(val).alias("_med"))


def robust_outliers_by(
    pipe: Pipeline, value_col: str, keys: Sequence[str], k: float = 3.0
) -> DataFrame:
    """Per-group robust outlier summary: (keys..., n, median, mad,
    n_outliers) — an outlier is a row with |x - median| > k * MAD
    (median absolute deviation, no consistency constant; mean/std
    equivalents break down exactly when outliers are present, which is
    the point of using them).

    Scale shape: two grouped exact medians (value, then absolute
    deviation), each ONE shuffle+sort on the group key with the middle
    rows picked by rank arithmetic — never a group-sized aggregation
    buffer (see _grouped_median); the per-group medians broadcast back
    as slim joins. NULL values are excluded up front.
    """
    from seafan_spark.rounding import round_col

    from seafan_spark.rank import keyed_running_scan

    d = pipe.df.select(*keys, F.col(value_col).cast("double").alias("_x")).filter(
        F.col("_x").isNotNull()
    )
    med = _grouped_median(d, keys, "_x")
    dev = d.join(med, list(keys)).withColumn("_dev", F.abs(F.col("_x") - F.col("_med")))
    # the MAD rank scan checkpoints the deviation relation — rank the
    # full dev frame (carrying _med) so the final flagging pass reads
    # that checkpoint instead of recomputing scan + median join a third
    # time (round-10; same rank arithmetic as _grouped_median)
    ranked = keyed_running_scan(
        dev, list(keys), [("_dev", True)], rownum_out="_gm_rn", total_out="_gm_cnt"
    )
    mid = ranked.filter(
        (F.col("_gm_rn") == F.floor((F.col("_gm_cnt") + 1) / 2))
        | (F.col("_gm_rn") == F.floor((F.col("_gm_cnt") + 2) / 2))
    )
    mad = mid.groupBy(*keys).agg(F.avg("_dev").alias("_mad"))
    flagged = ranked.join(mad, list(keys))
    return (
        flagged.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("_med").alias("_m"),
            F.first("_mad").alias("_d"),
            F.sum(
                F.when(F.col("_dev") > F.lit(float(k)) * F.col("_mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            *keys,
            F.col("n").cast("bigint").alias("n"),
            round_col(F.col("_m"), 6).alias("median"),
            round_col(F.col("_d"), 6).alias("mad"),
            F.col("n_outliers").cast("bigint").alias("n_outliers"),
        )
    )


def profile_table(
    pipe,
    columns: Sequence[str] | None = None,
    exact_distinct: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """One-pass column census: for every (requested) column, the
    non-null count, null count, distinct count, and min/max rendered as
    strings — the profile a pipeline prints before trusting a new drop
    of data.

    ALL columns' statistics come from ONE aggregation over ONE scan
    (map-side partial aggregation; no per-column jobs, no driver loop
    over columns — profiling a 400-column table costs the same single
    pass as profiling 4). The wide single-row result is then unpivoted
    into one row per column via an inline array-of-structs explode —
    driver-free reshaping of an already-tiny relation.

    ``distinct`` defaults to HyperLogLog++ (``approx_count_distinct``,
    relative error ``rsd``) — the only choice at 100 TB where per-column
    exact distincts would keep full hash sets per column in every
    partial aggregate; pass ``exact_distinct=True`` for the oracle-grade
    exact census on bounded tables. min/max compute in the column's own
    type (so numeric ordering is numeric) and cast to string only for
    display."""
    d = getattr(pipe, "df", pipe)
    cols = list(columns) if columns is not None else list(d.columns)
    missing = [c for c in cols if c not in d.columns]
    if missing:
        raise ValueError(f"profile_table: unknown columns {missing}")
    # Two single-row aggregates instead of one: min/max over STRING
    # columns have immutable (non-UnsafeRow-mutable) buffer types, and
    # ONE such aggregate expression demotes the ENTIRE aggregation —
    # including the 6-way Expand the multi-distinct rewrite inserts —
    # from HashAggregate to SortAggregate (measured: two full sorts of
    # the expanded relation, rows x (columns+1), by 6 keys). Keeping
    # counts+distincts (all-long buffers) in their own aggregate keeps
    # them hash-based; min/max fold in a separate KEYLESS aggregate,
    # which needs no sort regardless of buffer type. One extra columnar
    # scan is far cheaper than sorting (columns+1) copies of the table.
    aggs = [F.count(F.lit(1)).alias("__n")]
    mm_aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs.append(F.count(col).alias(f"__c{i}"))
        aggs.append(
            (
                F.count_distinct(col)
                if exact_distinct
                else F.approx_count_distinct(col, rsd)
            ).alias(f"__d{i}")
        )
        mm_aggs.append(F.min(col).cast("string").alias(f"__mn{i}"))
        mm_aggs.append(F.max(col).cast("string").alias(f"__mx{i}"))
    wide = d.agg(*aggs)
    if mm_aggs:
        wide = wide.crossJoin(d.agg(*mm_aggs))
    dtypes = dict(d.dtypes)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col(f"__c{i}").cast("bigint").alias("n_non_null"),
                (F.col("__n") - F.col(f"__c{i}")).cast("bigint").alias("n_null"),
                F.col(f"__d{i}").cast("bigint").alias("n_distinct"),
                F.col(f"__mn{i}").alias("min_value"),
                F.col(f"__mx{i}").alias("max_value"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return (
        wide.select(F.explode(entries).alias("p"))
        .select("p.*")
        .orderBy("column")
    )


def mutual_info_by(
    pipe,
    x_col: str,
    y_col: str,
    keys: Sequence[str] = (),
    decimals: int = 6,
) -> DataFrame:
    """Mutual information between two categorical columns per group
    (empty ``keys`` = whole table): ``(keys..., n, mi, nmi)`` with
    ``mi = sum_xy p(x,y) ln(p(x,y) / (p(x) p(y)))`` in nats and ``nmi =
    mi / sqrt(H(x) H(y))`` (NULL when either marginal entropy is 0 —
    a constant column carries no information to normalize by). The
    dependence screen chisq_by's p-value can't give: an effect SIZE
    comparable across cardinalities — which metadata field actually
    predicts quality/label, not merely non-independently.

    Same scale shape as chisq_by: ONE map-side-partial count over
    (keys, x, y); marginals and totals are window sums over that tiny
    counts relation — only observed cells exist (absent cells contribute
    0 to MI by the p log p -> 0 limit), so the X*Y space is never
    densified and the fact table shuffles once.
    """
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe).select(
        *keys, F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    )
    c = d.groupBy(*keys, "_x", "_y").agg(F.count(F.lit(1)).cast("double").alias("_o"))
    kw = list(keys)
    c = (
        c.withColumn("_n", F.sum("_o").over(Window.partitionBy(*kw)))
        .withColumn("_rx", F.sum("_o").over(Window.partitionBy(*kw, "_x")))
        .withColumn("_ry", F.sum("_o").over(Window.partitionBy(*kw, "_y")))
    )
    pxy = F.col("_o") / F.col("_n")
    mi_term = pxy * F.log(F.col("_o") * F.col("_n") / (F.col("_rx") * F.col("_ry")))
    # marginal entropies from the same relation: each cell contributes
    # its o/row-total share of the row's -p ln p, so no second pass
    hx_term = -(F.col("_o") / F.col("_n")) * F.log(F.col("_rx") / F.col("_n"))
    hy_term = -(F.col("_o") / F.col("_n")) * F.log(F.col("_ry") / F.col("_n"))
    agg = c.groupBy(*kw).agg(
        F.first("_n").alias("_nn"),
        F.sum(mi_term).alias("_mi"),
        F.sum(hx_term).alias("_hx"),
        F.sum(hy_term).alias("_hy"),
    )
    denom = F.sqrt(F.col("_hx") * F.col("_hy"))
    return agg.select(
        *kw,
        F.col("_nn").cast("bigint").alias("n"),
        round_col(F.col("_mi"), decimals).alias("mi"),
        round_col(
            F.when(denom > 0.0, F.col("_mi") / denom), decimals
        ).alias("nmi"),
    )


def fd_report(
    df, pairs: Sequence[tuple[str, str]]
) -> DataFrame:
    """Approximate functional-dependency discovery over column pairs.

    For each candidate dependency ``lhs -> rhs``, reports the g3 error
    (Kivinen & Mannila 1995; the measure TANE mines with): the minimum
    fraction of rows that must be removed for the dependency to hold
    exactly — ``1 - sum over lhs-groups of max rhs-count / n``.  0 means
    the FD holds; small values flag near-keys and dirty denormalized
    columns — the profiling complement to :func:`profile_table` and
    :func:`mutual_info_by`.

    Returns one row per pair: (lhs, rhs, n_rows, n_groups,
    violating_groups, g3_rate).  NULL is an ordinary value on both sides
    (groups like any other, matching SQL GROUP BY).

    100 TB design: each pair costs one groupBy over its (lhs, rhs)
    combination domain — map-side partial aggregation means the shuffle
    carries distinct combinations, not rows — followed by a re-agg on
    lhs and a scalar collapse; the per-pair scalar rows union into the
    report driver-free.  Pairs are independent jobs over one scan each
    (Catalyst prunes to the two columns).
    """
    outs = []
    d = getattr(df, "df", df)
    for lhs, rhs in pairs:
        combos = d.groupBy(lhs, rhs).agg(F.count(F.lit(1)).alias("_c"))
        per_lhs = combos.groupBy(lhs).agg(
            F.max("_c").alias("_m"),
            F.sum("_c").alias("_n"),
            F.count(F.lit(1)).alias("_k"),
        )
        row = per_lhs.agg(
            F.sum("_n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.when(F.col("_k") > 1, 1).otherwise(0)).alias(
                "violating_groups"
            ),
            (F.lit(1.0) - F.sum("_m") / F.sum("_n")).alias("g3_rate"),
        ).select(
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_rows",
            "n_groups",
            "violating_groups",
            "g3_rate",
        )
        outs.append(row)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def ols_multi_by(
    pipe,
    x_cols: Sequence[str],
    y_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """Per-group multiple linear regression ``y = b0 + b1*x1 + ... +
    bp*xp`` via the normal equations, computed from ONE aggregation pass
    of moment sums (X'X upper triangle + X'y + y'y per group).

    Returns (keys..., n, intercept, coefs array<double>, r2).  Groups
    whose Gram matrix is singular (collinear or constant features) get
    NULL coefficients.

    Scale shape: the corpus contributes exactly one map-side-partial
    groupBy of (p+1)(p+2)/2 + p + 2 running sums; everything after
    operates on ONE ROW PER GROUP.  For p == 2 the 3x3 system is solved
    in closed form (Cramer) as pure Column arithmetic — fully
    JVM-side and hash-checkable against a SQL twin with the same
    association order.  For p >= 3 the tiny moments relation is solved
    by a numpy batch (Arrow ``mapInPandas`` touching n_groups rows, not
    data rows) — the same quarantine rule as optim.py's gradient
    collects.
    """
    from seafan_spark.rounding import round_col

    p = len(x_cols)
    if p < 1:
        raise ValueError("ols_multi_by: need at least one feature")
    if p == 1:
        raise ValueError("ols_multi_by: use ols_by for a single feature")
    d = getattr(pipe, "df", pipe)
    xs = [F.col(c).cast("double") for c in x_cols]
    y = F.col(y_col).cast("double")

    aggs = [F.count(F.lit(1)).alias("n"), F.sum(y).alias("_sy"), F.sum(y * y).alias("_syy")]
    for i, xi in enumerate(xs):
        aggs.append(F.sum(xi).alias(f"_s{i}"))
        aggs.append(F.sum(xi * y).alias(f"_s{i}y"))
        for j in range(i, p):
            aggs.append(F.sum(xi * xs[j]).alias(f"_s{i}{j}"))
    m = d.groupBy(*[F.col(k) for k in keys]).agg(*aggs)

    if p == 2:
        n = F.col("n").cast("double")
        s1, s2 = F.col("_s0"), F.col("_s1")
        s11, s12, s22 = F.col("_s00"), F.col("_s01"), F.col("_s11")
        sy, s1y, s2y = F.col("_sy"), F.col("_s0y"), F.col("_s1y")
        # det of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]] expanded along row 0
        det = (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        )
        det0 = (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)
        )
        det1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        det2 = (
            n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)
        )
        ok = F.abs(det) > F.lit(1e-9) * n * n * n
        b0 = F.when(ok, det0 / det)
        b1 = F.when(ok, det1 / det)
        b2 = F.when(ok, det2 / det)
        sse = F.col("_syy") - b0 * sy - b1 * s1y - b2 * s2y
        sst = F.col("_syy") - sy * sy / n
        r2 = F.when(ok & (sst > 0.0), F.lit(1.0) - sse / sst)
        return m.select(
            *keys,
            F.col("n"),
            round_col(b0, 6).alias("intercept"),
            F.when(
                ok, F.array(round_col(b1, 6), round_col(b2, 6))
            ).alias("coefs"),
            round_col(r2, 6).alias("r2"),
        )

    # p >= 3: numpy solve over the one-row-per-group moments relation
    import numpy as np
    import pandas as pd

    key_fields = ", ".join(
        f"`{k}` {m.schema[k].dataType.simpleString()}" for k in keys
    )
    out_schema = (
        f"{key_fields}, n bigint, intercept double, "
        "coefs array<double>, r2 double"
    )
    moment_cols = [f.name for f in m.schema.fields]

    def solve(batches):
        _drop_zip_importers()
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                n = float(r["n"])
                a = np.zeros((p + 1, p + 1))
                b = np.zeros(p + 1)
                a[0, 0] = n
                b[0] = r["_sy"]
                for i in range(p):
                    a[0, i + 1] = a[i + 1, 0] = r[f"_s{i}"]
                    b[i + 1] = r[f"_s{i}y"]
                    for j in range(i, p):
                        a[i + 1, j + 1] = a[j + 1, i + 1] = r[f"_s{i}{j}"]
                out = {k: r[k] for k in keys}
                out["n"] = int(r["n"])
                try:
                    scale = max(abs(np.linalg.det(a)), 0.0)
                    if scale <= 1e-9 * n ** (p + 1):
                        raise np.linalg.LinAlgError
                    beta = np.linalg.solve(a, b)
                    sse = float(r["_syy"] - beta @ b)
                    sst = float(r["_syy"] - r["_sy"] ** 2 / n)
                    out["intercept"] = round(float(beta[0]), 6)
                    out["coefs"] = [round(float(c), 6) for c in beta[1:]]
                    out["r2"] = round(1.0 - sse / sst, 6) if sst > 0 else None
                except np.linalg.LinAlgError:
                    out["intercept"] = None
                    out["coefs"] = None
                    out["r2"] = None
                rows.append(out)
            yield pd.DataFrame(
                rows, columns=list(keys) + ["n", "intercept", "coefs", "r2"]
            )

    return m.select(*moment_cols).mapInPandas(solve, schema=out_schema)


def association_rules(
    df,
    key_col: str,
    item_col: str,
    min_support: float = 0.01,
    k: int = 100,
    max_basket: int = 64,
) -> DataFrame:
    """Pairwise association rules (market-basket): for item pairs
    co-occurring in at least ``min_support`` of baskets, emit both
    directed rules ``a -> b`` with support, confidence and lift — the
    classic Agrawal-Srikant measures restricted to pairs (the useful
    and scale-safe core; longer itemsets explode combinatorially and
    pair lift already surfaces the structure).

    A basket is the DISTINCT item set of one ``key_col`` value; baskets
    with more than ``max_basket`` items are excluded (documented cap —
    a hot basket contributes quadratically to the pair join).

    Returns (antecedent, consequent, pair_n, support, confidence, lift)
    ordered by lift desc, top-``k``.

    100 TB design: baskets dedupe with one (key, item) groupBy; the
    pair generation self-joins ON THE KEY, so the shuffle carries
    (key, item) rows once per side and the quadratic blowup is bounded
    per key by ``max_basket``; item supports are a vocabulary-sized
    relation broadcast onto the pair counts; top-k is ORDER-BY-LIMIT
    over the surviving pair relation.
    """
    d = getattr(df, "df", df)
    baskets = (
        d.select(F.col(key_col).alias("_k"), F.col(item_col).alias("_i"))
        .filter(F.col("_i").isNotNull())
        .distinct()
    )
    sizes = baskets.groupBy("_k").agg(F.count(F.lit(1)).alias("_sz"))
    ok = baskets.join(
        F.broadcast(sizes.filter(F.col("_sz") > max_basket)), "_k", "left_anti"
    ).localCheckpoint(eager=True)  # feeds totals, item counts AND both join sides

    n_baskets = ok.select("_k").distinct().count()
    if n_baskets == 0:
        raise ValueError("association_rules: no baskets")
    items = ok.groupBy("_i").agg(F.count(F.lit(1)).alias("_ci"))

    a = ok.select(F.col("_k"), F.col("_i").alias("_a"))
    b = ok.select(F.col("_k"), F.col("_i").alias("_b"))
    pairs = (
        a.join(b, "_k")
        .filter(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= F.lit(float(min_support)) * F.lit(n_baskets))
    )
    joined = (
        pairs.join(
            F.broadcast(items.select(F.col("_i").alias("_a"), F.col("_ci").alias("_ca"))),
            "_a",
        )
        .join(
            F.broadcast(items.select(F.col("_i").alias("_b"), F.col("_ci").alias("_cb"))),
            "_b",
        )
    )
    nb = F.lit(float(n_baskets))
    fwd = joined.select(
        F.col("_a").alias("antecedent"),
        F.col("_b").alias("consequent"),
        "pair_n",
        (F.col("pair_n") / nb).alias("support"),
        (F.col("pair_n") / F.col("_ca")).alias("confidence"),
        (F.col("pair_n") * nb / (F.col("_ca") * F.col("_cb"))).alias("lift"),
    )
    rev = joined.select(
        F.col("_b").alias("antecedent"),
        F.col("_a").alias("consequent"),
        "pair_n",
        (F.col("pair_n") / nb).alias("support"),
        (F.col("pair_n") / F.col("_cb")).alias("confidence"),
        (F.col("pair_n") * nb / (F.col("_ca") * F.col("_cb"))).alias("lift"),
    )
    return (
        fwd.unionByName(rev)
        .orderBy(
            F.col("lift").desc(),
            F.col("antecedent").asc(),
            F.col("consequent").asc(),
        )
        .limit(k)
    )


def profile_diff(
    old_profile: DataFrame,
    new_profile: DataFrame,
    null_rate_tol: float = 0.05,
    distinct_rel_tol: float = 0.5,
) -> DataFrame:
    """Schema/distribution drift between two :func:`profile_table`
    outputs — the "did the new data drop look like the last one" gate
    that runs on PROFILES (kilobytes), never on data.

    One row per column in either profile: status ``added`` / ``removed``
    / ``dtype_changed`` / ``drifted`` / ``ok``, with the null-rate and
    distinct-count deltas that triggered it.  ``drifted`` fires when the
    null-rate moves more than ``null_rate_tol`` (absolute) or the
    distinct count moves more than ``distinct_rel_tol`` (relative to the
    old count).

    Everything is arithmetic over the two tiny profile relations (one
    full-outer join) — composable with persisted profiles for
    drop-over-drop monitoring.
    """
    o = old_profile.select(
        F.col("column"),
        F.col("dtype").alias("_odt"),
        (
            F.col("n_null").cast("double")
            / F.greatest(F.col("n_null") + F.col("n_non_null"), F.lit(1))
        ).alias("_onr"),
        F.col("n_distinct").alias("_ond"),
    )
    n = new_profile.select(
        F.col("column"),
        F.col("dtype").alias("_ndt"),
        (
            F.col("n_null").cast("double")
            / F.greatest(F.col("n_null") + F.col("n_non_null"), F.lit(1))
        ).alias("_nnr"),
        F.col("n_distinct").alias("_nnd"),
    )
    j = o.join(n, "column", "full")
    null_delta = F.col("_nnr") - F.col("_onr")
    dist_rel = (F.col("_nnd") - F.col("_ond")).cast("double") / F.greatest(
        F.col("_ond"), F.lit(1)
    )
    status = (
        F.when(F.col("_odt").isNull(), F.lit("added"))
        .when(F.col("_ndt").isNull(), F.lit("removed"))
        .when(F.col("_odt") != F.col("_ndt"), F.lit("dtype_changed"))
        .when(
            (F.abs(null_delta) > F.lit(float(null_rate_tol)))
            | (F.abs(dist_rel) > F.lit(float(distinct_rel_tol))),
            F.lit("drifted"),
        )
        .otherwise(F.lit("ok"))
    )
    from seafan_spark.rounding import round_col

    return j.select(
        "column",
        status.alias("status"),
        F.col("_odt").alias("old_dtype"),
        F.col("_ndt").alias("new_dtype"),
        round_col(null_delta, 6).alias("null_rate_delta"),
        round_col(dist_rel, 6).alias("distinct_rel_delta"),
    ).orderBy("column")


def gini_by(pipe, value_col: str, keys: Sequence[str] = ()) -> DataFrame:
    """Gini concentration coefficient of a non-negative value per group
    — the domain-domination screen (how unequally corpus mass is spread
    over sources/domains; 0 = uniform, ->1 = one member holds all):

        G = (2 * sum_i i * x_(i)) / (n * sum x) - (n + 1) / n

    with ``x_(i)`` ascending and 1-based rank ``i`` (no tiebreak is
    needed — the statistic is tie-invariant under any order of equal
    values).

    Scale shape: the keyed rank comes from
    :func:`seafan_spark.rank.keyed_running_scan` (range repartition on
    (keys, value) + per-(partition, key) broadcast offsets — a
    low-cardinality key cell spans a RUN of partitions instead of
    funneling a corpus-fraction sort through one task, the round-9
    uplift/psm hazard class; upgraded round 10).  With NO keys the
    rank-sum comes from the distributed-rank machinery
    (``_global_midrank``: range repartition + per-partition rank +
    driver offsets).  Both substitutions are exact because the
    statistic is tie-invariant, so Σ midrank·x = Σ rownum·x (equal
    values share their rank mass however the within-tie order falls).
    Complements :func:`entropy_by` (share-based, rank-free)."""
    from seafan_spark.rounding import round_col

    d = getattr(pipe, "df", pipe)
    keys = list(keys)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & (x >= 0.0))
    if keys:
        from seafan_spark.rank import keyed_running_scan

        base = base.select(*keys, x.alias("_x"))
        ranked = keyed_running_scan(base, keys, [("_x", True)], rownum_out="_i")
        x = F.col("_x")
        rank_term = F.col("_i") * x
    else:
        base = base.select(x.alias("_x"))
        ranked, _ = _global_midrank(base, "_x", "_i")
        x = F.col("_x")
        rank_term = F.col("_i") * x
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(rank_term).alias("_six"),
    )
    nn = F.col("n").cast("double")
    gini = F.when(
        F.col("_sx") > 0.0,
        (F.lit(2.0) * F.col("_six")) / (nn * F.col("_sx"))
        - (nn + F.lit(1.0)) / nn,
    )
    return agg.select(*keys, "n", round_col(gini, 6).alias("gini"))


def lorenz_deciles(
    df,
    value_col: str,
    id_col: str,
    keys: Sequence[str] = (),
    n_buckets: int = 10,
    value_decimals: int = 2,
) -> DataFrame:
    """Discretized Lorenz curve per segment: units sorted by ``value``
    ASCENDING, cut into ``n_buckets`` NTILE buckets, reporting each
    bucket's own share and the CUMULATIVE share of total value — the
    curve :func:`gini_by` integrates (bottom-decile share, top-decile
    share are the standard concentration read-outs). Returns
    (keys..., bucket, n, bucket_value, cum_value, cum_share), buckets
    ascending so the last row is (n_total, total, 1.0).

    Determinism: the cut is the closed-form NTILE over the
    (value, id) total order; values scale to exact integers at
    ``value_decimals`` so every sum is exact; shares are single IEEE
    divisions.

    Scale shape: :func:`seafan_spark.rank.keyed_running_scan` +
    :func:`seafan_spark.rank.ntile_from_rank` (no key cell on one
    task), one groupBy to the B-row relation, then ordered windows over
    those B rows per key.
    """
    if n_buckets < 1:
        raise ValueError("lorenz_deciles: n_buckets must be >= 1")
    keys = list(keys)
    d = getattr(df, "df", df)
    v = F.col(value_col).cast("double")
    base = d.filter(v.isNotNull() & F.col(id_col).isNotNull()).select(
        *keys, F.col(id_col).alias("_id"), v.alias("_v")
    )
    from pyspark.sql import Window

    from seafan_spark.rank import keyed_running_scan, ntile_from_rank

    scaled = F.round(F.col("_v") * F.lit(float(10 ** value_decimals))).cast(
        "decimal(20,0)"
    )
    ranked = keyed_running_scan(
        base, keys, [("_v", True), ("_id", True)],
        rownum_out="_rk", total_out="_n",
    ).withColumn("_sv", scaled)
    bucket = ntile_from_rank(F.col("_rk"), F.col("_n"), int(n_buckets))
    g = (
        ranked.withColumn("_bk", bucket)
        .groupBy(*keys, "_bk")
        .agg(F.count(F.lit(1)).alias("_bn"), F.sum("_sv").alias("_bv"))
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("_bk").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    span = wall.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cumv = F.sum("_bv").over(word)
    totv = F.sum("_bv").over(span)
    unscale = F.lit(float(10 ** value_decimals))
    return g.select(
        *keys,
        F.col("_bk").alias("bucket"),
        F.col("_bn").cast("long").alias("n"),
        (F.col("_bv").cast("double") / unscale).alias("bucket_value"),
        (cumv.cast("double") / unscale).alias("cum_value"),
        F.when(
            totv > 0, cumv.cast("double") / totv.cast("double")
        ).alias("cum_share"),
    )


def quantiles_by(
    df,
    value_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    keys: Sequence[str] = (),
) -> DataFrame:
    """EXACT per-group quantiles at arbitrary probabilities — the keyed
    generalization of :func:`describe_df`'s single-column exact path
    and :func:`_grouped_median`'s q=0.5 (``histogram.
    quantiles_from_histogram`` stays the sketch/approximate path).
    PERCENTILE_DISC (type-1 / inverse-ECDF) semantics: the value at
    rank ``max(1, ceil(q·n))`` of the group sorted ascending — a value
    that OCCURS in the data, the convention that stays exact and
    hash-stable for every dtype.

    Returns long-format rows (keys..., q, value, n) — one row per
    (group, probability); plots and threshold joins directly.

    Determinism: the value at a given rank is invariant to tie order
    (sorting a multiset), so no tiebreak column is needed; ``q·n`` is
    IEEE double arithmetic from identical literals in both engines, so
    an exact-boundary product (0.1·30 = 3.0000000000000004) picks the
    SAME rank everywhere — documented, not hidden.

    Scale shape: ONE :func:`seafan_spark.rank.keyed_running_scan` pass
    (range-partitioned keyed rank — no key cell on a single task), then
    a compiled OR over the |qs| rank targets filters the candidate rows
    map-side and a higher-order ``filter`` expands each survivor to its
    matching probabilities. No per-q scan, no |qs|-fold row explosion.
    """
    qs = [float(q) for q in qs]
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError("quantiles_by: qs must be non-empty, each in [0, 1]")
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull()).select(*keys, x.alias("_qv"))
    from seafan_spark.rank import keyed_running_scan

    ranked = keyed_running_scan(
        base, keys, [("_qv", True)], rownum_out="_qrn", total_out="_qn"
    )

    def target(q: float) -> Column:
        return F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(q) * F.col("_qn").cast("double")).cast("long"),
        )

    matches = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"),
                    (F.col("_qrn") == target(q)).alias("m"),
                )
                for q in qs
            ]
        ),
        lambda s: s["m"],
    )
    sel = (
        ranked.withColumn("_qm", matches)
        .filter(F.size("_qm") > 0)
        .select(*keys, F.explode("_qm").alias("_s"), "_qv", "_qn")
    )
    return sel.select(
        *keys,
        F.col("_s.q").alias("q"),
        F.col("_qv").alias("value"),
        F.col("_qn").alias("n"),
    )


def weighted_quantiles_by(
    df,
    value_col: str,
    weight_col: str,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    keys: Sequence[str] = (),
) -> DataFrame:
    """EXACT per-group WEIGHTED quantiles — the importance-weighted
    sibling of :func:`quantiles_by`, the estimator a sampled or
    weight-curated corpus needs (a weighted median of quality scores
    under per-source mixture weights is this, not the unweighted one).
    Inverse weighted-ECDF semantics: the value at the row where the
    running weight (values ascending) first reaches q·W — a value that
    OCCURS in the data, reducing exactly to :func:`quantiles_by`'s
    PERCENTILE_DISC rank when every weight is 1.

    Returns long-format rows (keys..., q, value, n, w_total). Rows with
    NULL values or NULL/non-positive weights are excluded (the weighted
    quantile's domain).

    Determinism: with INTEGER-VALUED weights every running sum is an
    exact double, so the crossing comparison is permutation-invariant
    under value ties and bit-identical cross-engine (the registered
    oracle uses such weights); fractional weights inherit the same
    last-ulp boundary caveat :func:`quantiles_by` documents for q·n.

    Scale shape: ONE :func:`seafan_spark.rank.keyed_running_scan` pass
    carrying a running-weight sum (range-partitioned — no key cell on a
    single task), one map-side-partial groupBy for the per-cell weight
    total (joined back, AQE broadcasts the small case), then the
    compiled crossing test per probability and the higher-order filter
    expansion — no per-q scan, no |qs|-fold explosion.
    """
    qs = [float(q) for q in qs]
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(
            "weighted_quantiles_by: qs must be non-empty, each in [0, 1]"
        )
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    base = d.filter(x.isNotNull() & w.isNotNull() & (w > 0.0)).select(
        *keys, x.alias("_qv"), w.alias("_qw")
    )
    from seafan_spark.rank import keyed_running_scan

    ranked = keyed_running_scan(
        base, keys, [("_qv", True)],
        total_out="_qn",
        sums={"_qcw": F.col("_qw")},
    )
    # per-cell weight total from the SAME summed column: a separate
    # aggregation would re-associate the sum and could disagree with the
    # running sum's last value by an ulp, dropping the q=1 row
    tot = ranked.groupBy(*keys).agg(F.max("_qcw").alias("_qtw"))
    ranked = ranked.join(tot, on=keys) if keys else ranked.crossJoin(tot)

    def crossing(q: float) -> Column:
        if q == 0.0:
            # q=0 -> the minimum value; the strict lower test below can
            # never admit the first row (its prior mass is exactly 0)
            return (F.col("_qcw") - F.col("_qw")) == 0.0
        t = F.lit(q) * F.col("_qtw")
        return (F.col("_qcw") >= t) & ((F.col("_qcw") - F.col("_qw")) < t)

    matches = F.filter(
        F.array(
            *[
                F.struct(F.lit(q).alias("q"), crossing(q).alias("m"))
                for q in qs
            ]
        ),
        lambda s: s["m"],
    )
    sel = (
        ranked.withColumn("_qm", matches)
        .filter(F.size("_qm") > 0)
        .select(*keys, F.explode("_qm").alias("_s"), "_qv", "_qn", "_qtw")
    )
    return sel.select(
        *keys,
        F.col("_s.q").alias("q"),
        F.col("_qv").alias("value"),
        F.col("_qn").alias("n"),
        F.col("_qtw").alias("w_total"),
    )


def cuped_adjust(
    df,
    y_col: str,
    x_col: str,
    variant_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """CUPED variance reduction for experiment metrics (Deng et al.,
    WSDM 2013): adjust the experiment metric ``y`` by the pre-period
    covariate ``x`` — ``y_adj = y - theta * (x - mean(x))`` with
    ``theta = cov(x, y) / var(x)`` estimated POOLED across variants
    (within each ``keys`` group), which leaves the treatment-effect
    estimate unbiased while shrinking its variance by the squared
    correlation.

    Returns one row per (keys..., variant): n, mean_y, mean_adj, and
    ``var_reduction = 1 - var(y_adj)/var(y)`` (sample variances).

    Scale shape: ONE moment aggregation over the units for theta and
    the x mean, broadcast back as a one-row-per-group join; the
    adjusted metric is pure Column arithmetic; a second groupBy rolls
    up per variant.  Rows with NULL x or y are excluded (a unit without
    a pre-period belongs in a separate cohort, not silently zeroed)."""
    from seafan_spark.rounding import round_col

    d = getattr(df, "df", df)
    keys = list(keys)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = d.filter(x.isNotNull() & y.isNotNull())
    mom = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    nn = F.col("_n").cast("double")
    var_x_n = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    theta = F.when(
        var_x_n != 0.0, (nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / var_x_n
    ).otherwise(F.lit(0.0))
    mom = mom.select(
        *keys, theta.alias("_theta"), (F.col("_sx") / nn).alias("_mx")
    )
    joined = (
        base.join(F.broadcast(mom), keys)
        if keys
        else base.crossJoin(F.broadcast(mom))
    )
    adj = y - F.col("_theta") * (x - F.col("_mx"))
    out = joined.groupBy(*keys, F.col(variant_col).alias("variant")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(y).alias("_my"),
        F.avg(adj).alias("_ma"),
        F.var_samp(y).alias("_vy"),
        F.var_samp(adj).alias("_va"),
    )
    return out.select(
        *keys,
        "variant",
        "n",
        round_col(F.col("_my"), 6).alias("mean_y"),
        round_col(F.col("_ma"), 6).alias("mean_adj"),
        round_col(
            F.when(F.col("_vy") > 0.0, F.lit(1.0) - F.col("_va") / F.col("_vy")),
            6,
        ).alias("var_reduction"),
    )


def _global_midrank(d: DataFrame, col_name: str, out: str, tie_out: str | None = None):
    """Exact midrank (``rank() + (ties-1)/2``) of ``col_name`` under the
    GLOBAL value order, with no unpartitioned window: distributed global
    row number (``rank.global_row_number`` — range repartition +
    per-partition rank + driver offsets), then ``rank = min(rownum)`` and
    ``ties = count`` over a window partitioned BY VALUE (each distinct
    value's tie group is one partition — corpus-distributed; a column
    that is one giant tie would skew, but its midranks are degenerate
    anyway). Optionally also attaches the tie-group size as ``tie_out``.
    Returns (df, non-null row count)."""
    from pyspark.sql import Window

    from seafan_spark.rank import global_row_number

    ranked, n = global_row_number(d, [(col_name, True)], "_gmr")
    vw = Window.partitionBy(col_name)
    tie = F.count(F.lit(1)).over(vw)
    mid = F.min("_gmr").over(vw) + (tie - F.lit(1)) / F.lit(2.0)
    out_df = ranked.withColumn(out, mid)
    if tie_out is not None:
        out_df = out_df.withColumn(tie_out, tie)
    return out_df.drop("_gmr"), n


def _two_variant_guard(where: str, strict: bool = True) -> Column:
    """TRUE when the group's ``_nv`` distinct-variant count is exactly 2
    AND no NULL variant value appeared (``_vnull`` = 0) — both
    prop_test_by and mannwhitney_by document 'exactly two variants
    required', and silently pooling extra variants (or NULL-variant
    rows, which ``count_distinct`` ignores but the side assignment dumps
    into the non-baseline side) produces a plausible-looking but wrong
    statistic (round-5/round-6 ADVICE).

    ``strict=True`` (the documented contract) raises at evaluation time
    naming the offender; ``strict=False`` silently DROPS non-conforming
    groups instead — for exploratory scans over many groups where one
    missing variant shouldn't abort the whole job."""
    ok = (F.col("_nv") == F.lit(2)) & (F.col("_vnull") == F.lit(0))
    if not strict:
        return ok
    return F.when(ok, F.lit(True)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: exactly two non-NULL variant values per "
                      f"group are required, got "),
                F.col("_nv").cast("string"),
                F.when(F.col("_vnull") == 1,
                       F.lit(" (plus NULL variant rows)")).otherwise(F.lit("")),
            )
        )
    )


def prop_test_by(
    df,
    success_col: str,
    variant_col: str,
    keys: Sequence[str] = (),
    strict: bool = True,
) -> DataFrame:
    """Two-proportion z-test between the two variants of a 0/1 outcome
    (conversion A/B testing; the discrete sibling of :func:`ttest_by`):
    pooled-variance z statistic

        z = (p1 - p0) / sqrt(p(1-p)(1/n0 + 1/n1)),  p = pooled rate.

    Exactly two NON-NULL variant values per ``keys`` group are required
    (the smaller value is the baseline) — ENFORCED: any group with a
    different count, or with NULL-variant rows, raises at evaluation
    time instead of silently pooling extra variants
    (``strict=False`` drops non-conforming groups instead — for
    exploratory scans where one odd group shouldn't abort the job).
    Returns (keys..., n0, n1, p0, p1,
    z, significant) with ``significant = |z| > 1.96`` (z is exact; the
    p-value needs erf, whose libm rounding differs across engines —
    the boolean at the conventional threshold is cross-engine stable).

    One (keys, variant) aggregation, then a pivot of exactly two rows
    per group — the corpus never shuffles twice."""
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = getattr(df, "df", df)
    keys = list(keys)
    s = F.col(success_col).cast("double")
    agg = d.groupBy(*keys, F.col(variant_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_n"), F.sum(s).alias("_s")
    )
    pk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    tagged = agg.withColumn("_lo", F.min("_v").over(pk))
    side = F.when(F.col("_v") == F.col("_lo"), F.lit(0)).otherwise(F.lit(1))
    piv = (
        tagged.withColumn("_side", side)
        .groupBy(*keys)
        .agg(
            F.sum(F.when(F.col("_side") == 0, F.col("_n"))).alias("n0"),
            F.sum(F.when(F.col("_side") == 1, F.col("_n"))).alias("n1"),
            F.sum(F.when(F.col("_side") == 0, F.col("_s"))).alias("_s0"),
            F.sum(F.when(F.col("_side") == 1, F.col("_s"))).alias("_s1"),
            # one row per variant reaches this groupBy, so counting the
            # non-NULL _v rows IS the distinct-variant count — no expand
            # aggregation needed; NULL variants get their own flag (they
            # would otherwise land in side 1 via the NULL-comparison
            # `otherwise` branch)
            F.count("_v").alias("_nv"),
            F.max(F.when(F.col("_v").isNull(), F.lit(1)).otherwise(F.lit(0))).alias(
                "_vnull"
            ),
        )
    )
    # enforce the documented contract: >2 variants (or NULL variants)
    # would silently lump every non-baseline row into side 1 and report
    # a bogus pooled z
    piv = piv.filter(_two_variant_guard("prop_test_by", strict=strict))
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    p0, p1 = F.col("_s0") / n0, F.col("_s1") / n1
    pool = (F.col("_s0") + F.col("_s1")) / (n0 + n1)
    se = F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / n0 + F.lit(1.0) / n1))
    z = F.when(se > 0.0, (p1 - p0) / se)
    return piv.select(
        *keys,
        "n0",
        "n1",
        round_col(p0, 6).alias("p0"),
        round_col(p1, 6).alias("p1"),
        round_col(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def mannwhitney_by(
    df,
    value_col: str,
    variant_col: str,
    keys: Sequence[str] = (),
    strict: bool = True,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the two variants of a
    continuous outcome — the nonparametric complement to
    :func:`ttest_by` for skewed metrics (revenue, latency):

        U1 = R1 - n1(n1+1)/2,  z = (U1 - n0 n1/2) / sigma_U

    with midranks for ties and the standard tie-corrected variance
    ``sigma_U^2 = n0 n1/12 ((N+1) - sum(t^3 - t)/(N(N-1)))``.

    Returns (keys..., n0, n1, u, z, significant) — baseline = smaller
    variant value; ``u`` is the SMALLER group-0-vs-1 statistic's
    counterpart U1 for the higher variant.  Exactly two NON-NULL
    variant values per group — ENFORCED: any other count, or any
    NULL-variant rows (which ``count_distinct`` ignores but the side
    assignment would silently pool into side 1), raises at evaluation
    time; ``strict=False`` drops non-conforming groups instead.

    Scale shape: midranks come from
    :func:`seafan_spark.rank.keyed_midrank` (range-partitioned keyed
    scan + tie-group join — round-10 upgrade: the keyed-window form put
    each LOW-cardinality key cell's corpus-fraction sort on one task);
    the tie-correction term aggregates the per-value tie sizes;
    everything else is one moment rollup per group.  With NO keys the
    midranks come from the distributed-rank machinery
    (``_global_midrank``) and the baseline variant from a broadcast
    scalar — never a corpus-sized ``partitionBy(lit(0))`` single
    task."""

    from seafan_spark.rounding import round_col

    d = getattr(df, "df", df)
    keys = list(keys)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull()).select(
        *keys, x.alias("_x"), F.col(variant_col).alias("_v")
    )
    if keys:
        from seafan_spark.rank import keyed_midrank

        # group-cardinality min-variant relation broadcast back (round-10:
        # an unordered keyed window still funnels the key cell to one task)
        lo_df = base.groupBy(*keys).agg(F.min("_v").alias("_lo"))
        base = base.join(F.broadcast(lo_df), keys).withColumn(
            "_side", F.when(F.col("_v") == F.col("_lo"), F.lit(0)).otherwise(F.lit(1))
        ).drop("_lo")
        # midrank = rank + (ties-1)/2, exact via the range-partitioned
        # keyed scan + tie-group join (no key-cell single task)
        ranked = keyed_midrank(base, keys, "_x", mid_out="_mid", tie_out="_t")
        midrank = F.col("_mid")
    else:
        lo_df = base.agg(F.min("_v").alias("_lo"))
        base = base.crossJoin(F.broadcast(lo_df)).withColumn(
            "_side", F.when(F.col("_v") == F.col("_lo"), F.lit(0)).otherwise(F.lit(1))
        ).drop("_lo")
        ranked, _ = _global_midrank(base, "_x", "_mid", tie_out="_t")
        midrank = F.col("_mid")
    agg = ranked.groupBy(*keys).agg(
        F.sum(F.when(F.col("_side") == 0, F.lit(1)).otherwise(F.lit(0))).alias("n0"),
        F.sum(F.when(F.col("_side") == 1, F.lit(1)).otherwise(F.lit(0))).alias("n1"),
        F.sum(F.when(F.col("_side") == 1, midrank)).alias("_r1"),
        # sum(t^3 - t) counts each tie GROUP once: every row carries its
        # group's t, so divide the row-sum of (t^2 - 1) by... instead sum
        # (t*t*t - t)/t = t*t - 1 per row -> equals sum over groups (t^3-t)
        F.sum(F.col("_t") * F.col("_t") - F.lit(1.0)).alias("_ties"),
        F.count_distinct(F.col("_v")).alias("_nv"),
        F.max(F.when(F.col("_v").isNull(), F.lit(1)).otherwise(F.lit(0))).alias(
            "_vnull"
        ),
    )
    agg = agg.filter(_two_variant_guard("mannwhitney_by", strict=strict))
    n0, n1 = F.col("n0").cast("double"), F.col("n1").cast("double")
    nn = n0 + n1
    u1 = F.col("_r1") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    var_u = (
        n0 * n1 / F.lit(12.0)
        * ((nn + F.lit(1.0)) - F.col("_ties") / (nn * (nn - F.lit(1.0))))
    )
    z = F.when(var_u > 0.0, (u1 - n0 * n1 / F.lit(2.0)) / F.sqrt(var_u))
    return agg.select(
        *keys,
        "n0",
        "n1",
        round_col(u1, 6).alias("u"),
        round_col(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


def anova_by(
    df,
    value_col: str,
    variant_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-group one-way ANOVA of ``value_col`` across the variants of
    ``variant_col`` — the >= 2-variant generalization the two-sample
    tests (prop_test_by / mannwhitney_by) refuse to silently fake.
    Returns (keys..., k, n, ssb, ssw, f_stat, eta_sq):

        ssb = Σ_j s_j²/n_j − (Σs)²/n   (between-variant sum of squares)
        ssw = Σ_j q_j − Σ_j s_j²/n_j   (within)
        F   = (ssb/(k−1)) / (ssw/(n−k)),  eta² = ssb/(ssb+ssw)

    No p-value column (neither engine ships an F CDF builtin); compare
    f_stat against the critical value at (k−1, n−k) df, or use eta_sq
    as the effect size directly.

    Scale shape: TWO map-side-partial aggregations — corpus →
    (keys, variant) moment rows, then → one row per keys group; the
    statistic is post-aggregation arithmetic written in the same
    association order as the DuckDB twin. Divisions are guarded
    (k >= 2, n > k, ssw > 0 for F), so ANSI mode never trips."""
    from seafan_spark.rounding import round_col  # noqa: F401  (callers round)

    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    per_v = (
        d.filter(x.isNotNull() & F.col(variant_col).isNotNull())
        .groupBy(*keys, F.col(variant_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("_nj"),
            F.sum(x).alias("_sj"),
            F.sum(x * x).alias("_qj"),
        )
    )
    agg = per_v.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_nj").alias("_n"),
        F.sum("_sj").alias("_s"),
        F.sum("_qj").alias("_q"),
        F.sum(F.col("_sj") * F.col("_sj") / F.col("_nj")).alias("_g"),
    )
    n, s, q, g = F.col("_n"), F.col("_s"), F.col("_q"), F.col("_g")
    k = F.col("k").cast("double")
    ssb = g - s * s / n
    ssw = q - g
    ok = (F.col("k") >= 2) & (n > k)
    f_stat = F.when(ok & (ssw > 0.0), (ssb / (k - 1.0)) / (ssw / (n - k)))
    eta = F.when(ssb + ssw > 0.0, ssb / (ssb + ssw))
    return agg.select(
        *keys,
        "k",
        n.cast("bigint").alias("n"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        f_stat.alias("f_stat"),
        eta.alias("eta_sq"),
    )


def kruskal_by(
    df,
    value_col: str,
    variant_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-group Kruskal-Wallis H test — the rank-based (distribution-
    free) companion to :func:`anova_by` for >= 2 variants:

        H = 12/(n(n+1)) · Σ_j r_j²/n_j − 3(n+1),   corrected H/C with
        C = 1 − Σ(t³−t)/(n³−n) over the value-tie groups.

    Returns (keys..., k, n, h, h_corrected). Compare h_corrected to the
    chi-square critical value at k−1 df (no chi² CDF builtin in either
    engine).

    Scale shape: midranks from :func:`seafan_spark.rank.keyed_midrank`
    (range-partitioned keyed scan + tie-group join — mannwhitney_by's
    round-10 shape; no key-cell single task); the tie term aggregates
    per-row (t²−1) which sums to Σ(t³−t) exactly; then one
    (keys, variant) rollup and one keys rollup. With NO keys the
    midranks come from the distributed-rank machinery
    (``_global_midrank``) — never a corpus-sized single-task window."""

    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & F.col(variant_col).isNotNull()).select(
        *keys, x.alias("_x"), F.col(variant_col).alias("_v")
    )
    if keys:
        from seafan_spark.rank import keyed_midrank

        # midrank via the range-partitioned keyed scan + tie-group join
        # (round-10: the keyed window form put each low-cardinality key
        # cell's sort on a single task)
        ranked = keyed_midrank(base, keys, "_x", mid_out="_mid", tie_out="_t")
    else:
        ranked, _ = _global_midrank(base, "_x", "_mid", tie_out="_t")
    per_v = ranked.groupBy(*keys, "_v").agg(
        F.count(F.lit(1)).cast("double").alias("_nj"),
        F.sum("_mid").alias("_rj"),
        F.sum(F.col("_t") * F.col("_t") - F.lit(1.0)).alias("_tiej"),
    )
    agg = per_v.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("_nj").alias("_n"),
        F.sum(F.col("_rj") * F.col("_rj") / F.col("_nj")).alias("_r2"),
        F.sum("_tiej").alias("_ties"),
    )
    n = F.col("_n")
    h = F.lit(12.0) / (n * (n + 1.0)) * F.col("_r2") - 3.0 * (n + 1.0)
    c = F.lit(1.0) - F.col("_ties") / (n * n * n - n)
    ok = (F.col("k") >= 2) & (n >= 2.0)
    return agg.select(
        *keys,
        "k",
        n.cast("bigint").alias("n"),
        F.when(ok, h).alias("h"),
        F.when(ok & (c > 0.0), h / c).alias("h_corrected"),
    )


def spearman_by(
    df,
    x_col: str,
    y_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Spearman rank correlation per group — Pearson over midranks, the
    outlier-robust, monotonicity-sensitive complement to
    :func:`corr_matrix` (which is Pearson on raw values).  Midranks
    handle ties exactly (the textbook rho-with-ties definition, equal
    to scipy.stats.spearmanr).

    Returns (keys..., n, rho).

    Scale shape: two :func:`seafan_spark.rank.keyed_midrank` passes
    (one per column; range-partitioned keyed scans + tie-group joins —
    round-10: the keyed-window form put each low-cardinality key cell's
    sort on one task), then ONE five-moment aggregation;
    the same moment association as ols_by so the SQL twin matches
    doubles exactly.  With NO keys the midranks come from the
    distributed-rank machinery instead (``_global_midrank``: range
    repartition + value-partitioned tie windows) — never a corpus-sized
    ``partitionBy(lit(0))`` single task."""
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = getattr(df, "df", df)
    keys = list(keys)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = d.filter(x.isNotNull() & y.isNotNull()).select(
        *keys, x.alias("_x"), y.alias("_y")
    )

    if keys:
        from seafan_spark.rank import keyed_midrank

        # two keyed-scan midranks (round-10: the keyed window form put
        # each low-cardinality key cell's sort on a single task)
        ranked = keyed_midrank(base, keys, "_x", mid_out="_rx")
        ranked = keyed_midrank(ranked, keys, "_y", mid_out="_ry")
    else:
        ranked, _ = _global_midrank(base, "_x", "_rx")
        ranked, _ = _global_midrank(ranked, "_y", "_ry")
    rx, ry = F.col("_rx"), F.col("_ry")
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("_sx"),
        F.sum(ry).alias("_sy"),
        F.sum(rx * ry).alias("_sxy"),
        F.sum(rx * rx).alias("_sxx"),
        F.sum(ry * ry).alias("_syy"),
    )
    nn = F.col("n").cast("double")
    cov_n = nn * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = nn * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = nn * F.col("_syy") - F.col("_sy") * F.col("_sy")
    rho = F.when((vx > 0.0) & (vy > 0.0), cov_n / F.sqrt(vx * vy))
    return agg.select(*keys, "n", round_col(rho, 6).alias("rho"))


def trimmed_mean_by(
    df,
    value_col: str,
    keys: Sequence[str] = (),
    alpha: float = 0.1,
) -> DataFrame:
    """Exact per-group trimmed mean: the mean of values whose within-
    group percent_rank lies in ``[alpha, 1 - alpha]`` — the robust
    central tendency that ignores both tails (complements
    :func:`robust_outliers_by`'s median/MAD and encode.winsorize's
    clamping).  Returns (keys..., n, n_used, trimmed_mean).

    One keyed window (groups rank independently) + one aggregation;
    percent_rank bounds make the trim exact and cross-engine
    deterministic (ties share a rank, so equal values are kept or
    dropped together — no arbitrary tie split).  With NO keys the rank
    comes from the distributed-rank machinery (``_global_midrank``'s
    range-repartition substrate) — never a corpus-sized
    ``partitionBy(lit(0))`` single task."""
    from pyspark.sql import Window

    from seafan_spark.rank import global_row_number
    from seafan_spark.rounding import round_col

    if not 0 <= alpha < 0.5:
        raise ValueError("trimmed_mean_by: alpha must be in [0, 0.5)")
    d = getattr(df, "df", df)
    keys = list(keys)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull()).select(*keys, x.alias("_x"))
    if keys:
        from seafan_spark.rank import keyed_midrank

        # percent_rank = (rank - 1)/(n - 1) from the keyed scan (round-10:
        # the percent_rank window put each key cell's sort on one task);
        # single-row cells get 0, matching the window definition
        tagged = keyed_midrank(
            base, keys, "_x", rank_out="_rkk", total_out="_nk"
        )
        pr = F.when(
            F.col("_nk") > 1,
            (F.col("_rkk") - F.lit(1)).cast("double")
            / (F.col("_nk") - F.lit(1)).cast("double"),
        ).otherwise(F.lit(0.0))
        tagged = tagged.withColumn("_pr", pr).drop("_rkk", "_nk")
    else:
        # percent_rank = (rank - 1) / (n - 1) with rank = min global row
        # number over the value's tie group — identical to the window
        # definition, fully distributed
        ranked, n = global_row_number(base, [("_x", True)], "_grn")
        vw = Window.partitionBy("_x")
        rank = F.min("_grn").over(vw)
        pr = (
            (rank - F.lit(1)) / F.lit(float(n - 1))
            if n > 1
            else F.lit(0.0)
        )
        tagged = ranked.withColumn("_pr", pr).drop("_grn")
    inlier = (F.col("_pr") >= F.lit(float(alpha))) & (
        F.col("_pr") <= F.lit(1.0 - float(alpha))
    )
    agg = tagged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(inlier, 1).otherwise(0)).alias("n_used"),
        F.avg(F.when(inlier, F.col("_x"))).alias("_tm"),
    )
    return agg.select(
        *keys, "n", "n_used", round_col(F.col("_tm"), 6).alias("trimmed_mean")
    )


def mode_by(
    df,
    value_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Deterministic per-group mode: the most frequent value, ties
    broken by the SMALLEST value — unlike Spark's ``F.mode``, which
    picks an arbitrary tie member (partitioning-dependent), this is
    stable across runs and engines.  Returns (keys..., mode, mode_n).

    One (keys, value) count groupBy + a WindowGroupLimit-prunable
    row_number over the counts relation (never the corpus).  With NO
    keys the counts relation is value-cardinality-sized (potentially
    corpus-sized for near-unique columns), so the pick is two scalar
    aggregations (max count, then min value at that count) instead of a
    ``partitionBy(lit(0))`` single-task window."""
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    keys = list(keys)
    counts = (
        d.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, F.col(value_col).alias("mode"))
        .agg(F.count(F.lit(1)).alias("mode_n"))
    )
    if keys:
        pk = Window.partitionBy(*keys)
        rn = F.row_number().over(
            pk.orderBy(F.col("mode_n").desc(), F.col("mode").asc())
        )
        return counts.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")
    mx = counts.agg(F.max("mode_n").alias("_mx"))
    return (
        counts.join(F.broadcast(mx), F.col("mode_n") == F.col("_mx"))
        .agg(F.min("mode").alias("mode"), F.min("mode_n").alias("mode_n"))
        # the no-groupBy agg always emits one row; on empty/all-NULL
        # input that row is all-NULL — drop it so empty input yields
        # zero rows, matching the keyed path (round-6 ADVICE)
        .filter(F.col("mode_n").isNotNull())
    )


def fdr_bh(
    df,
    p_col: str,
    keys: Sequence[str] = (),
    alpha: float = 0.05,
    rank_col: str = "rank",
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction over a relation
    of test p-values (Benjamini & Hochberg 1995) — the multiple-testing
    companion to the battery's per-group tests: screen thousands of
    segments, then BH-adjust before acting on "significant" ones.

        p_adj(i) = min_{j >= i} ( p(j) * m / j ),  clamped to 1

    with p ascending, 1-based rank i, m tests per group. Returns the
    input columns plus (rank, p_adj, rejected) where ``rejected`` =
    p_adj <= alpha. Ties share the same adjusted value (the reverse
    cumulative min flows backward through equal p). NULL p rows are
    dropped (they are not tests).

    Determinism: ranks are integers and the reverse cumulative min only
    COMPARES doubles (each candidate is one multiply + one divide from
    exact inputs), so adjusted values are bit-identical cross-engine.

    Scale shape: the input is a TEST-level relation — one row per
    hypothesis, bounded by the number of segments screened, not the
    corpus (the battery's *_by functions already collapsed the corpus).
    Windows partition by the group keys; ungrouped, the single-task
    window runs over that hypothesis relation only, same contract as
    the post-LIMIT top-k rankings.
    """
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    keys = list(keys)
    # output columns must not shadow input columns — a duplicate name
    # (e.g. an input that already carries 'rank') would leave TWO
    # ambiguous columns and break downstream selects
    for out_name in (rank_col, "p_adj", "rejected"):
        if out_name in d.columns:
            raise ValueError(
                f"fdr_bh: input already has a column named {out_name!r}; "
                "pass rank_col= (for the rank) or rename the input column"
            )
    p = F.col(p_col).cast("double")
    base = d.filter(p.isNotNull())
    pk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    # total order: tiebreak by every remaining column is overkill — rank
    # ties on p are adjusted to the same value, so (p ascending) alone is
    # deterministic in the OUTPUT even when the rank permutation is not
    w = pk.orderBy(p.asc())
    m = F.count(F.lit(1)).over(pk)
    i = F.row_number().over(w)
    # materialize rank/m/raw before the reverse pass — a window expression
    # cannot nest inside another window's argument
    ranked = (
        base.withColumn("_bh_rank", i)
        .withColumn("_bh_m", m)
        .withColumn(
            "_bh_raw",
            p * F.col("_bh_m").cast("double") / F.col("_bh_rank").cast("double"),
        )
    )
    # reverse cumulative min: min over rows with rank >= i = window ordered
    # by rank DESC, unbounded preceding .. current
    wrev = pk.orderBy(F.col("_bh_rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    adj = F.least(F.min("_bh_raw").over(wrev), F.lit(1.0))
    out = ranked.withColumn("p_adj", adj).withColumn(
        "rejected", F.col("p_adj") <= F.lit(float(alpha))
    )
    return out.withColumnRenamed("_bh_rank", rank_col).drop("_bh_m", "_bh_raw")


def levene_by(
    df,
    value_col: str,
    variant_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Per-group Brown-Forsythe test (Levene 1960 with Brown & Forsythe
    1974's median centering) — do the variants of ``variant_col`` have
    EQUAL SPREAD of ``value_col``?  The variance-homogeneity companion
    to :func:`anova_by` (which compares means and silently assumes the
    spreads match) and the assumption check for :func:`ttest_by`'s
    pooled cousins.  Returns (keys..., k, n, ssb, ssw, f_stat, eta_sq)
    — the one-way ANOVA F computed on z_ij = |x_ij − median_j|:

        z_ij   = |x_ij − med(x_j)|          (median of x within arm j)
        F      = (SSB_z/(k−1)) / (SSW_z/(n−k))

    Median centering (not mean) is what makes the test robust to heavy
    tails — the reason Brown-Forsythe displaced classic Levene.

    Scale shape: the arm medians come from :func:`_grouped_median`'s
    range-partitioned keyed rank scan (no group-sized aggregation
    buffer, no single-task key cell), the medians relation (groups ×
    arms rows) broadcast-joins back onto the fact table, and the F is
    :func:`anova_by`'s TWO map-side-partial moment aggregations over z
    — association order matches the DuckDB twin so 6-dp rounds
    hash-stable.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & F.col(variant_col).isNotNull()).select(
        *keys, F.col(variant_col).alias("_v"), x.alias("_x")
    )
    med = _grouped_median(base, [*keys, "_v"], "_x")
    # no forced broadcast: the medians relation is groups x arms — small
    # for analyst keys and AQE broadcasts it then, but a high-cardinality
    # key column would make a broadcast HINT a driver-memory hazard
    z = base.join(med, on=[*keys, "_v"]).select(
        *keys, "_v", F.abs(F.col("_x") - F.col("_med")).alias("_z")
    )
    return anova_by(z, "_z", "_v", keys)


def cramers_v_pairs(df, cols: Sequence[str]) -> DataFrame:
    """Cramér's V association matrix (Cramér 1946) over every unordered
    pair of the categorical columns ``cols`` — the profiling screen for
    redundant / entangled categorical features, the categorical
    counterpart of :func:`corr_matrix`.  Returns one row per pair
    (col_x, col_y, n, chi2, dof, v) with

        V = sqrt( chi2 / (n · (min(r, c) − 1)) )      in [0, 1]

    using :func:`chisq_by`'s zero-cell-safe expansion
    chi2 = n·Σ_observed o²/(rt·ct) − n, so the contingency table is
    never densified (absent cells contribute nothing).

    Scale shape: ONE scan of the fact table — each row explodes into
    P = |pairs| (pair, a, b) triples (values cast to string so the
    exploded struct has one type), map-side partial aggregation
    collapses them to contingency cells WITHIN each input partition, so
    the only shuffle carries Σ_pairs |X_i|·|X_j| cell rows, not P×N
    data rows.  Window totals + the final per-pair aggregate run on
    that tiny cell relation.  P(P−1)/2 separate column-pruned scans
    would re-read the corpus P²/2 times; this shape reads it once.
    """
    from seafan_spark.rounding import round_col

    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("cramers_v_pairs: need at least two columns")
    from pyspark.sql import Window

    d = getattr(df, "df", df)
    pairs = [
        (cols[i], cols[j])
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    trips = F.array(
        *[
            F.struct(
                F.lit(a).alias("_cx"),
                F.lit(b).alias("_cy"),
                F.col(a).cast("string").alias("_a"),
                F.col(b).cast("string").alias("_b"),
            )
            for a, b in pairs
        ]
    )
    e = (
        d.select(F.explode(trips).alias("_t"))
        .select("_t._cx", "_t._cy", "_t._a", "_t._b")
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    )
    c = e.groupBy("_cx", "_cy", "_a", "_b").agg(
        F.count(F.lit(1)).cast("double").alias("_o")
    )
    pk = ["_cx", "_cy"]
    rt = F.sum("_o").over(Window.partitionBy(*pk, "_a"))
    ct = F.sum("_o").over(Window.partitionBy(*pk, "_b"))
    n = F.sum("_o").over(Window.partitionBy(*pk))
    cells = c.select(
        *pk,
        n.alias("_n"),
        (F.col("_o") * F.col("_o") / (rt * ct)).alias("_term"),
        "_a",
        "_b",
    )
    out = cells.groupBy(*pk).agg(
        F.first("_n").alias("_nn"),
        F.sum("_term").alias("_sumterm"),
        F.count_distinct("_a").alias("_r"),
        F.count_distinct("_b").alias("_c"),
    )
    chi2 = F.col("_nn") * F.col("_sumterm") - F.col("_nn")
    minrc = F.least(F.col("_r"), F.col("_c")).cast("double")
    v = F.when(
        (minrc >= 2.0) & (F.col("_nn") > 0.0),
        F.sqrt(F.greatest(chi2, F.lit(0.0)) / (F.col("_nn") * (minrc - 1.0))),
    )
    return out.select(
        F.col("_cx").alias("col_x"),
        F.col("_cy").alias("col_y"),
        F.col("_nn").cast("bigint").alias("n"),
        round_col(chi2, 6).alias("chi2"),
        ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("bigint").alias("dof"),
        round_col(v, 6).alias("v"),
    )
