"""Experimentation / causal-inference estimators (round 9, beyond the
reference): difference-in-differences, inverse-propensity-weighted ATE,
and deterministic nearest-score propensity matching.

These are the read-out operators a large-scale experimentation pipeline
runs after the assignment/exposure logs land in the lake — the natural
consumers of the engine's A/B battery (``agg.ttest_by``/``cuped_adjust``
screen metrics; these estimate effects under the corresponding designs):

- :func:`did_estimator` — the 2x2 (or keyed) difference-in-differences
  ATT for staggered rollouts and holdout designs;
- :func:`ipw_ate` — Horvitz-Thompson / Hajek average treatment effect
  re-weighting by a (pre-computed) propensity score, clipped;
- :func:`propensity_match` — 1:1 nearest-score caliper matching as a
  RELATIONAL operator (sorted-window nearest neighbor, no greedy loop).

Scale shape: every estimator collapses the corpus with one map-side-
partial groupBy to a cell- or group-cardinality relation (cells = keys x
treated x period), then finishes with exact-count/sum divisions — the
same determinism contract as the stats battery (integral or
decimal-exact sums, single IEEE division at the end). The matcher is two
keyed windows over a score-sorted relation, never a pairwise join.

All public functions accept a Pipeline or a DataFrame (``getattr(df,
"df", df)``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from seafan_spark.session import _local_frame


def did_estimator(
    df,
    treated_col: str,
    post_col: str,
    y_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Difference-in-differences ATT over a 2x2 design (Card & Krueger
    1994 shape): treated/control x pre/post,

        att = (ybar_t_post − ybar_t_pre) − (ybar_c_post − ybar_c_pre)

    ``treated_col`` and ``post_col`` are 0/1 indicators (anything
    castable; >0.5 = 1). Returns one row per ``keys`` cell:
    (keys..., n_t_pre, n_t_post, n_c_pre, n_c_post, the four cell means,
    att). Cells with an EMPTY arm yield NULL att (a rollout where no
    control exists in some segment must not read as a zero effect).

    Scale shape: ONE map-side-partial groupBy collapses the corpus to
    the keys-cell relation (conditional sums/counts for all four cells
    in the same pass — no pivot, no second scan); the means are exact
    sums with a single IEEE division each, so the DuckDB twin
    bit-matches when y is decimal-exact.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    p = (F.col(post_col).cast("double") > 0.5).cast("int")
    y = F.col(y_col).cast("double")
    base = d.filter(
        y.isNotNull()
        & F.col(treated_col).isNotNull()
        & F.col(post_col).isNotNull()
    ).select(*keys, t.alias("_t"), p.alias("_p"), y.alias("_y"))

    def cell(tv: int, pv: int, what: str):
        m = (F.col("_t") == tv) & (F.col("_p") == pv)
        if what == "n":
            return F.sum(F.when(m, 1).otherwise(0))
        return F.sum(F.when(m, F.col("_y")))

    g = base.groupBy(*keys).agg(
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
        cell(1, 0, "s").alias("_s_t_pre"),
        cell(1, 1, "s").alias("_s_t_post"),
        cell(0, 0, "s").alias("_s_c_pre"),
        cell(0, 1, "s").alias("_s_c_post"),
    )
    means = {
        f"y_{a}_{b}": F.col(f"_s_{a}_{b}") / F.col(f"n_{a}_{b}")
        for a in ("t", "c")
        for b in ("pre", "post")
    }
    att = (means["y_t_post"] - means["y_t_pre"]) - (
        means["y_c_post"] - means["y_c_pre"]
    )
    return g.select(
        *keys,
        *[F.col(f"n_{a}_{b}").cast("long").alias(f"n_{a}_{b}")
          for a in ("t", "c") for b in ("pre", "post")],
        *[c.alias(n) for n, c in means.items()],
        att.alias("att"),
    )


def ipw_ate(
    df,
    treated_col: str,
    y_col: str,
    propensity_col: str,
    keys: Sequence[str] = (),
    clip: tuple[float, float] = (0.01, 0.99),
    estimator: str = "hajek",
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Horvitz &
    Thompson 1952; Hajek-normalized by default) from a PRE-COMPUTED
    propensity column (fit it with the model layer — ``optim.fit_glm``
    — or supply design weights):

        w1 = t/e,  w0 = (1−t)/(1−e),  e clipped to ``clip``
        hajek:           ate = sum(w1*y)/sum(w1) − sum(w0*y)/sum(w0)
        horvitz_thompson: ate = sum(w1*y)/n − sum(w0*y)/n

    Returns (keys..., n, n_treated, sum_w1, sum_w0, mu1, mu0, ate).
    Rows with NULL y/t/e are excluded; the clip bounds guard the
    division (an unclipped e→0 control would dominate the whole sum —
    the standard positivity-violation failure).

    Scale shape: one map-side-partial groupBy to the keys relation;
    weighted sums and counts in a single pass, divisions at the end.
    No model fitting here — propensity estimation composes with the
    existing (driver-oracled) GLM machinery so the estimator itself
    stays an exact relational pass.
    """
    if estimator not in ("hajek", "horvitz_thompson"):
        raise ValueError(
            "ipw_ate: estimator must be 'hajek' or 'horvitz_thompson'"
        )
    lo, hi = float(clip[0]), float(clip[1])
    if not 0.0 < lo < hi < 1.0:
        raise ValueError("ipw_ate: clip bounds must satisfy 0 < lo < hi < 1")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    y = F.col(y_col).cast("double")
    e = F.least(F.greatest(F.col(propensity_col).cast("double"), F.lit(lo)), F.lit(hi))
    base = d.filter(
        y.isNotNull()
        & F.col(treated_col).isNotNull()
        & F.col(propensity_col).cast("double").isNotNull()
    ).select(*keys, t.alias("_t"), y.alias("_y"), e.alias("_e"))
    w1 = F.when(F.col("_t") == 1, 1.0 / F.col("_e")).otherwise(0.0)
    w0 = F.when(F.col("_t") == 0, 1.0 / (1.0 - F.col("_e"))).otherwise(0.0)
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_t").alias("n_treated"),
        F.sum(w1).alias("sum_w1"),
        F.sum(w0).alias("sum_w0"),
        F.sum(w1 * F.col("_y")).alias("_wy1"),
        F.sum(w0 * F.col("_y")).alias("_wy0"),
    )
    if estimator == "hajek":
        mu1 = F.when(F.col("sum_w1") > 0, F.col("_wy1") / F.col("sum_w1"))
        mu0 = F.when(F.col("sum_w0") > 0, F.col("_wy0") / F.col("sum_w0"))
    else:
        mu1 = F.col("_wy1") / F.col("n")
        mu0 = F.col("_wy0") / F.col("n")
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("n_treated").cast("long").alias("n_treated"),
        "sum_w1",
        "sum_w0",
        mu1.alias("mu1"),
        mu0.alias("mu0"),
        (mu1 - mu0).alias("ate"),
    )


def aipw_ate(
    df,
    treated_col: str,
    y_col: str,
    propensity_col: str,
    mu1_col: str,
    mu0_col: str,
    keys: Sequence[str] = (),
    clip: tuple[float, float] = (0.01, 0.99),
) -> DataFrame:
    """Augmented IPW (doubly robust) average treatment effect (Robins,
    Rotnitzky & Zhao 1994) from pre-computed nuisance columns — a
    propensity ``e(x)`` and outcome regressions ``mu1(x)``/``mu0(x)``
    (fit both with the model layer; the estimator is consistent if
    EITHER is right):

        psi_i = mu1 − mu0 + t·(y − mu1)/e − (1−t)·(y − mu0)/(1−e)
        ate   = mean(psi),  se = sd(psi)/sqrt(n)  (the influence-
                function variance — asymptotically valid, free here)

    Returns (keys..., n, ate, se). Propensity is clipped to ``clip``
    (positivity guard, as :func:`ipw_ate`); rows with any NULL nuisance
    are excluded.

    Scale shape: a single map-side-partial groupBy over the psi
    projection — sums, sum of squares, count; divisions at the end.
    """
    lo, hi = float(clip[0]), float(clip[1])
    if not 0.0 < lo < hi < 1.0:
        raise ValueError("aipw_ate: clip bounds must satisfy 0 < lo < hi < 1")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int").cast("double")
    y = F.col(y_col).cast("double")
    e = F.least(
        F.greatest(F.col(propensity_col).cast("double"), F.lit(lo)), F.lit(hi)
    )
    mu1 = F.col(mu1_col).cast("double")
    mu0 = F.col(mu0_col).cast("double")
    cond = (
        y.isNotNull()
        & F.col(treated_col).isNotNull()
        & F.col(propensity_col).cast("double").isNotNull()
        & mu1.isNotNull()
        & mu0.isNotNull()
    )
    psi = (
        mu1 - mu0
        + t * (y - mu1) / e
        - (F.lit(1.0) - t) * (y - mu0) / (F.lit(1.0) - e)
    )
    base = d.filter(cond).select(*keys, psi.alias("_psi"))
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_psi").alias("_s"),
        F.sum(F.col("_psi") * F.col("_psi")).alias("_ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_s") / n
    # influence-function variance: sd(psi)/sqrt(n), sample (n-1) form
    var = F.when(
        F.col("n") > 1, (F.col("_ss") - n * mean * mean) / (n - 1.0)
    )
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        mean.alias("ate"),
        F.sqrt(F.greatest(var, F.lit(0.0)) / n).alias("se"),
    )


def cluster_ttest(
    df,
    cluster_col: str,
    treated_col: str,
    y_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Cluster-randomized experiment readout (Donner & Klar's classic
    cluster-level analysis): when assignment happens at CLUSTER
    granularity — geos, stores, classrooms, tenants — unit-level
    t-tests are anticonservative (within-cluster correlation shrinks
    the effective n). The robust-and-simple estimator collapses each
    cluster to its mean outcome, then runs the Welch two-sample t-test
    over CLUSTER means, so the clusters are the units of inference:

        per cluster: ybar_c = mean(y),  arm = treated (constant within)
        Welch t over {ybar_c} by arm, Satterthwaite df

    Returns (keys..., n1, n0, mean1, mean0, diff, t_stat, df) where
    n1/n0 count CLUSTERS. Clusters with mixed treatment (a broken
    assignment) raise — silently picking a side would hide exactly the
    bug this analysis exists to respect.

    Scale shape: one map-side-partial groupBy collapses units to the
    (keys, cluster) relation — cluster cardinality, not corpus — then
    one more tiny aggregate; closed form after, the ``agg.ttest_by``
    association order so the DuckDB twin bit-matches after rounding.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    y = F.col(y_col).cast("double")
    base = d.filter(
        y.isNotNull()
        & F.col(treated_col).isNotNull()
        & F.col(cluster_col).isNotNull()
    ).select(*keys, F.col(cluster_col).alias("_c"), t.alias("_t"), y.alias("_y"))
    cl = base.groupBy(*keys, "_c").agg(
        F.avg("_y").alias("_m"),
        F.min("_t").alias("_tmin"),
        F.max("_t").alias("_tmax"),
    )
    mixed = cl.filter(F.col("_tmin") != F.col("_tmax"))
    bad = mixed.select(*keys, "_c").limit(5).collect()
    if bad:
        raise ValueError(
            "cluster_ttest: clusters with MIXED treatment found (first "
            f"few: {[tuple(r) for r in bad]}) — assignment must be "
            "constant within a cluster; fix the assignment join before "
            "analyzing"
        )
    x = F.col("_m")
    is1 = F.col("_tmax") == 1
    one = F.when(is1, 1.0).otherwise(0.0)
    zero = F.when(is1, 0.0).otherwise(1.0)
    agg = cl.groupBy(*keys).agg(
        F.sum(one).alias("_n1"),
        F.sum(zero).alias("_n0"),
        F.sum(x * one).alias("_s1"),
        F.sum(x * zero).alias("_s0"),
        F.sum(x * x * one).alias("_q1"),
        F.sum(x * x * zero).alias("_q0"),
    )
    n1, n0 = F.col("_n1"), F.col("_n0")
    m1, m0 = F.col("_s1") / n1, F.col("_s0") / n0
    v1 = (n1 * F.col("_q1") - F.col("_s1") * F.col("_s1")) / (n1 * (n1 - 1.0))
    v0 = (n0 * F.col("_q0") - F.col("_s0") * F.col("_s0")) / (n0 * (n0 - 1.0))
    ok = (n1 >= 2.0) & (n0 >= 2.0)
    se2 = v1 / n1 + v0 / n0
    tstat = F.when(ok & (se2 > 0.0), (m1 - m0) / F.sqrt(se2))
    dof = F.when(
        ok & (se2 > 0.0),
        (se2 * se2)
        / ((v1 / n1) * (v1 / n1) / (n1 - 1.0)
           + (v0 / n0) * (v0 / n0) / (n0 - 1.0)),
    )
    return agg.select(
        *keys,
        n1.cast("long").alias("n1"),
        n0.cast("long").alias("n0"),
        m1.alias("mean1"),
        m0.alias("mean0"),
        (m1 - m0).alias("diff"),
        tstat.alias("t_stat"),
        dof.alias("df"),
    )


def power_mde(
    df,
    y_col: str,
    keys: Sequence[str] = (),
    treat_frac: float = 0.5,
    z_alpha: float = 1.959963984540054,
    z_power: float = 0.8416212335729143,
) -> DataFrame:
    """Minimum detectable effect for a two-arm experiment on metric
    ``y`` at the observed sample size (the pre-launch power read-out —
    run it per segment BEFORE assigning treatment, on historical data):

        mde = (z_{alpha/2} + z_power) · sqrt( var(y) · (1/f + 1/(1−f)) / n )

    the classical two-sample normal-approximation formula at default
    alpha = 5% two-sided / power = 80% — both z's are exact literals
    (no inverse-normal libm in the plan, the logrank-3.841 convention);
    pass other quantiles explicitly. ``treat_frac`` f is the planned
    treated share. Also reports the relative MDE (mde / mean, NULL at
    zero mean).

    Returns (keys..., n, mean, var, mde, mde_rel).

    Scale shape: one map-side-partial groupBy (count, sum, sum of
    squares) per keys cell; closed-form projection after. Exactly the
    stats battery's determinism contract — integral-ish sums, a couple
    of IEEE ops at the end.
    """
    f = float(treat_frac)
    if not 0.0 < f < 1.0:
        raise ValueError("power_mde: treat_frac must be in (0, 1)")
    keys = list(keys)
    d = getattr(df, "df", df)
    y = F.col(y_col).cast("double")
    base = d.filter(y.isNotNull()).select(*keys, y.alias("_y"))
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("_s"),
        F.sum(F.col("_y") * F.col("_y")).alias("_ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_s") / n
    var = F.when(F.col("n") > 1, (F.col("_ss") - n * mean * mean) / (n - 1.0))
    mde = (F.lit(float(z_alpha)) + F.lit(float(z_power))) * F.sqrt(
        F.greatest(var, F.lit(0.0)) * F.lit(1.0 / f + 1.0 / (1.0 - f)) / n
    )
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        mean.alias("mean"),
        var.alias("var"),
        mde.alias("mde"),
        F.when(mean != 0.0, mde / mean).alias("mde_rel"),
    )


def srm_check(
    df,
    treated_col: str,
    keys: Sequence[str] = (),
    expected_frac: float = 0.5,
) -> DataFrame:
    """Sample-ratio-mismatch check (the first thing to run on ANY
    experiment readout — a biased assignment invalidates every
    downstream estimate): one-df chi-square of the observed
    treated/control split against the design fraction,

        chi2 = (n_t − N·f)² / (N·f) + (n_c − N·(1−f))² / (N·(1−f))

    flagged ``srm = chi2 > 3.841`` (the 5% critical value — erf-free,
    the logrank convention; a *significant* SRM at readout means the
    assignment or logging pipeline dropped units non-randomly).

    Returns (keys..., n, n_t, n_c, expected_t, chi2, srm).

    Scale shape: one map-side-partial groupBy per keys cell; exact
    integer counts, the chi2 a few IEEE ops.
    """
    f = float(expected_frac)
    if not 0.0 < f < 1.0:
        raise ValueError("srm_check: expected_frac must be in (0, 1)")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    base = d.filter(F.col(treated_col).isNotNull()).select(
        *keys, t.alias("_t")
    )
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_t").alias("n_t"),
        F.sum(F.lit(1) - F.col("_t")).alias("n_c"),
    )
    n = F.col("n").cast("double")
    et = n * F.lit(f)
    ec = n * F.lit(1.0 - f)
    dt = F.col("n_t").cast("double") - et
    dc = F.col("n_c").cast("double") - ec
    chi2 = dt * dt / et + dc * dc / ec
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        F.col("n_t").cast("long").alias("n_t"),
        F.col("n_c").cast("long").alias("n_c"),
        et.alias("expected_t"),
        chi2.alias("chi2"),
        (chi2 > F.lit(3.841)).alias("srm"),
    )


def uplift_curve(
    df,
    treated_col: str,
    y_col: str,
    score_col: str,
    id_col: str,
    n_buckets: int = 10,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Qini / uplift curve (Radcliffe 2007) — the evaluation companion
    to the uplift models the other causal estimators feed: rank units
    by predicted-uplift ``score`` descending, cut into ``n_buckets``
    equal-depth buckets, and report per cumulative depth k

        qini(k) = Y_t(k) − Y_c(k) · N_t(k) / N_c(k)

    (the incremental responses among the first k bucket-depths, with
    controls scaled to the treated exposure). A good uplift model front-
    loads positive qini; the random baseline is the straight line to
    qini(total). Returns one row per (keys, bucket):
    (keys..., bucket, n, n_t, n_c, y_t, y_c, qini) — all columns
    CUMULATIVE from bucket 1, so the last row is the whole population
    and the curve plots directly.

    Determinism: ranking is a total order (score DESC, id ASC) and the
    cut is standard-SQL NTILE (as-equal-as-possible buckets, larger
    first — identical semantics in Spark and DuckDB), so the twin
    reproduces the curve even with heavy score ties. Buckets with no
    controls yet yield NULL qini (no fake zeros).

    Scale shape: NTILE is rank arithmetic — the subject-level pass is
    :func:`seafan_spark.rank.keyed_running_scan` (range-repartition on
    (keys, score DESC, id), within-partition rank, per-(partition, key)
    offsets broadcast back), then the closed-form
    :func:`seafan_spark.rank.ntile_from_rank` cut; a key cell spans a
    RUN of partitions instead of funneling through one task (the
    round-9 scale hazard). The only keyed windows left run over the
    B-row aggregated relation (n_buckets rows per key).
    """
    if n_buckets < 1:
        raise ValueError("uplift_curve: n_buckets must be >= 1")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    y = F.col(y_col).cast("double")
    s = F.col(score_col).cast("double")
    base = d.filter(
        y.isNotNull()
        & F.col(treated_col).isNotNull()
        & s.isNotNull()
        & F.col(id_col).isNotNull()
    ).select(
        *keys, F.col(id_col).alias("_id"), t.alias("_t"), y.alias("_y"),
        s.alias("_s"),
    )
    from seafan_spark.rank import keyed_running_scan, ntile_from_rank

    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    # standard-SQL NTILE: as-equal-as-possible buckets, larger ones
    # first — identical semantics in Spark and DuckDB, exact integers.
    # Computed as closed-form arithmetic over a range-partitioned keyed
    # rank so no key cell runs on a single task.
    ranked = keyed_running_scan(
        base,
        keys,
        [("_s", False), ("_id", True)],
        rownum_out="_krn",
        total_out="_ktot",
    )
    bucket = ntile_from_rank(F.col("_krn"), F.col("_ktot"), int(n_buckets))
    g = (
        ranked.withColumn("_b", bucket)
        .groupBy(*keys, "_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_t").alias("_nt"),
            F.sum(F.lit(1) - F.col("_t")).alias("_nc"),
            F.sum(F.col("_t") * F.col("_y")).alias("_yt"),
            F.sum((F.lit(1) - F.col("_t")) * F.col("_y")).alias("_yc"),
        )
    )
    wcum = wall.orderBy(F.col("_b").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cn = F.sum("_n").over(wcum)
    cnt = F.sum("_nt").over(wcum)
    cnc = F.sum("_nc").over(wcum)
    cyt = F.sum("_yt").over(wcum)
    cyc = F.sum("_yc").over(wcum)
    qini = F.when(
        cnc > 0,
        cyt - cyc * cnt.cast("double") / cnc.cast("double"),
    )
    return g.select(
        *keys,
        F.col("_b").cast("int").alias("bucket"),
        cn.cast("long").alias("n"),
        cnt.cast("long").alias("n_t"),
        cnc.cast("long").alias("n_c"),
        cyt.alias("y_t"),
        cyc.alias("y_c"),
        qini.alias("qini"),
    )


def propensity_match(
    df,
    id_col: str,
    treated_col: str,
    score_col: str,
    caliper: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Deterministic 1-nearest-control propensity matching as a
    RELATIONAL operator (Rosenbaum & Rubin 1983's matching step,
    re-expressed without the sequential greedy loop):

    every treated unit is paired with the control whose score is
    nearest on the score-sorted axis (exact-distance ties break toward
    the LOWER score; among controls with identical scores the
    sort-adjacent one under the total order (score, controls-first, id)
    wins — fully deterministic, so the match reproduces across
    runs/engines and the DuckDB twin); pairs farther than ``caliper``
    apart are dropped. Controls may be reused (matching WITH
    replacement — the variant that is order-free and hence exactly
    parallelizable; greedy without-replacement matching is inherently
    sequential — :func:`propensity_match_greedy` is the guarded
    driver-side implementation for cohort-scale studies, cross-checked
    against this one in ``tests/test_causal.py``).

    Returns (keys..., treated_id, control_id, treated_score,
    control_score, abs(distance)).

    Scale shape: the forward/backward nearest-control scans run through
    :func:`seafan_spark.rank.keyed_running_scan` — range-repartition on
    (keys, score, is-control-first, id), within-partition
    last_value(ignoreNulls) scans both ways, and per-(partition, key)
    edge-control carry-ins broadcast back — so a key cell spans a run
    of partitions instead of one task (the round-9 scale hazard). A
    final projection chooses the nearer side and applies the caliper;
    the total order (score, controls-first, id) keeps equal scores
    deterministic. No pairwise join anywhere.
    """
    if caliper <= 0:
        raise ValueError("propensity_match: caliper must be > 0")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    s = F.col(score_col).cast("double")
    base = d.filter(
        s.isNotNull() & F.col(treated_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(*keys, F.col(id_col).alias("_id"), t.alias("_t"), s.alias("_s"))
    from seafan_spark.rank import keyed_running_scan

    # controls sort BEFORE treated at equal scores so a tied control is
    # visible to the forward scan (<= semantics) but not double-counted
    ctrl = F.when(
        F.col("_t") == 0, F.struct(F.col("_s").alias("s"), F.col("_id").alias("id"))
    )
    scanned = keyed_running_scan(
        base,
        keys,
        [("_s", True), ("_t", True), ("_id", True)],
        val=ctrl,
        out_prev="_lo",
        out_next="_hi",
    )
    cand = scanned.select(
        *keys,
        "_id",
        "_t",
        "_s",
        F.col("_lo.s").alias("_lo_s"),
        F.col("_lo.id").alias("_lo_id"),
        F.col("_hi.s").alias("_hi_s"),
        F.col("_hi.id").alias("_hi_id"),
    ).filter(F.col("_t") == 1)
    d_lo = F.abs(F.col("_s") - F.col("_lo_s"))
    d_hi = F.abs(F.col("_hi_s") - F.col("_s"))
    # nearer side wins; exact-distance ties go to the LOWER score (_lo)
    take_lo = F.col("_lo_s").isNotNull() & (
        F.col("_hi_s").isNull() | (d_lo <= d_hi)
    )
    m = cand.select(
        *keys,
        F.col("_id").alias("treated_id"),
        F.when(take_lo, F.col("_lo_id")).otherwise(F.col("_hi_id")).alias("control_id"),
        F.col("_s").alias("treated_score"),
        F.when(take_lo, F.col("_lo_s")).otherwise(F.col("_hi_s")).alias("control_score"),
        F.when(take_lo, d_lo).otherwise(d_hi).alias("distance"),
    )
    return m.filter(
        F.col("control_id").isNotNull() & (F.col("distance") <= F.lit(float(caliper)))
    )


def qini_auc(
    df,
    treated_col: str,
    y_col: str,
    score_col: str,
    id_col: str,
    n_buckets: int = 10,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Qini coefficient (Radcliffe 2007's single-number uplift-model
    score): the signed area between the :func:`uplift_curve` and the
    random-targeting baseline (the straight line from (0, 0) to
    (1, qini_total)), trapezoid-integrated over population fraction —
    one comparable scalar per (keys) cell for the experimentation
    battery's model leaderboard.

    With x_i = n_i / n (cumulative population fraction at bucket i) and
    d_i = qini_i − x_i · qini_B (the curve's excess over the baseline,
    d_0 = 0 at the origin):

        auc = Σ_i (x_i − x_{i−1}) · (d_i + d_{i−1}) / 2

    Positive auc = the model front-loads incremental responders; 0 =
    random; the sign convention matches the plotted curve. Buckets
    whose cumulative control count is still zero have NULL qini (the
    :func:`uplift_curve` contract) — any NULL bucket makes the auc
    NULL rather than silently dropping segments (SQL SUM would skip
    them).

    Determinism: the fold over the B segments is a RUNNING sum in
    bucket order (identical left-to-right association in Spark and
    DuckDB), so the double is bit-stable across engines; inputs are the
    curve's exact integer counts.

    Scale shape: everything beyond :func:`uplift_curve` (whose
    subject-level pass is the range-partitioned keyed scan) is window
    math over the B-row-per-key curve relation — bounded by n_buckets,
    never by corpus size.

    Returns (keys..., n, qini_total, qini_auc).
    """
    keys = list(keys)
    curve = uplift_curve(
        df, treated_col, y_col, score_col, id_col, n_buckets=n_buckets, keys=keys
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("bucket").asc())
    span = wall.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_tot = F.max("n").over(span).cast("double")
    q_tot = F.max_by("qini", "bucket").over(span)
    x = F.col("n").cast("double") / n_tot
    d_exc = F.col("qini") - x * q_tot
    x_prev = F.coalesce(F.lag(x, 1).over(word), F.lit(0.0))
    d_prev = F.coalesce(F.lag(d_exc, 1).over(word), F.lit(0.0))
    seg = (x - x_prev) * (d_exc + d_prev) / F.lit(2.0)
    running = F.sum(seg).over(word.rowsBetween(Window.unboundedPreceding, 0))
    has_null = F.max(F.when(F.col("qini").isNull(), 1).otherwise(0)).over(span)
    last_b = F.max("bucket").over(span)
    out = curve.select(
        *keys,
        F.col("bucket"),
        F.max("n").over(span).alias("n"),
        q_tot.alias("qini_total"),
        F.when(has_null == 0, running).alias("qini_auc"),
        last_b.alias("_lb"),
    ).filter(F.col("bucket") == F.col("_lb"))
    return out.drop("bucket", "_lb")


def propensity_match_greedy(
    df,
    id_col: str,
    treated_col: str,
    score_col: str,
    caliper: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Classical GREEDY 1:1 propensity matching WITHOUT replacement
    (the standard epidemiology variant; Austin 2011's taxonomy) — the
    sequential sibling of :func:`propensity_match`, which matches with
    replacement and is therefore order-free and exactly parallelizable.

    Pairs are consumed in increasing (distance, treated_id) order — the
    "best-match-first" greedy: repeatedly take the treated unit whose
    nearest UNTAKEN control is closest, bind the pair, and re-queue any
    treated unit whose candidate was stolen with its next-nearest
    untaken control. Exact-distance ties break toward the lower treated
    id, then toward the lower control score and id — fully
    deterministic. Pairs farther than ``caliper`` are dropped; each
    control is used AT MOST ONCE, so treated units can go unmatched
    even inside the caliper (the defining without-replacement
    property a cohort study wants for variance honesty).

    Scale shape: inherently sequential (each pick changes the candidate
    set), so this runs DRIVER-SIDE behind :func:`guards.assert_small`
    — the documented cohort-scale path (epidemiological cohorts, not
    corpora). At corpus scale use :func:`propensity_match` and weight
    repeated controls, or stratify into keyed cohorts first: the greedy
    loop runs per key cell after ONE guarded collect, O((T+C) log C)
    per cell via a lazy-invalidation heap over score-sorted controls.

    Returns the :func:`propensity_match` schema: (keys..., treated_id,
    control_id, treated_score, control_score, distance).
    """
    import bisect
    import heapq

    from seafan_spark.guards import assert_small

    if caliper <= 0:
        raise ValueError("propensity_match_greedy: caliper must be > 0")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = (F.col(treated_col).cast("double") > 0.5).cast("int")
    s = F.col(score_col).cast("double")
    base = d.filter(
        s.isNotNull() & F.col(treated_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(*keys, F.col(id_col).alias("_id"), t.alias("_t"), s.alias("_s"))
    assert_small(
        base,
        "propensity_match_greedy",
        scale_hint="Greedy without-replacement matching is sequential by "
        "definition — use propensity_match (with replacement, relational) "
        "at corpus scale.",
    )
    rows = base.collect()
    groups: dict[tuple, tuple[list, list]] = {}
    for r in rows:
        k = tuple(r[c] for c in keys)
        tr, ct = groups.setdefault(k, ([], []))
        (tr if r["_t"] == 1 else ct).append((r["_s"], r["_id"]))
    out_rows = []
    cal = float(caliper)
    for k, (treated, controls) in groups.items():
        controls.sort()
        cs = [c[0] for c in controls]
        taken = [False] * len(controls)
        free = len(controls)

        def nearest(ts, tid):
            """Closest untaken control to score ts; ties toward lower
            score then lower id (scan outward from the bisect point)."""
            j = bisect.bisect_left(cs, ts)
            lo, hi = j - 1, j
            best = None
            while lo >= 0 or hi < len(cs):
                lo_d = ts - cs[lo] if lo >= 0 else None
                hi_d = cs[hi] - ts if hi < len(cs) else None
                if lo_d is not None and (hi_d is None or lo_d <= hi_d):
                    i, dd = lo, lo_d
                    lo -= 1
                else:
                    i, dd = hi, hi_d
                    hi += 1
                if best is not None and dd > best[0]:
                    break
                if not taken[i] and dd <= cal:
                    cand = (dd, cs[i], controls[i][1], i)
                    if best is None or cand < best:
                        best = cand
                elif best is None and dd > cal:
                    break
            return best

        heap = []
        for ts, tid in sorted(treated, key=lambda x: (x[1],)):
            b = nearest(ts, tid)
            if b is not None:
                heapq.heappush(heap, (b[0], tid, b[1], b[2], b[3], ts))
        while heap and free > 0:
            dd, tid, csc, cid, ci, ts = heapq.heappop(heap)
            if taken[ci]:
                b = nearest(ts, tid)  # candidate stolen — re-queue
                if b is not None:
                    heapq.heappush(heap, (b[0], tid, b[1], b[2], b[3], ts))
                continue
            taken[ci] = True
            free -= 1
            out_rows.append((*k, tid, cid, ts, csc, dd))
    spark = d.sparkSession
    id_type = base.schema["_id"].dataType.simpleString()
    fields = [f"{c} {base.schema[c].dataType.simpleString()}" for c in keys]
    fields += [
        f"treated_id {id_type}",
        f"control_id {id_type}",
        "treated_score double",
        "control_score double",
        "distance double",
    ]
    return _local_frame(spark, out_rows, ", ".join(fields))
