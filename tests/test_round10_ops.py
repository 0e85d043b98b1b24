"""Round-10 operator tests: the keyed range-partition scan substrate,
the scale-shaped causal ops that ride on it, the Qini coefficient, the
greedy matcher, the Mann-Kendall pair budget / tie contract, guard
memoization, grouped IRR bisection at scale, and multimodal string ids.
"""
from __future__ import annotations

import random

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from seafan_spark.guards import SmallDataLimitError


# ------------------------------------------------ keyed_running_scan ----

def _rand_df(spark, n=500, seed=3, keys=("a", "b", "c")):
    rng = random.Random(seed)
    rows = [
        (i, rng.choice(keys), rng.randrange(2), round(rng.random(), 2))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, k string, t int, s double")


def test_keyed_running_scan_rownum_total(spark):
    from seafan_spark.rank import keyed_running_scan

    df = _rand_df(spark)
    got = keyed_running_scan(
        df, ["k"], [("s", True), ("id", True)], rownum_out="rn", total_out="tot"
    )
    w = Window.partitionBy("k").orderBy(F.col("s").asc(), F.col("id").asc())
    ref = df.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "tot", F.count(F.lit(1)).over(Window.partitionBy("k")).cast("long")
    )
    assert sorted(map(tuple, got.select("id", "rn", "tot").collect())) == sorted(
        map(tuple, ref.select("id", "rn", "tot").collect())
    )


def test_keyed_running_scan_prev_next(spark):
    from seafan_spark.rank import keyed_running_scan

    df = _rand_df(spark, n=400, seed=9)
    val = F.when(F.col("t") == 0, F.struct(F.col("s"), F.col("id")))
    got = keyed_running_scan(
        df, ["k"], [("s", True), ("t", True), ("id", True)],
        val=val, out_prev="pv", out_next="nx",
    )
    order = [F.col("s").asc(), F.col("t").asc(), F.col("id").asc()]
    wf = Window.partitionBy("k").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    wb = Window.partitionBy("k").orderBy(
        *[c.desc() for c in [F.col("s"), F.col("t"), F.col("id")]]
    ).rowsBetween(Window.unboundedPreceding, -1)
    ref = df.withColumn("pv", F.last(val, ignorenulls=True).over(wf)).withColumn(
        "nx", F.last(val, ignorenulls=True).over(wb)
    )
    assert sorted(map(tuple, got.select("id", "pv", "nx").collect())) == sorted(
        map(tuple, ref.select("id", "pv", "nx").collect())
    )


def test_keyed_running_scan_no_keys_and_collision(spark):
    from seafan_spark.rank import keyed_running_scan

    df = _rand_df(spark, n=150, seed=4)
    got = keyed_running_scan(df, [], [("s", True), ("id", True)], rownum_out="rn")
    ref = df.withColumn(
        "rn",
        F.row_number()
        .over(Window.partitionBy(F.lit(0)).orderBy(F.col("s").asc(), F.col("id").asc()))
        .cast("long"),
    )
    assert sorted(map(tuple, got.select("id", "rn").collect())) == sorted(
        map(tuple, ref.select("id", "rn").collect())
    )
    with pytest.raises(ValueError, match="collides"):
        keyed_running_scan(df, ["k"], [("s", True)], rownum_out="id")
    with pytest.raises(ValueError, match="order"):
        keyed_running_scan(df, ["k"], [], rownum_out="rn")


def test_ntile_from_rank_matches_sql_ntile(spark):
    from seafan_spark.rank import keyed_running_scan, ntile_from_rank

    for n, buckets, seed in [(97, 10, 1), (5, 7, 2), (64, 4, 5), (1, 3, 6)]:
        df = _rand_df(spark, n=n, seed=seed)
        got = keyed_running_scan(
            df, ["k"], [("s", False), ("id", True)],
            rownum_out="rn", total_out="tot",
        ).withColumn("b", ntile_from_rank(F.col("rn"), F.col("tot"), buckets))
        w = Window.partitionBy("k").orderBy(F.col("s").desc(), F.col("id").asc())
        ref = df.withColumn("b", F.ntile(buckets).over(w))
        assert sorted(map(tuple, got.select("id", "b").collect())) == sorted(
            map(tuple, ref.select("id", "b").collect())
        ), (n, buckets)


# ------------------------------------ scale shape of the causal plans ----

def _window_lines(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "Window " in ln or ln.strip().startswith("Window")]


def test_uplift_and_psm_plans_have_no_subject_level_key_window(spark):
    """Round-9 VERDICT #1 'done' check: no single-task-per-key-cell
    window over the subject relation — every Window that touches the
    score column must be partitioned by _gpid (the range-partition
    layout); uplift's plan must contain no NTILE at all."""
    from seafan_spark.causal import propensity_match, uplift_curve

    df = _rand_df(spark, n=300, seed=8)
    up = uplift_curve(df, "t", "s", "s", "id", n_buckets=5, keys=["k"])
    plan = up._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan.lower()
    # the range layout is materialized (localCheckpoint), so the visible
    # plan scans the checkpointed RDD carrying the _gpid partition column
    assert "_gpid" in plan
    for ln in _window_lines(up):
        if "_s" in ln and "_gpid" not in ln:
            # the only keyed windows without _gpid run over the B-row
            # aggregated curve (reference _n/_nt cumulative sums)
            assert "_nt" in ln or "_n#" in ln, ln
    pm = propensity_match(df, "id", "t", "s", caliper=0.05, keys=["k"])
    plan2 = pm._jdf.queryExecution().executedPlan().toString()
    assert "_gpid" in plan2
    for ln in _window_lines(pm):
        if "_krs_val" in ln:
            assert "_gpid" in ln, ln


# ------------------------------------------------------------ qini ----

def test_qini_auc_matches_python_reference(spark):
    from seafan_spark.causal import qini_auc, uplift_curve

    rng = random.Random(17)
    rows = [
        (i, rng.choice(["x", "y"]), rng.randrange(2),
         round(rng.random(), 3), float(rng.randrange(100) > 55))
        for i in range(1500)
    ]
    df = spark.createDataFrame(rows, "id long, k string, t int, s double, y double")
    got = {r["k"]: r for r in qini_auc(df, "t", "y", "s", "id", 10, ["k"]).collect()}
    curve = uplift_curve(df, "t", "y", "s", "id", 10, ["k"]).orderBy("k", "bucket")
    from collections import defaultdict

    byk = defaultdict(list)
    for r in curve.collect():
        byk[r["k"]].append(r)
    for k, rs in byk.items():
        n, qt = rs[-1]["n"], rs[-1]["qini"]
        xp = dp = auc = 0.0
        for r in rs:
            x = r["n"] / n
            d = r["qini"] - x * qt
            auc += (x - xp) * (d + dp) / 2.0
            xp, dp = x, d
        assert got[k]["n"] == n
        assert got[k]["qini_total"] == pytest.approx(qt, abs=1e-12)
        assert got[k]["qini_auc"] == pytest.approx(auc, abs=1e-12)


def test_qini_auc_null_when_no_controls(spark):
    from seafan_spark.causal import qini_auc

    rows = [(i, 1, 0.1 * i, 1.0) for i in range(20)]  # all treated
    df = spark.createDataFrame(rows, "id long, t int, s double, y double")
    out = qini_auc(df, "t", "y", "s", "id", n_buckets=4).collect()
    assert len(out) == 1
    assert out[0]["qini_auc"] is None and out[0]["qini_total"] is None


# ------------------------------------------------------ greedy PSM ----

def test_greedy_matches_relational_on_separated_cohort(spark):
    from seafan_spark.causal import propensity_match, propensity_match_greedy

    rows = [(1, 1, 0.10), (2, 0, 0.11), (3, 1, 0.50), (4, 0, 0.52),
            (5, 1, 0.90), (6, 0, 0.87)]
    df = spark.createDataFrame(rows, "id long, t int, s double")
    wr = propensity_match(df, "id", "t", "s", caliper=0.1).orderBy("treated_id")
    gr = propensity_match_greedy(df, "id", "t", "s", caliper=0.1).orderBy("treated_id")
    assert [tuple(r) for r in wr.collect()] == [tuple(r) for r in gr.collect()]


def test_greedy_without_replacement_invariants(spark):
    from seafan_spark.causal import propensity_match_greedy

    df = _rand_df(spark, n=600, seed=23)
    out = propensity_match_greedy(df, "id", "t", "s", caliper=0.04, keys=["k"]).collect()
    assert out, "planted cohort must produce matches"
    seen = set()
    for r in out:
        key = (r["k"], r["control_id"])
        assert key not in seen, "control reused in without-replacement match"
        seen.add(key)
        assert r["distance"] <= 0.04 + 1e-15
        assert r["distance"] == pytest.approx(
            abs(r["treated_score"] - r["control_score"])
        )


def test_greedy_contention_goes_to_closest_treated(spark):
    from seafan_spark.causal import propensity_match, propensity_match_greedy

    rows = [(1, 1, 0.50), (2, 1, 0.505), (3, 0, 0.51)]
    df = spark.createDataFrame(rows, "id long, t int, s double")
    assert propensity_match(df, "id", "t", "s", caliper=0.1).count() == 2
    gr = propensity_match_greedy(df, "id", "t", "s", caliper=0.1).collect()
    assert len(gr) == 1 and gr[0]["treated_id"] == 2


def test_greedy_small_data_guard(spark, monkeypatch):
    from seafan_spark.causal import propensity_match_greedy

    monkeypatch.setenv("SEAFAN_SMALL_DATA_LIMIT", "10")
    df = _rand_df(spark, n=50, seed=2)
    with pytest.raises(SmallDataLimitError, match="propensity_match"):
        propensity_match_greedy(df, "id", "t", "s", caliper=0.1, keys=["k"])


# ------------------------------------------- mann_kendall contracts ----

def test_mann_kendall_duplicate_order_raises(spark):
    from seafan_spark.temporal import mann_kendall

    rows = [("a", 1.0, 5.0), ("a", 1.0, 6.0), ("a", 2.0, 7.0)]
    df = spark.createDataFrame(rows, "k string, x double, v double")
    with pytest.raises(SmallDataLimitError, match="one row per"):
        mann_kendall(df, "x", "v", keys=["k"])


def test_mann_kendall_pair_budget(spark, monkeypatch):
    """A series above the pair-row budget errors with the budget message
    (priced per group, BEFORE the B^2 self-join ever runs)."""
    from seafan_spark.temporal import mann_kendall

    monkeypatch.setenv("SEAFAN_MK_PAIR_ROW_LIMIT", "1000")
    df = spark.range(2000).select(
        F.lit("g").alias("k"),
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 17).cast("double").alias("v"),
    )
    with pytest.raises(SmallDataLimitError, match="B\\^2 pairs"):
        mann_kendall(df, "x", "v", keys=["k"])


def test_mann_kendall_still_correct_after_guard_change(spark):
    from seafan_spark.temporal import mann_kendall

    # strictly increasing 1..30: S = C(30,2) = 435, no ties
    rows = [("a", float(i), float(i) * 2.0) for i in range(1, 31)]
    df = spark.createDataFrame(rows, "k string, x double, v double")
    out = mann_kendall(df, "x", "v", keys=["k"]).collect()[0]
    assert out["s"] == 435 and out["trend"] == 1
    assert out["sen_slope"] == pytest.approx(2.0)


# ------------------------------------------------- guard memoization ----

def test_bounded_groups_memoizes_passing_checks(spark):
    from seafan_spark import guards

    df = spark.createDataFrame(
        [("a", float(i % 7)) for i in range(40)], "k string, t double"
    )
    key_probe = df.select("k", "t")
    guards._BOUNDED_MEMO.clear()
    n1 = guards.assert_bounded_groups(key_probe, ["k"], "memo_test")
    assert len(guards._BOUNDED_MEMO) == 1
    memo_key = next(iter(guards._BOUNDED_MEMO))
    guards._BOUNDED_MEMO[memo_key] = -12345  # sentinel: cache must be hit
    n2 = guards.assert_bounded_groups(key_probe, ["k"], "memo_test")
    assert n2 == -12345 and n1 == 40
    guards._BOUNDED_MEMO.clear()


def test_survival_composition_single_guard_job(spark):
    """rmst/km_confidence over the same subjects re-use the memoized
    guard (round-9 ADVICE #3): after survival_km runs, the wrappers add
    no new memo entries for the same lineage."""
    from seafan_spark import guards
    from seafan_spark.temporal import km_confidence, rmst, survival_km

    rows = [("c", float(1 + i % 5), i % 2) for i in range(60)]
    df = spark.createDataFrame(rows, "g string, dur double, e int")
    guards._BOUNDED_MEMO.clear()
    survival_km(df, "dur", "e", keys=["g"]).collect()
    assert len(guards._BOUNDED_MEMO) == 1
    rmst(df, "dur", "e", tau=3.0, keys=["g"]).collect()
    km_confidence(df, "dur", "e", keys=["g"]).collect()
    assert len(guards._BOUNDED_MEMO) == 1  # same lineage -> cache hits
    guards._BOUNDED_MEMO.clear()


# --------------------------------------------- irr_by_bisect at scale ----

def test_irr_by_bisect_many_groups_matches_scalar(spark):
    """Over 100k flow rows in 1,000 groups, spread over several input
    partitions: sampled groups' rates are BIT-EQUAL to irr_bisect on
    that group's flows alone (the default cost folds in ascending flow
    order, so partitioning cannot move a bit)."""
    from seafan_spark.agg import irr_bisect, irr_by_bisect

    per = 110
    df = spark.range(0, 1_000 * per, numPartitions=7).select(
        (F.col("id") % 1_000).alias("g"),
        (F.col("id") / 1_000).cast("int").alias("i"),
        F.when(F.col("id") < 1_000, F.lit(-100.0))
        .otherwise(1.0 + F.pmod(F.hash("id"), F.lit(1000)) / 100.0)
        .alias("v"),
    )
    grouped = {
        r["g"]: r["rate"]
        for r in irr_by_bisect(df, ["g"], "v", ["i"]).collect()
    }
    assert len(grouped) == 1_000
    assert all(r is not None for r in grouped.values())
    for g in (0, 517, 999):
        solo = irr_bisect(df.filter(F.col("g") == g), "v", ["i"])
        assert grouped[g] == solo, f"group {g}: {grouped[g]} != {solo}"


# ---------------------------------------------- multimodal string ids ----

def test_multimodal_ops_accept_string_ids(spark):
    from seafan_spark.llmops import multimodal

    rows = [Row(doc_id=f"doc-{i}", media=bytes([i] * (40 + i))) for i in range(6)]
    df = spark.createDataFrame(rows)
    feats = multimodal.extract_image_features(df, "doc_id", "media").collect()
    assert {r["doc_id"] for r in feats} == {f"doc-{i}" for i in range(6)}
    rs = multimodal.resize_images(df, "doc_id", "media", (8, 8)).collect()
    assert {r["doc_id"] for r in rs} == {f"doc-{i}" for i in range(6)}
    assert all(r["resized"].startswith(b"resized:8x8:") for r in rs)
    fr = multimodal.sample_video_frames(df, "doc_id", "media", every_n=30).collect()
    assert {r["doc_id"] for r in fr} == {f"doc-{i}" for i in range(6)}
    assert all(isinstance(r["frame_no"], int) for r in fr)


def test_multimodal_ops_still_accept_long_ids(spark):
    from seafan_spark.llmops import multimodal

    rows = [Row(doc_id=i, media=bytes([i] * 50)) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    feats = multimodal.extract_image_features(df, "doc_id", "media")
    assert feats.schema["doc_id"].dataType.simpleString() == "bigint"
    assert {r["doc_id"] for r in feats.collect()} == set(range(4))
    rs = multimodal.resize_images(df, "doc_id", "media", (4, 4))
    assert rs.schema["doc_id"].dataType.simpleString() == "bigint"
    assert rs.count() == 4
    fr = multimodal.sample_video_frames(df, "doc_id", "media")
    assert fr.schema["doc_id"].dataType.simpleString() == "bigint"
    assert fr.count() >= 4


# ----------------------------- keyed-window class retirement (audit) ----

def test_rank_stats_keyed_paths_use_range_layout(spark):
    """Round-10 audit: every subject-level rank statistic's keyed path
    must ride the keyed_running_scan range layout (visible as the
    checkpointed _gpid column), not a Window.partitionBy(low-card keys)
    that funnels a corpus-fraction sort through one task."""
    import random

    from seafan_spark.agg import (
        _grouped_median,
        kruskal_by,
        mannwhitney_by,
        spearman_by,
        trimmed_mean_by,
    )
    from seafan_spark.diags import auc_by, average_precision_by
    from seafan_spark.sampling import calibrate_scores_by_group

    rng = random.Random(31)
    rows = [
        ("g%d" % (i % 3), float(rng.randrange(50)), float(rng.randrange(40)),
         "v%d" % (i % 2), float(rng.random()))
        for i in range(400)
    ]
    # key column deliberately NOT named "k": kruskal_by's output has a
    # literal "k" (group count) column, a pre-existing name constraint
    df = spark.createDataFrame(rows, "g string, x double, y double, v string, s double")

    def has_gpid(out):
        return "_gpid" in out._jdf.queryExecution().executedPlan().toString()

    assert has_gpid(_grouped_median(df, ["g"], "x"))
    assert has_gpid(mannwhitney_by(df, "x", "v", keys=["g"]))
    assert has_gpid(kruskal_by(df, "x", "v", keys=["g"]))
    assert has_gpid(spearman_by(df, "x", "y", keys=["g"]))
    assert has_gpid(trimmed_mean_by(df, "x", keys=["g"], alpha=0.1))
    assert has_gpid(auc_by(df.withColumnRenamed("s", "fit"), "x", "fit", keys=["g"]))
    assert has_gpid(
        average_precision_by(df.withColumnRenamed("s", "fit"), "x", "fit", keys=["g"])
    )
    assert has_gpid(calibrate_scores_by_group(df, "s", "g"))


def test_keyed_midrank_matches_window_form(spark):
    """keyed_midrank's avg-rownum midrank and min-rownum rank must be
    BIT-equal to the rank()/count-over-ties window form (consecutive
    integers: avg is an exact multiple of 0.5)."""
    import random

    from pyspark.sql import Window

    from seafan_spark.rank import keyed_midrank

    rng = random.Random(13)
    rows = [("g%d" % (i % 3), float(rng.randrange(12))) for i in range(500)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = keyed_midrank(
        df, ["k"], "x", mid_out="mid", tie_out="t", rank_out="rk"
    )
    wv = Window.partitionBy("k").orderBy(F.col("x").asc())
    tw = Window.partitionBy("k", "x")
    ref = df.withColumn("rk", F.rank().over(wv)).withColumn(
        "t", F.count(F.lit(1)).over(tw).cast("double")
    )
    ref = ref.withColumn("mid", F.col("rk") + (F.col("t") - 1) / F.lit(2.0))
    gd = sorted(map(tuple, got.select("k", "x", "mid", "t", "rk").collect()))
    rd = sorted(map(tuple, ref.select("k", "x", "mid", "t",
                                      F.col("rk").cast("long").alias("rk")).collect()))
    assert gd == rd


def test_keyed_midrank_keeps_null_values(spark):
    from seafan_spark.rank import keyed_midrank

    df = spark.createDataFrame(
        [("a", None), ("a", 1.0), ("a", 1.0), ("a", None)], "k string, x double"
    )
    out = keyed_midrank(df, ["k"], "x", mid_out="mid", tie_out="t").collect()
    assert len(out) == 4  # NULL rows survive the null-safe tie join
    nulls = [r for r in out if r["x"] is None]
    assert len(nulls) == 2 and all(r["t"] == 2.0 for r in nulls)


def test_keyed_running_scan_sums(spark):
    from pyspark.sql import Window

    from seafan_spark.rank import keyed_running_scan

    df = spark.createDataFrame(
        [("g%d" % (i % 2), float(i), i % 5, (i * 7) % 3) for i in range(200)],
        "k string, s double, a long, b long",
    )
    got = keyed_running_scan(
        df, ["k"], [("s", False)],
        sums={"ra": F.col("a"), "rb": F.col("b")},
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = df.withColumn("ra", F.sum("a").over(w)).withColumn(
        "rb", F.sum("b").over(w)
    )
    assert sorted(map(tuple, got.select("s", "k", "ra", "rb").collect())) == sorted(
        map(tuple, ref.select("s", "k", "ra", "rb").collect())
    )


def test_mann_kendall_default_pair_budget_at_scale(spark):
    """The VERDICT #2 'done' criterion verbatim: a series above the
    DEFAULT 50k-row pair budget errors with the budget message before
    the B^2 self-join runs (no env override)."""
    from seafan_spark.temporal import mann_kendall

    df = spark.range(60_000).select(
        F.col("id").cast("double").alias("x"),
        (F.col("id") % 23).cast("double").alias("v"),
    )
    with pytest.raises(SmallDataLimitError, match="50000"):
        mann_kendall(df, "x", "v")


# ------------------------------------------------ exact keyed quantiles ----

def test_quantiles_by_exact_vs_python(spark):
    import math
    from collections import defaultdict

    from seafan_spark.agg import quantiles_by

    rng = random.Random(5)
    rows = [("g%d" % (i % 3), float(rng.randrange(1000))) for i in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = (0.0, 0.1, 0.5, 0.9, 1.0)
    out = quantiles_by(df, "v", qs=qs, keys=["g"]).collect()
    byk = defaultdict(list)
    for g, v in rows:
        byk[g].append(v)
    for g, vals in byk.items():
        vals.sort()
        n = len(vals)
        for q in qs:
            exp = vals[max(1, math.ceil(q * n)) - 1]
            got = [r["value"] for r in out if r["g"] == g and r["q"] == q]
            assert got == [exp], (g, q)
    assert all(r["n"] == 1000 for r in out)
    # the plan rides the range layout (no key-cell single task)
    plan = quantiles_by(df, "v", qs=qs, keys=["g"])
    assert "_gpid" in plan._jdf.queryExecution().executedPlan().toString()


def test_quantiles_by_validation_and_median_consistency(spark):
    from seafan_spark.agg import _grouped_median, quantiles_by

    with pytest.raises(ValueError, match="qs"):
        quantiles_by(spark.range(3), "id", qs=[])
    with pytest.raises(ValueError, match="qs"):
        quantiles_by(spark.range(3), "id", qs=[1.5])
    # odd-n group: the 0.5 quantile equals the exact grouped median
    df = spark.createDataFrame(
        [("a", float(v)) for v in (5, 1, 9, 3, 7)], "g string, v double"
    )
    q50 = quantiles_by(df, "v", qs=[0.5], keys=["g"]).collect()[0]["value"]
    med = _grouped_median(
        df.select("g", F.col("v").alias("_x")), ["g"], "_x"
    ).collect()[0]["_med"]
    assert q50 == med == 5.0


# ---------------------------------------- round-10b: stats completion ----

def test_levene_brown_forsythe_matches_textbook(spark):
    import statistics

    from seafan_spark.agg import levene_by

    rng = random.Random(11)
    arms = {"a": 1.0, "b": 4.0, "c": 0.5}  # very different spreads
    rows = [
        ("g1", v, round(rng.gauss(10.0, sd), 4))
        for v, sd in arms.items()
        for _ in range(40)
    ]
    df = spark.createDataFrame(rows, "grp string, v string, x double")
    got = levene_by(df, "x", "v", keys=["grp"]).collect()[0]

    # pure-python Brown-Forsythe on the same data
    byv = {}
    for _, v, x in rows:
        byv.setdefault(v, []).append(x)
    z = {v: [abs(x - statistics.median(xs)) for x in xs] for v, xs in byv.items()}
    allz = [zz for zs in z.values() for zz in zs]
    n, k = len(allz), len(z)
    zbar = sum(allz) / n
    ssb = sum(len(zs) * (sum(zs) / len(zs) - zbar) ** 2 for zs in z.values())
    ssw = sum(
        (zz - sum(zs) / len(zs)) ** 2 for zs in z.values() for zz in zs
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert got["k"] == 3 and got["n"] == 120
    assert abs(got["f_stat"] - f_ref) < 1e-6
    # unequal spreads must light up the statistic
    assert got["f_stat"] > 10.0


def test_levene_equal_spread_is_quiet(spark):
    from seafan_spark.agg import levene_by

    rng = random.Random(7)
    rows = [
        ("g", v, round(rng.gauss(mu, 2.0), 4))
        for v, mu in (("a", 0.0), ("b", 50.0), ("c", -30.0))
        for _ in range(60)
    ]  # same spread, wildly different means: anova fires, levene must not
    df = spark.createDataFrame(rows, "grp string, v string, x double")
    got = levene_by(df, "x", "v", keys=["grp"]).collect()[0]
    assert got["f_stat"] < 3.0


def test_cramers_v_perfect_and_independent(spark):
    from seafan_spark.agg import cramers_v_pairs

    rows = []
    for a in ("a", "b", "c"):
        for i in range(10):
            rows.append((a, {"a": "x", "b": "y", "c": "z"}[a], "u" if i % 2 else "w"))
    df = spark.createDataFrame(rows, "p string, q string, r string")
    out = {
        (r["col_x"], r["col_y"]): r
        for r in cramers_v_pairs(df, ["p", "q", "r"]).collect()
    }
    assert set(out) == {("p", "q"), ("p", "r"), ("q", "r")}
    perfect = out[("p", "q")]
    assert perfect["v"] == pytest.approx(1.0, abs=1e-9)
    assert perfect["dof"] == 4 and perfect["n"] == 30
    indep = out[("p", "r")]  # r is balanced within every p level
    assert indep["chi2"] == pytest.approx(0.0, abs=1e-9)
    assert indep["v"] == pytest.approx(0.0, abs=1e-9)
    with pytest.raises(ValueError):
        cramers_v_pairs(df, ["p"])


def test_acf_matches_numpy(spark):
    import numpy as np

    from seafan_spark.temporal import acf_by

    rng = random.Random(5)
    xs = [round(rng.gauss(0, 1) + (i % 4), 4) for i in range(50)]
    rows = [("g", i, x) for i, x in enumerate(xs)] + [
        ("flat", i, 2.5) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "k string, t int, x double")
    out = {
        (r["k"], r["lag"]): r
        for r in acf_by(df, "t", "x", keys=["k"], lags=(1, 2, 3, 4)).collect()
    }
    a = np.array(xs)
    mu, ss = a.mean(), ((a - a.mean()) ** 2).sum()
    for k in (1, 2, 3, 4):
        ref = float(((a[k:] - mu) * (a[:-k] - mu)).sum() / ss)
        got = out[("g", k)]
        assert got["acf"] == pytest.approx(ref, abs=1e-6)
        assert got["n"] == 50 and got["n_pairs"] == 50 - k
    # lag-4 period-4 signal: strong positive autocorrelation
    assert out[("g", 4)]["acf"] > 0.5
    # constant series: zero denominator -> NULL, never a division error
    assert all(out[("flat", k)]["acf"] is None for k in (1, 2, 3, 4))
    with pytest.raises(ValueError):
        acf_by(df, "t", "x", lags=(0,))


def test_t_closeness_hand_computed(spark):
    from seafan_spark.quality import t_closeness

    rows = (
        [("A", "a")] * 2 + [("A", "b")] * 2 + [("B", "a")] * 4
    )  # global: a=.75 b=.25; TVD(A)=.25 TVD(B)=.25
    df = spark.createDataFrame(rows, "qi string, s string")
    strict = t_closeness(df, ["qi"], "s", t=0.2).collect()[0]
    assert strict["n_rows"] == 8 and strict["n_classes"] == 2
    assert strict["max_tvd"] == pytest.approx(0.25, abs=1e-9)
    assert strict["violating_classes"] == 2 and strict["violating_rows"] == 8
    loose = t_closeness(df, ["qi"], "s", t=0.3).collect()[0]
    assert loose["violating_classes"] == 0 and loose["violating_rows"] == 0
    # identical class distributions -> zero distance everywhere
    same = spark.createDataFrame(
        [("A", "a"), ("A", "b"), ("B", "a"), ("B", "b")], "qi string, s string"
    )
    z = t_closeness(same, ["qi"], "s", t=0.0).collect()[0]
    assert z["max_tvd"] == pytest.approx(0.0, abs=1e-9)
    with pytest.raises(ValueError):
        t_closeness(df, [], "s")
    with pytest.raises(ValueError):
        t_closeness(df, ["qi"], "s", t=1.5)


def test_ewma_matches_pandas_recursion(spark):
    import pandas as pd

    from seafan_spark.temporal import ewma_by

    rng = random.Random(13)
    xs = {k: [round(rng.gauss(5, 2), 4) for _ in range(57)] for k in ("a", "b")}
    rows = [(k, i, x) for k, vs in xs.items() for i, x in enumerate(vs)]
    df = spark.createDataFrame(rows, "k string, t int, x double")
    # block=4 forces 15 blocks incl. a ragged last one: the banded carry
    # join and the cross-block exponent arithmetic are fully exercised
    got = {
        (r["k"], r["t"]): r["ewma"]
        for r in ewma_by(df, "t", "x", keys=["k"], alpha=0.3, block=4).collect()
    }
    for k, vs in xs.items():
        ref = pd.Series(vs).ewm(alpha=0.3, adjust=False).mean()
        for i in range(len(vs)):
            assert got[(k, i)] == pytest.approx(ref.iloc[i], abs=2e-6), (k, i)


def test_ewma_block_size_invariance_and_alphas(spark):
    import pandas as pd

    from seafan_spark.temporal import ewma_by

    rng = random.Random(29)
    xs = [round(rng.uniform(-10, 10), 4) for _ in range(40)]
    df = spark.createDataFrame(
        [("g", i, x) for i, x in enumerate(xs)], "k string, t int, x double"
    )
    for alpha in (0.05, 0.5, 0.95):
        ref = pd.Series(xs).ewm(alpha=alpha, adjust=False).mean()
        for blk in (3, 256):
            got = {
                r["t"]: r["ewma"]
                for r in ewma_by(
                    df, "t", "x", keys=["k"], alpha=alpha, block=blk
                ).collect()
            }
            for i in range(len(xs)):
                assert got[i] == pytest.approx(ref.iloc[i], abs=2e-6), (
                    alpha, blk, i,
                )
    with pytest.raises(ValueError):
        ewma_by(df, "t", "x", alpha=1.0)
    with pytest.raises(ValueError):
        ewma_by(df, "t", "x", alpha=0.3, block=1)


def test_ewma_ungrouped_and_constant(spark):
    from seafan_spark.temporal import ewma_by

    df = spark.createDataFrame(
        [(i, 7.0) for i in range(20)], "t int, x double"
    )
    out = ewma_by(df, "t", "x", alpha=0.4, block=5).collect()
    assert all(r["ewma"] == pytest.approx(7.0, abs=1e-9) for r in out)
    assert len(out) == 20


def test_durbin_watson_matches_numpy(spark):
    import numpy as np

    from seafan_spark.temporal import durbin_watson_by

    rng = random.Random(3)
    es = [round(rng.gauss(0, 1), 4) for _ in range(60)]
    pos = [abs(e) for e in es]  # positively autocorrelated? no - use AR
    ar = [0.0]
    for i in range(1, 60):
        ar.append(round(0.8 * ar[-1] + es[i], 4))
    rows = (
        [("iid", i, e) for i, e in enumerate(es)]
        + [("ar", i, e) for i, e in enumerate(ar)]
        + [("zero", i, 0.0) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "k string, t int, e double")
    out = {
        r["k"]: r for r in durbin_watson_by(df, "t", "e", keys=["k"]).collect()
    }
    a = np.array(es)
    dw_ref = float(((a[1:] - a[:-1]) ** 2).sum() / (a**2).sum())
    assert out["iid"]["dw"] == pytest.approx(dw_ref, abs=1e-6)
    assert out["iid"]["n"] == 60
    # AR(0.8) residuals: strong positive serial correlation -> dw << 2
    assert out["ar"]["dw"] < 1.0
    # all-zero series: NULL, never a division error
    assert out["zero"]["dw"] is None


def test_weighted_quantiles_reduce_to_unweighted(spark):
    from seafan_spark.agg import quantiles_by, weighted_quantiles_by

    rng = random.Random(17)
    rows = [
        (rng.choice(("a", "b")), round(rng.uniform(0, 100), 3), 1.0)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    qs = (0.1, 0.25, 0.5, 0.9)
    got = {
        (r["k"], r["q"]): r["value"]
        for r in weighted_quantiles_by(df, "v", "w", qs=qs, keys=["k"]).collect()
    }
    ref = {
        (r["k"], r["q"]): r["value"]
        for r in quantiles_by(df, "v", qs=qs, keys=["k"]).collect()
    }
    assert got == ref and len(got) == 8


def test_weighted_quantiles_brute_force(spark):
    from seafan_spark.agg import weighted_quantiles_by

    rng = random.Random(23)
    data = {
        k: [(round(rng.uniform(0, 50), 2), float(rng.randint(1, 9)))
            for _ in range(80)]
        for k in ("x", "y")
    }
    rows = [(k, v, w) for k, vs in data.items() for v, w in vs]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    qs = (0.0, 0.3, 0.5, 0.77, 1.0)
    got = {
        (r["k"], r["q"]): (r["value"], r["n"], r["w_total"])
        for r in weighted_quantiles_by(df, "v", "w", qs=qs, keys=["k"]).collect()
    }
    for k, vs in data.items():
        svs = sorted(vs)
        tw = sum(w for _, w in svs)
        for q in qs:
            cw, pick = 0.0, None
            for v, w in svs:
                cw += w
                if cw >= q * tw:
                    pick = v
                    break
            assert got[(k, q)][0] == pytest.approx(pick), (k, q)
            assert got[(k, q)][1] == 80 and got[(k, q)][2] == pytest.approx(tw)
    # hand case: weight mass concentrated on the top value
    df2 = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 10.0)],
        "k string, v double, w double",
    )
    med = weighted_quantiles_by(df2, "v", "w", qs=(0.5,), keys=["k"]).collect()
    assert med[0]["value"] == 3.0
    # non-positive / NULL weights are excluded
    df3 = spark.createDataFrame(
        [("g", 1.0, -5.0), ("g", 2.0, None), ("g", 3.0, 2.0)],
        "k string, v double, w double",
    )
    out3 = weighted_quantiles_by(df3, "v", "w", qs=(0.5,), keys=["k"]).collect()
    assert out3[0]["value"] == 3.0 and out3[0]["n"] == 1
    with pytest.raises(ValueError):
        weighted_quantiles_by(df2, "v", "w", qs=())


# --------------------------- round-10 optimization internals (r10 opt) ----

def test_keyed_midrank_window_form_matches_reference_with_nulls(spark):
    """keyed_midrank's tie stats moved from a groupBy + null-safe join to
    one unordered window over (keys, val): NULL values and NULL keys must
    still form their own tie groups, and mid/tie/rank must equal the
    classic window formulation exactly."""
    from seafan_spark.rank import keyed_midrank

    rng = random.Random(11)
    rows = []
    for i in range(300):
        k = rng.choice(["a", "b", None])
        v = rng.choice([None, 1.0, 2.0, 2.0, 3.5])  # heavy ties + NULLs
        rows.append((i, k, v))
    df = spark.createDataFrame(rows, "id long, k string, v double")
    got = keyed_midrank(
        df, ["k"], "v", mid_out="mid", tie_out="tie", rank_out="rk",
        total_out="tot",
    )
    w = Window.partitionBy("k").orderBy(F.col("v").asc(), F.col("id").asc())
    vw = Window.partitionBy("k", "v")
    # NULL-KEY contract (pre-existing, pinned): the offsets equi-join is
    # null-unsafe, so NULL-key rows carry NULL rownum/total — their mid
    # and rank are NULL while tie is still the group's row count.
    rn = F.when(F.col("k").isNotNull(), F.row_number().over(w))
    ref = (
        df.withColumn("_rn", rn)
        .withColumn("mid", F.avg("_rn").over(vw))
        .withColumn("tie", F.count(F.lit(1)).over(vw).cast("double"))
        .withColumn("rk", F.min("_rn").over(vw).cast("long"))
        .withColumn(
            "tot",
            F.when(
                F.col("k").isNotNull(),
                F.count(F.lit(1)).over(Window.partitionBy("k")),
            ).cast("long"),
        )
    )
    # NOTE: keyed_midrank's rownum breaks ties arbitrarily (contract), but
    # mid/tie/rank collapse tie groups, so the comparison is exact.
    assert sorted(map(tuple, got.select("id", "mid", "tie", "rk", "tot").collect())) == sorted(
        map(tuple, ref.select("id", "mid", "tie", "rk", "tot").collect())
    )


def test_global_row_number_sorted_checkpoint_matches_window(spark):
    """global_row_number's post-checkpoint rank is now arithmetic over
    monotonically_increasing_id on presorted partitions — must equal the
    single-partition window rank on a total order."""
    from seafan_spark.rank import global_row_number

    rng = random.Random(5)
    rows = [(i, rng.random()) for i in range(777)]
    df = spark.createDataFrame(rows, "id long, v double").repartition(7)
    got, n = global_row_number(df, [("v", True), ("id", True)], "rn")
    assert n == 777
    ref = df.withColumn(
        "rn",
        F.row_number()
        .over(Window.partitionBy(F.lit(0)).orderBy(F.col("v").asc(), F.col("id").asc()))
        .cast("long"),
    )
    assert sorted(map(tuple, got.select("id", "rn").collect())) == sorted(
        map(tuple, ref.select("id", "rn").collect())
    )


def test_assign_to_centroids_literal_matches_crossjoin_window(spark):
    """_assign_to_centroids' literal-array argmax (small k) must pick the
    same max-cosine / min-cell centroid as the crossJoin + window form,
    including exact-tie cells."""
    from seafan_spark.llmops.dedup import _assign_to_centroids
    from seafan_spark.llmops.similarity import dot_col

    rng = random.Random(31)
    dim = 8
    unit_rows = []
    for i in range(120):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        s = sum(x * x for x in v) ** 0.5
        unit_rows.append((i, [x / s for x in v]))
    # duplicate centroid vectors plant exact cosine ties: min cell must win
    cent_rows = [(0, unit_rows[0][1]), (1, unit_rows[0][1]), (2, unit_rows[1][1])]
    unit = spark.createDataFrame(unit_rows, "_id long, _v array<double>")
    cents = spark.createDataFrame(cent_rows, "_cell long, _cv array<double>")
    got = _assign_to_centroids(unit, cents)
    scored = unit.crossJoin(F.broadcast(cents)).withColumn(
        "_cos", dot_col(F.col("_v"), F.col("_cv"))
    )
    w = Window.partitionBy("_id").orderBy(F.col("_cos").desc(), F.col("_cell").asc())
    ref = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("_id", "_cell")
    )
    assert sorted(map(tuple, got.select("_id", "_cell").collect())) == sorted(
        map(tuple, ref.collect())
    )
    assert got.schema["_cell"].dataType.simpleString() == "bigint"


def test_lm_counts_from_pairs_match_separate_passes(spark):
    """The shared token-pair relation's unigram/bigram counts must equal
    the standalone count helpers (including 1-token and empty docs)."""
    from seafan_spark.llmops.lm import (
        _counts_from_pairs,
        _token_pair_relation,
        lm_bigram_counts,
        lm_unigram_counts,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat"),
            (3, "solo"),
            (4, ""),
            (5, "the the the"),
        ],
        "doc_id long, text string",
    )
    rel = _token_pair_relation(docs, "text", "doc_id")
    uni, bi = _counts_from_pairs(rel)
    assert sorted(map(tuple, uni.collect())) == sorted(
        map(tuple, lm_unigram_counts(docs).collect())
    )
    assert sorted(map(tuple, bi.collect())) == sorted(
        map(tuple, lm_bigram_counts(docs).collect())
    )
    # scoring domain: one row per token, w2 NULL exactly at doc ends
    per_doc = {
        r["_id"]: (r["n"], r["nn"])
        for r in rel.groupBy("_id")
        .agg(F.count("*").alias("n"), F.count("w2").alias("nn"))
        .collect()
    }
    assert per_doc == {1: (6, 5), 2: (2, 1), 3: (1, 0), 5: (3, 2)}
