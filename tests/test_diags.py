"""Diagnostics semantics vs hand-computed / numpy-computed expectations."""

import math
import random

import pytest
from pyspark.sql import functions as F

from seafan_spark.diags import assess, coalesce_col, decile_table, ks, logodds_col, r2, seg_table
from seafan_spark.sources import vec_to_pipe


@pytest.fixture(scope="module")
def scored(spark):
    rnd = random.Random(42)
    fit, obs, seg = [], [], []
    for i in range(2000):
        p = rnd.random()
        fit.append(p)
        obs.append(1.0 if rnd.random() < p else 0.0)
        seg.append("s" + str(i % 4))
    return vec_to_pipe(spark, {"fit": fit, "obs": obs, "seg": seg}), fit, obs


def _exact_ks(fit, obs):
    pos = sorted(f for f, o in zip(fit, obs) if o > 0.5)
    neg = sorted(f for f, o in zip(fit, obs) if o <= 0.5)
    best = 0.0
    allv = sorted(fit)
    import bisect

    for v in allv:
        c1 = bisect.bisect_right(pos, v) / len(pos)
        c0 = bisect.bisect_right(neg, v) / len(neg)
        best = max(best, abs(c1 - c0))
    return 100.0 * best


def test_ks_close_to_exact(scored):
    pipe, fit, obs = scored
    got = ks(pipe, "fit", "obs")
    want = _exact_ks(fit, obs)
    assert got == pytest.approx(want, abs=1.0)  # bin resolution


def test_ks_requires_both_classes(spark):
    p = vec_to_pipe(spark, {"fit": [0.1, 0.9], "obs": [1.0, 1.0]})
    with pytest.raises(ValueError):
        ks(p, "fit", "obs")


def test_ks_drops_rows_with_a_null_outcome(spark, scored):
    """A NULL outcome is neither class: ks drops its row, as ks_by does,
    instead of counting it as a negative."""
    from seafan_spark.diags import ks_by

    pipe, fit, obs = scored
    with_nulls = vec_to_pipe(spark, {"fit": fit + [0.95] * 300, "obs": obs + [None] * 300})
    got = ks(with_nulls, "fit", "obs")
    assert got == ks(pipe, "fit", "obs")
    (row,) = ks_by(with_nulls, "fit", "obs").collect()
    assert row["n_pos"] + row["n_neg"] == len(obs)
    assert got == pytest.approx(row["ks"], abs=1e-6)


def test_decile_table(scored):
    pipe, fit, obs = scored
    rows = decile_table(pipe, "fit", "obs").collect()
    assert len(rows) == 10
    assert sum(r["n"] for r in rows) == 2000
    # calibrated data: mean fit approx mean obs per decile
    for r in rows:
        assert r["lower"] - 0.05 <= r["mean_fit"] <= r["upper"] + 0.05
    # buckets ordered by fitted value
    means = [r["mean_fit"] for r in rows]
    assert means == sorted(means)


def test_seg_table(scored):
    pipe, fit, obs = scored
    res = seg_table(pipe, "obs", "fit", "seg", min_cnt=10)
    assert len(res.rows) == 4
    assert res.mad < 0.1
    mf = sum(fit) / len(fit)
    mo = sum(obs) / len(obs)
    assert res.bias == pytest.approx(mf - mo, abs=1e-9)


def test_assess(spark):
    p = vec_to_pipe(
        spark,
        {"fit": [0.9, 0.8, 0.2, 0.4, 0.7, 0.1], "obs": [1.0, 1.0, 0.0, 1.0, 0.0, 0.0]},
    )
    res = assess(p, "fit", "obs", cutoff=0.5)
    # pred yes: .9,.8,.7 ; tp = {.9,.8} ; tn = {.2,.1}
    assert res.n == 6
    assert res.precision == pytest.approx(2 / 3)
    assert res.recall == pytest.approx(2 / 3)
    assert res.accuracy == pytest.approx(4 / 6)


def test_assess_r2_df_no_predicted_positive_is_nan(spark):
    """No row above the cutoff: precision is NaN like assess's, instead of
    a DIVIDE_BY_ZERO abort under the default ANSI mode."""
    from seafan_spark.diags import assess_r2_df

    p = vec_to_pipe(spark, {"fit": [0.1, 0.2, 0.3, 0.4], "obs": [1.0, 0.0, 1.0, 0.0]})
    row = assess_r2_df(p, "fit", "obs", cutoff=0.5).collect()[0]
    assert math.isnan(row["precision"])
    assert row["n"] == 4 and row["recall"] == 0.0 and row["accuracy"] == 0.5
    assert math.isnan(assess(p, "fit", "obs", cutoff=0.5).precision)


def test_r2_perfect_and_noisy(spark):
    ys = [float(i) for i in range(100)]
    p = vec_to_pipe(spark, {"obs": ys, "fit": ys})
    assert r2(p, "fit", "obs") == pytest.approx(100.0)
    p2 = vec_to_pipe(spark, {"obs": ys, "fit": [y + 1.0 for y in ys]})
    assert r2(p2, "fit", "obs") < 100.0


def test_coalesce(spark):
    p = vec_to_pipe(spark, {"i": [0, 1]})
    oh = F.array(F.lit(0.1), F.lit(0.7), F.lit(0.2))
    d = p.df.select(
        coalesce_col(oh, 3, [1, 2]).alias("plain"),
        coalesce_col(oh, 3, [1], binary=True).alias("bin"),
        coalesce_col(oh, 3, [0], logodds=True).alias("lo"),
    ).collect()
    assert d[0]["plain"] == pytest.approx(0.9)
    assert d[0]["bin"] == 1.0
    den = math.exp(0.1) + math.exp(0.7) + math.exp(0.2)
    assert d[0]["lo"] == pytest.approx(math.exp(0.1) / den)
    with pytest.raises(ValueError):
        coalesce_col(oh, 3, [1], binary=True, logodds=True)
    with pytest.raises(ValueError):
        coalesce_col(oh, 3, [5])


def test_logodds_clamped(spark):
    p = vec_to_pipe(spark, {"p": [0.5, 1.0, 0.0]})
    vals = [r[0] for r in p.ordered_df().select(logodds_col(F.col("p"))).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == 10.0 and vals[2] == -10.0
