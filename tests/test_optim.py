"""Distributed NN trainer (optim.fit_nn): SoftRMS/CE/RMS convergence,
gradients, tree merge, scoring, and where the training loop runs."""

import math
import random
import uuid

import numpy as np
import pytest

from seafan_spark.encode import append_cat, make_one_hot
from seafan_spark.model import parse_modspec
from seafan_spark.sources import vec_to_pipe
from pyspark.sql import functions as F


def _binary_pipe(spark, n=400, seed=7):
    rng = random.Random(seed)
    x1, x2, y = [], [], []
    for _ in range(n):
        a, b = rng.uniform(-2, 2), rng.uniform(-2, 2)
        x1.append(a)
        x2.append(b)
        y.append(1.0 if a + 2 * b > 0 else 0.0)
    return vec_to_pipe(spark, {"x1": x1, "x2": x2, "y": y})


def test_softrms_binary_converges(spark):
    from seafan_spark.model import add_fitted, fit

    p = _binary_pipe(spark)
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:sigmoid)", "Target(y)"])
    fr = fit(p, ms, cost="softrms", max_iter=150, lr=0.2, patience=30)
    # training loss decreased substantially
    hist = fr.model.loss_history
    assert hist[-1] < 0.6 * hist[0]
    # score through the model layer and check training accuracy
    scored = add_fitted(fr, p, name="fit")
    acc = (
        scored.df.withColumn("_pred", (F.col("fit") > 0.5).cast("double"))
        .agg(F.avg((F.col("_pred") == F.col("y")).cast("double")))
        .collect()[0][0]
    )
    assert acc > 0.9


def test_softrms_multiclass(spark):
    from seafan_spark.model import fit

    rng = random.Random(11)
    x1, x2, lab = [], [], []
    centers = {"a": (0.0, 2.0), "b": (2.0, -2.0), "c": (-2.0, -2.0)}
    for _ in range(300):
        k = rng.choice("abc")
        cx, cy = centers[k]
        x1.append(cx + rng.gauss(0, 0.4))
        x2.append(cy + rng.gauss(0, 0.4))
        lab.append(k)
    p = vec_to_pipe(spark, {"x1": x1, "x2": x2, "lab": lab})
    p = append_cat(p, "lab")
    p = make_one_hot(p, "lab", "lab_oh")
    ms = parse_modspec(["Input(x1+x2)", "FC(size:3, activation:softmax)", "Target(lab_oh)"])
    fr = fit(p, ms, cost="softrms", max_iter=150, lr=0.2, patience=30)
    assert fr.model.n_classes == 3
    hist = fr.model.loss_history
    assert hist[-1] < 0.5 * hist[0]


def test_softrms_rejects_regression(spark):
    from seafan_spark.model import ModSpecError, fit

    p = _binary_pipe(spark, n=20)
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:linear)", "Target(y)"])
    with pytest.raises(ModSpecError, match="classification"):
        fit(p, ms, cost="softrms")


# ---------------------------------------------------------------------------
# fit_nn: full-architecture trainer
# ---------------------------------------------------------------------------


def test_nn_backprop_matches_numeric_gradient():
    """Pure-numpy check: the partition function's analytic gradient equals
    finite differences for all three costs (no Spark needed — the partition
    fn is plain Python over a pandas batch)."""
    import pandas as pd

    from seafan_spark.optim import (
        _Block,
        _act_f,
        _head_f,
        _input_concat,
        _nn_partial,
        _shapes,
        _unpack,
    )

    rng = np.random.default_rng(0)
    n = 40
    blocks = [_Block("x1", "cts"), _Block("oh", "oh", cats=4), _Block("em", "emb", cats=3, k=2)]
    acts = [("leakyrelu", 0.1), ("sigmoid", 0.0)]
    C = 3
    shapes = _shapes(blocks, [5, 4, C])
    nparam = sum(r * c for _, (r, c) in shapes)
    w = rng.normal(0, 0.5, nparam)
    x1 = rng.normal(size=n)
    oh = np.eye(4)[rng.integers(0, 4, n)]
    em = np.eye(3)[rng.integers(0, 3, n)]
    y = rng.integers(0, C, n).astype(float)
    pdf = pd.DataFrame({"x1": x1, "oh": list(oh), "em": list(em), "_l": y})

    def forward_all(wf):
        emb, fcs = _unpack(wf, shapes)
        h = _input_concat(blocks, [x1[:, None], oh, em], emb)
        for li, W in enumerate(fcs):
            a = h @ W[:-1] + W[-1]
            h = _act_f(acts[li], a) if li < len(fcs) - 1 else _head_f("softmax", a)
        return h

    def nll_sum(wf):
        p = forward_all(wf)
        return -np.log(p[np.arange(n), y.astype(int)]).sum()

    def softrms_loss(wf):
        r = forward_all(wf) - np.eye(C)[y.astype(int)]
        return np.sqrt((r * r).sum(axis=0) / n)[1:].sum()

    def run(cost, lw=None):
        pf = _nn_partial(blocks, shapes, acts, "softmax", C, cost, [0.0] * 3, 1, 1, 1.0, w, lw)
        row = next(pf([pdf]))
        return np.array(row["g"][0]), np.array(row["ls"][0]), int(row["n"][0])

    eps = 1e-6
    idx = rng.choice(nparam, 25, replace=False)

    g, ls, _ = run("ce")
    num = np.array(
        [(nll_sum(w + eps * np.eye(nparam)[i]) - nll_sum(w - eps * np.eye(nparam)[i])) / (2 * eps) for i in idx]
    )
    assert np.abs(num - g[idx]).max() / (np.abs(num).max() + 1e-9) < 1e-4
    assert abs(ls[0] - nll_sum(w)) < 1e-8

    _, ss, n2 = run("_fwd_ss")
    L = np.sqrt(ss / n2)
    lw = np.zeros(C)
    lw[L > 0] = 1.0 / (n2 * L[L > 0])
    lw[0] = 0.0
    g2, _, _ = run("softrms", lw[None, :])
    num2 = np.array(
        [
            (softrms_loss(w + eps * np.eye(nparam)[i]) - softrms_loss(w - eps * np.eye(nparam)[i])) / (2 * eps)
            for i in idx
        ]
    )
    assert np.abs(num2 - g2[idx]).max() / (np.abs(num2).max() + 1e-9) < 1e-4


def test_nn_multiclass_embedding_dropout(spark, tmp_path):
    """MLP with a learned embedding + dropout separates 3 gaussian blobs
    keyed by a categorical, and survives a model-layer save/load round trip."""
    from seafan_spark.model import (
        add_fitted,
        fit,
        load_model,
        parse_modspec,
        save_model,
    )

    rng = random.Random(5)
    x1, x2, grp, lab = [], [], [], []
    centers = {"a": (0.0, 2.0), "b": (2.0, -2.0), "c": (-2.0, -2.0)}
    for _ in range(400):
        k = rng.choice("abc")
        cx, cy = centers[k]
        x1.append(cx + rng.gauss(0, 0.4))
        x2.append(cy + rng.gauss(0, 0.4))
        grp.append(k)
        lab.append(k)
    p = vec_to_pipe(spark, {"x1": x1, "x2": x2, "grp": grp, "lab": lab})
    p = append_cat(p, "lab")
    p = make_one_hot(p, "lab", "lab_oh")
    p = append_cat(p, "grp")
    p = make_one_hot(p, "grp", "grp_oh")
    ms = parse_modspec(
        [
            "Input(x1+x2+E(grp_oh,2))",
            "FC(size:6, activation:leakyrelu(0.1))",
            "Dropout(.15)",
            "FC(size:3, activation:softmax)",
            "Target(lab_oh)",
        ]
    )
    fr = fit(p, ms, cost="ce", max_iter=120, lr=0.1, patience=25)
    nn = fr.model
    assert nn.loss_history[-1] < 0.4 * nn.loss_history[0]
    assert nn.emb["grp_oh"].shape == (3, 2)

    scored = add_fitted(fr, p, name="fit")
    from seafan_spark.encode import cat_code_col

    code = cat_code_col(scored.fts.get("lab")).cast("double")
    acc = (
        scored.df.withColumn("_code", code)
        .agg(F.avg((F.col("fit") == F.col("_code")).cast("double")))
        .collect()[0][0]
    )
    assert acc > 0.9

    save_model(fr, str(tmp_path / "nnmodel"))
    fr2 = load_model(str(tmp_path / "nnmodel"))
    a = scored.df.select(F.sum("fit").alias("s")).collect()[0]["s"]
    b = (
        add_fitted(fr2, p, name="fit").df.select(F.sum("fit").alias("s")).collect()[0]["s"]
    )
    assert math.isclose(a, b, rel_tol=1e-9)


def test_nn_regression_rms(spark):
    from seafan_spark.model import fit, parse_modspec, predict

    rng = random.Random(3)
    x1, x2, y = [], [], []
    for _ in range(400):
        a, b = rng.uniform(-1, 1), rng.uniform(-1, 1)
        x1.append(a)
        x2.append(b)
        y.append(math.sin(2 * a) + 0.5 * b)
    p = vec_to_pipe(spark, {"x1": x1, "x2": x2, "y": y})
    ms = parse_modspec(
        [
            "Input(x1+x2)",
            "FC(size:8, activation:relu)",
            "FC(size:1, activation:linear)",
            "Target(y)",
        ]
    )
    fr = fit(p, ms, cost="rms", max_iter=250, lr=0.05, patience=40)
    assert fr.kind == "nn_linear"
    assert fr.model.loss_history[-1] < 0.5 * fr.model.loss_history[0]
    scored = predict(fr, p, name="yhat")
    sse, sst = (
        scored.df.agg(
            F.sum((F.col("yhat") - F.col("y")) ** 2).alias("sse"),
            F.sum((F.col("y") - F.lit(sum(y) / len(y))) ** 2).alias("sst"),
        )
        .collect()[0]
    )
    assert 1.0 - sse / sst > 0.7  # R^2


def test_nn_softrms_with_hidden_layer(spark):
    from seafan_spark.model import fit, parse_modspec

    p = _binary_pipe(spark, n=300, seed=9)
    ms = parse_modspec(
        ["Input(x1+x2)", "FC(size:4, activation:relu)", "FC(size:1, activation:sigmoid)", "Target(y)"]
    )
    fr = fit(p, ms, cost="softrms", max_iter=120, lr=0.1, patience=25)
    assert fr.model.loss_history[-1] < 0.7 * fr.model.loss_history[0]


# ---------------------------------------------------------------------------
# tree merge of per-task gradient rows
# ---------------------------------------------------------------------------


def test_tree_merge_gradients_matches_driver_sum(spark):
    """JVM-side bucketed summation must agree with summing every row on
    the driver (associative float addition; identical up to tolerance)."""
    import seafan_spark.optim as optim

    rng = np.random.default_rng(3)
    W, L, P = 37, 3, 24
    rows = [
        (rng.normal(size=W).tolist(), rng.normal(size=L).tolist(), int(i + 1))
        for i in range(P)
    ]
    df = spark.createDataFrame(rows, "g array<double>, ls array<double>, n long").repartition(P)
    merged = optim._tree_merge_gradients(df, [("g", W), ("ls", L)], buckets=5).collect()
    g = np.zeros(W); ls = np.zeros(L); n = 0
    for r in merged:
        g += np.array(r["g"]); ls += np.array(r["ls"]); n += r["n"]
    want_g = np.sum([r[0] for r in rows], axis=0)
    want_ls = np.sum([r[1] for r in rows], axis=0)
    assert n == sum(r[2] for r in rows)
    assert np.allclose(g, want_g) and np.allclose(ls, want_ls)
    assert len(merged) <= 5


def test_nn_pass_tree_path_matches_direct(spark):
    """One fit_nn gradient pass summed through the JVM tree merge returns
    the same (g, ls, n) as the direct per-task collect."""
    from seafan_spark.optim import (
        _NN_OUT,
        _Block,
        _nn_partial,
        _shapes,
        _tree_merge_gradients,
    )

    p = _binary_pipe(spark, n=200, seed=13)
    blocks = [_Block("x1", "cts"), _Block("x2", "cts")]
    shapes = _shapes(blocks, [2])
    nparam = sum(r * c for _, (r, c) in shapes)
    w = np.random.default_rng(5).normal(size=nparam)
    d = p.df.select("x1", "x2", F.col("y").alias("_l")).repartition(8)
    pf = _nn_partial(blocks, shapes, [], "softmax", 2, "ce", [0.0], 42, 1, 1.0, w, None)
    mapped = d.mapInPandas(pf, schema=_NN_OUT)

    def total(rows):
        g, ls, n = np.zeros(nparam), np.zeros(2), 0
        for r in rows:
            g += np.array(r["g"]); ls += np.array(r["ls"]); n += r["n"]
        return g, ls, n

    g1, ls1, n1 = total(mapped.collect())
    g2, ls2, n2 = total(
        _tree_merge_gradients(mapped, [("g", nparam), ("ls", 2)]).collect()
    )
    assert n1 == n2 == 200
    assert np.allclose(g1, g2) and np.allclose(ls1, ls2)


def test_nn_transform_fixed_weights_matches_numpy(spark):
    """NNModel.transform (the oracled Arrow scoring path) with fixed
    weights = the hand-rolled forward pass."""
    import numpy as np

    from seafan_spark.optim import NNModel, _Block

    w1 = np.array([[0.25, -0.125, 0.5], [0.375, 0.125, -0.25]] + [[0.0, 0.125, -0.125]])
    w2 = np.array([[0.5], [-0.375], [0.25], [0.125]])
    model = NNModel(
        blocks=[_Block("x1", "cts"), _Block("x2", "cts")],
        emb={}, fcs=[w1, w2], acts=[("leakyrelu", 0.1)],
        head="linear", n_classes=0,
    )
    rows = [(i, 0.1 * i - 0.5, 0.03 * i) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, x1 double, x2 double")
    got = {r["id"]: r["prediction"] for r in model.transform(df).collect()}
    X = np.array([[r[1], r[2]] for r in rows])
    a = X @ w1[:-1] + w1[-1]
    h = np.where(a > 0, a, 0.1 * a)
    pred = (h @ w2[:-1] + w2[-1]).ravel()
    for i in range(20):
        assert got[i] == pytest.approx(pred[i], abs=1e-12), i


# ---------------------------------------------------------------------------
# where the loop runs: one task at one shard, one pass per iteration above
# ---------------------------------------------------------------------------


def _fit_jobs(spark, fit):
    """Spark jobs launched by ``fit()`` (counted through the status
    tracker) and what it returns."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "fit_nn jobs")
    try:
        out = fit()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group)), out


# Recorded from the one-pass-per-iteration loop, which the one-task fit
# must reproduce bit for bit (same batches, same seeded draws, same sums).
_PINNED = {
    "ce": (
        [0.8414411639311284, 0.7910045860141566, 0.7347160012335949,
         0.6942609534228262, 0.6664283795227379, 0.6393320822804014],
        [0.1823462010636454, 0.9573659724832612, 0.030651122084284,
         -0.9055948529085103, -0.602735113675819, -0.23326223842896354,
         -0.4726702186839857, -1.1380147134670608, -0.9024845785456639,
         0.8526335057483504, 0.45045694755776783, -0.08592081051579155,
         -0.5751636816942765, 0.9483723865185107, 0.7953552162170976,
         0.21273547070116924, 0.260535933185869],
    ),
    "softrms": (
        [0.5902472517406196, 0.49077327275222765, 0.4245966161954184,
         0.3575184771534835, 0.2901877921904395, 0.2579025737880177],
        [-1.0061470275957303, -0.4782694536529214, -0.3298305273247064,
         1.1698978117921308, -0.6139658423729516, -0.42176528327527685],
    ),
}


def test_one_shard_fit_runs_a_fixed_number_of_jobs(spark):
    from seafan_spark.optim import fit_nn

    p = _binary_pipe(spark, n=300, seed=21)
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:sigmoid)", "Target(y)"])
    short, m3 = _fit_jobs(spark, lambda: fit_nn(p, ms, cost="ce", max_iter=3))
    long, m30 = _fit_jobs(spark, lambda: fit_nn(p, ms, cost="ce", max_iter=30, patience=30))
    assert len(m3.loss_history) == 3 and len(m30.loss_history) == 30
    assert len(short) == len(long), (short, long)

    ce = parse_modspec(["Input(x1+x2)", "FC(size:3, activation:relu)", "Dropout(.2)",
                        "FC(size:1, activation:sigmoid)", "Target(y)"])
    fits = {
        "ce": fit_nn(p, ce, cost="ce", max_iter=6, lr=0.1, seed=5, batch_frac=0.7),
        "softrms": fit_nn(p, ms, cost="softrms", max_iter=6, lr=0.2, seed=3),
    }
    for cost, model in fits.items():
        hist, w = _PINNED[cost]
        got = np.concatenate([f.ravel() for f in model.fcs])
        assert np.allclose(model.loss_history, hist, rtol=1e-12, atol=0), cost
        assert np.allclose(got, w, rtol=1e-12, atol=0), cost


def test_multi_shard_fit_runs_one_pass_per_iteration(spark):
    """Above 25k rows the training frame is spread over ~25k-row shards
    and each iteration is one gradient pass over all of them."""
    from seafan_spark.optim import fit_nn

    p = _binary_pipe(spark, n=30_000, seed=4)
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:sigmoid)", "Target(y)"])
    jobs, model = _fit_jobs(spark, lambda: fit_nn(p, ms, cost="ce", max_iter=3))
    hist = model.loss_history
    assert len(hist) == 3 and all(math.isfinite(x) for x in hist)
    tracker = spark.sparkContext.statusTracker()
    # the last three jobs are the three gradient passes, each on 2 shards
    for jid in jobs[-3:]:
        (sid,) = tracker.getJobInfo(jid).stageIds
        assert tracker.getStageInfo(sid).numTasks == 2, jid
    small = _binary_pipe(spark, n=300, seed=21)
    one_shard, _ = _fit_jobs(spark, lambda: fit_nn(small, ms, cost="ce", max_iter=3))
    assert len(jobs) > len(one_shard)
