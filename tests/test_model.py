"""Model layer: ModSpec DSL parsing (modspec_test.go) and fit/predict
quality gates (nn_test.go:94-120 GLM-coefficient recovery within 20%;
nn_test.go:369-422 OLS out-of-sample correlation)."""

import math
import random

import pytest

from seafan_spark.encode import append_cat, make_one_hot
from seafan_spark.ftypes import FRole
from seafan_spark.model import (
    FCLayer,
    ModSpecError,
    add_fitted,
    fit,
    load_model,
    load_modspec,
    modspec_inputs,
    parse_activation,
    parse_modspec,
    predict,
    predict_with_fts,
    save_model,
    strip_call,
)
from seafan_spark.sources import vec_to_pipe


def test_strip_call():
    # modspec_test.go:39-50
    assert strip_call("ab(3)") == ("ab", "3")
    assert strip_call("AB()") == ("AB", "")
    assert strip_call("r(as") == ("", "")
    assert strip_call("afdf)") == ("", "")


def test_parse_activation():
    # modspec_test.go:10-25 (case-insensitive, optional param)
    assert parse_activation("relu") == ("relu", 0.0)
    assert parse_activation("LINEAR") == ("linear", 0.0)
    assert parse_activation("leakyrelu(0.5)") == ("leakyrelu", 0.5)
    with pytest.raises(ModSpecError):
        parse_activation("garbage")


def test_parse_modspec_full():
    ms = parse_modspec(
        [
            "Input(x1+x2+x3)",
            "FC(size:3, activation:leakyrelu(0.1))",
            "Dropout(.1)",
            "FC(size:2)",
            "Dropout(.1)",
            "Target(ycts)",
        ]
    )
    assert [f.name for f in ms.inputs] == ["x1", "x2", "x3"]
    assert ms.target == "ycts"
    fcs = ms.fcs()
    assert fcs[0].activation == "leakyrelu" and fcs[0].act_param == 0.1
    assert fcs[1].size == 2 and fcs[1].activation == "relu"  # default


def test_parse_modspec_embedding():
    ms = parse_modspec(["Input(x1+E(x4oh,3))", "FC(size:1)", "Target(y)"])
    assert ms.inputs[1].name == "x4oh" and ms.inputs[1].emb_cols == 3
    with pytest.raises(ModSpecError):
        parse_modspec(["Input(E(x4oh,1))", "FC(size:1)", "Target(y)"])


def test_parse_modspec_errors():
    with pytest.raises(ModSpecError):
        parse_modspec(["FC(size:2)", "Target(y)"])  # no Input
    with pytest.raises(ModSpecError):
        parse_modspec(["Input(x)", "FC(size:2)"])  # no Target
    with pytest.raises(ModSpecError):
        parse_modspec(["Input(x)", "Target(y)"])  # no FC
    with pytest.raises(ModSpecError):
        parse_modspec(["Input(x)", "FC(size:0)", "Target(y)"])
    with pytest.raises(ModSpecError):
        parse_modspec(["Input(x)", "FC(size:2)", "Dropout(1.5)", "Target(y)"])


def test_modspec_save_load(tmp_path):
    raw = ["Input(x1+x2)", "FC(size:2)", "Target(y)"]
    ms = parse_modspec(raw)
    p = str(tmp_path / "spec.txt")
    ms.save(p)
    assert load_modspec(p).raw == raw


def test_modspec_inputs_validation(spark):
    p = vec_to_pipe(spark, {"x1": [1.0, 2.0], "c": ["a", "b"]})
    p = append_cat(p, "c")
    ms = parse_modspec(["Input(x1+c)", "FC(size:1)", "Target(x1)"])
    with pytest.raises(ModSpecError):
        modspec_inputs(ms, p)  # raw categorical rejected
    p2 = make_one_hot(p, "c", "c_oh")
    ms2 = parse_modspec(["Input(x1+c_oh)", "FC(size:1)", "Target(x1)"])
    fts = modspec_inputs(ms2, p2)
    assert fts.get("c_oh").role == FRole.ONE_HOT


@pytest.fixture(scope="module")
def glm_data(spark):
    # y ~ Bernoulli(sigmoid(-1 + 2*x1 - 3*x2)), n=4000
    rnd = random.Random(7)
    x1, x2, y = [], [], []
    for _ in range(4000):
        a, b = rnd.random(), rnd.random()
        lo = -1.0 + 2.0 * a - 3.0 * b
        p = 1.0 / (1.0 + math.exp(-lo))
        x1.append(a)
        x2.append(b)
        y.append(1.0 if rnd.random() < p else 0.0)
    return vec_to_pipe(spark, {"x1": x1, "x2": x2, "y": y})


def test_glm_coefficient_recovery(glm_data):
    # sigmoid head -> LogisticRegression; coefficients within 20%
    # (the nn_test.go:114-119 contract)
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:sigmoid)", "Target(y)"])
    fr = fit(glm_data, ms, max_iter=200)
    coefs = list(fr.model.coefficients)
    assert coefs[0] == pytest.approx(2.0, rel=0.2)
    assert coefs[1] == pytest.approx(-3.0, rel=0.2)
    assert fr.model.intercept == pytest.approx(-1.0, rel=0.3)


def test_predict_and_addfitted(glm_data):
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:sigmoid)", "Target(y)"])
    fr = fit(glm_data, ms, max_iter=100)
    scored = predict(fr, glm_data)
    assert "fitted" in scored.df.columns
    row = scored.df.select("fitted").limit(5).collect()
    assert all(0.0 <= r["fitted"] <= 1.0 for r in row)
    lo = add_fitted(fr, glm_data, name="lo_fit", logodds=True)
    vals = [r[0] for r in lo.df.select("lo_fit").limit(5).collect()]
    assert all(-10.0 <= v <= 10.0 for v in vals)


def test_ols_out_of_sample(spark):
    # ycts = 1 + 2*x1 - x2 + noise; train/validate split, corr > 0.84
    # (nn_test.go:369-422 contract)
    rnd = random.Random(11)
    data = {"x1": [], "x2": [], "ycts": []}
    for _ in range(3000):
        a, b = rnd.random(), rnd.random()
        data["x1"].append(a)
        data["x2"].append(b)
        data["ycts"].append(1.0 + 2.0 * a - b + rnd.gauss(0, 0.3))
    p = vec_to_pipe(spark, data)
    train = p.filter(p.df._rid % 5 != 0)
    val = p.filter(p.df._rid % 5 == 0)
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:linear)", "Target(ycts)"])
    fr = fit(train, ms)
    scored = predict(fr, val)
    from pyspark.sql import functions as F

    corr = scored.df.agg(F.corr("fitted", "ycts")).collect()[0][0]
    assert corr > 0.84


def test_multiclass_and_mlp(spark):
    rnd = random.Random(3)
    x, g = [], []
    for _ in range(1500):
        v = rnd.random()
        x.append(v)
        g.append("lo" if v < 0.33 else ("mid" if v < 0.66 else "hi"))
    p = vec_to_pipe(spark, {"x": x, "g": g})
    p = append_cat(p, "g")
    p = make_one_hot(p, "g", "goh")
    ms = parse_modspec(["Input(x)", "FC(size:3, activation:softmax)", "Target(goh)"])
    fr = fit(p, ms, max_iter=50)
    assert fr.kind == "multinomial" and fr.n_classes == 3
    scored = predict(fr, p)
    acc = scored.df.selectExpr(
        "avg(cast(fitted = cast(g = 'hi' as int) + 2*cast(g='lo' as int) as double)) as a"
    )
    # a hidden layer: the declared net, trained by optim.fit_nn
    ms2 = parse_modspec(
        ["Input(x)", "FC(size:4, activation:relu)", "FC(size:3, activation:softmax)", "Target(goh)"]
    )
    fr2 = fit(p, ms2, max_iter=40)
    assert fr2.kind == "nn"
    s2 = predict(fr2, p)
    assert "fitted_probs" in s2.df.columns


@pytest.fixture(scope="module")
def net_data(spark):
    rnd = random.Random(13)
    x, g, y, ycts = [], [], [], []
    for _ in range(300):
        v, c = rnd.random(), rnd.choice("abc")
        x.append(v)
        g.append(c)
        y.append(1.0 if v + 0.3 * (c == "a") + rnd.gauss(0, 0.2) > 0.6 else 0.0)
        ycts.append(2.0 * v - 1.0 * (c == "b") + rnd.gauss(0, 0.1))
    p = vec_to_pipe(spark, {"x": x, "g": g, "y": y, "ycts": ycts})
    return make_one_hot(append_cat(p, "g"), "g", "goh")


_NETS = {
    "hidden+sigmoid": (["Input(x)", "FC(size:4, activation:relu)",
                        "FC(size:1, activation:sigmoid)", "Target(y)"], "nn"),
    "hidden+linear": (["Input(x)", "FC(size:4, activation:relu)",
                       "FC(size:1, activation:linear)", "Target(ycts)"], "nn_linear"),
    "embedding": (["Input(x+E(goh,2))", "FC(size:1, activation:sigmoid)", "Target(y)"], "nn"),
}


@pytest.mark.parametrize("name", list(_NETS))
def test_a_net_without_cost_trains_the_declared_net(net_data, name):
    """Every spec but a plain GLM trains with optim.fit_nn, whose cost
    follows the head: a hidden layer is not dropped and an embedding is
    learned, not fed to a GLM as one-hot columns."""
    from seafan_spark.optim import NNModel

    spec, kind = _NETS[name]
    fr = fit(net_data, parse_modspec(spec), max_iter=10)
    assert fr.kind == kind
    assert isinstance(fr.model, NNModel) and len(fr.model.loss_history) > 0
    assert len(fr.model.fcs) == len(parse_modspec(spec).fcs())
    assert bool(fr.model.emb) == (name == "embedding")


@pytest.mark.parametrize(
    "head, target",
    [("relu", "ycts"), ("linear", "goh"), ("softmax", "ycts")],
)
def test_a_net_whose_head_fits_no_default_cost_fails_loudly(net_data, head, target):
    """Without cost, a head that has no default cost, or whose cost does
    not suit the target, raises instead of training another net."""
    ms = parse_modspec(["Input(x)", "FC(size:4, activation:relu)",
                        f"FC(size:2, activation:{head})", f"Target({target})"])
    with pytest.raises(ModSpecError):
        fit(net_data, ms, max_iter=2)


def test_a_net_fitted_without_cost_survives_save_and_load(net_data, tmp_path):
    spec, _ = _NETS["hidden+sigmoid"]
    fr = fit(net_data, parse_modspec(spec), max_iter=10)
    save_model(fr, str(tmp_path / "net"))
    fr2 = load_model(str(tmp_path / "net"))
    assert (fr2.kind, fr2.n_classes) == (fr.kind, fr.n_classes)
    a = predict(fr, net_data).df.select("fitted").collect()
    b = predict(fr2, net_data).df.select("fitted").collect()
    assert [r[0] for r in a] == pytest.approx([r[0] for r in b], rel=1e-12)


def test_predict_of_a_net_assembles_no_features(net_data, monkeypatch):
    """NNModel.transform reads the raw input columns: predict builds no
    MLlib feature vector for it, and still rejects a missing input."""
    import seafan_spark.model as model

    spec, _ = _NETS["embedding"]
    fr = fit(net_data, parse_modspec(spec), max_iter=5)

    def no_assembly(*a, **k):
        raise AssertionError("_assemble called for an NN fit")

    monkeypatch.setattr(model, "_assemble", no_assembly)
    scored = predict(fr, net_data)
    assert "fitted_probs" in scored.df.columns
    assert all(0.0 <= r[0] <= 1.0 for r in scored.df.select("fitted").collect())
    with pytest.raises(ModSpecError):
        predict(fr, net_data.drop("goh"))


def test_save_load_roundtrip(glm_data, tmp_path):
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1, activation:sigmoid)", "Target(y)"])
    fr = fit(glm_data, ms, max_iter=50)
    path = str(tmp_path / "mdl")
    save_model(fr, path)
    fr2 = load_model(path)
    a = predict(fr, glm_data).df.select("fitted").limit(3).collect()
    b = predict(fr2, glm_data).df.select("fitted").limit(3).collect()
    assert [r[0] for r in a] == pytest.approx([r[0] for r in b])


def test_predict_preserves_pipeline_internals(spark):
    # a shuffled pipeline's order_spec references _shuf; predict must not
    # drop internal columns the derived pipeline still orders by
    import random as _r

    from seafan_spark.model import fit, parse_modspec, predict
    from seafan_spark.sources import vec_to_pipe

    rnd = _r.Random(1)
    n = 60
    xs = [rnd.gauss(0, 1) for _ in range(n)]
    ys = [2.0 * x + 1.0 + rnd.gauss(0, 0.01) for x in xs]
    p = vec_to_pipe(spark, {"x": xs, "y": ys})
    ms = parse_modspec(["Input(x)", "FC(size:1)", "Target(y)"])
    fr = fit(p, ms)
    shuffled = p.shuffle(seed=3)
    scored = predict(fr, shuffled, "fitted")
    # ordering by the shuffled spec must still resolve
    vals = [r["fitted"] for r in scored.ordered_df().select("fitted").limit(5).collect()]
    assert len(vals) == 5


def test_glm_moments_matches_numpy(spark):
    """glm_moments (the oracled distributed half) = the exact Gram of
    [X, 1, y] over the assembled features, and the normal-equation
    solve from it recovers the same coefficients MLlib fits."""
    import numpy as np

    from seafan_spark.model import fit, glm_moments, parse_modspec
    from seafan_spark.sources import vec_to_pipe

    rng = np.random.default_rng(5)
    n = 200
    x1 = rng.normal(0, 2, n)
    x2 = rng.normal(1, 3, n)
    y = 3.0 * x1 - 1.5 * x2 + 0.7 + rng.normal(0, 0.01, n)
    p = vec_to_pipe(
        spark,
        {"x1": [float(v) for v in x1], "x2": [float(v) for v in x2],
         "y": [float(v) for v in y]},
    )
    ms = parse_modspec(["Input(x1+x2)", "FC(size:1)", "Target(y)"])
    rows = glm_moments(p, ms).collect()
    assert [(r["i"], r["j"]) for r in rows] == [
        (i, j) for i in range(4) for j in range(i, 4)
    ]
    A = np.column_stack([x1, x2, np.ones(n), y])
    G = A.T @ A
    for r in rows:
        assert r["moment"] == pytest.approx(G[r["i"], r["j"]], rel=1e-12), (
            r["term_i"], r["term_j"])
    # the solve half: normal equations from the moment relation recover
    # the MLlib coefficients
    M = {(r["i"], r["j"]): r["moment"] for r in rows}
    full = np.array([[M[min(i, j), max(i, j)] for j in range(3)] for i in range(3)])
    rhs = np.array([M[i, 3] for i in range(3)])
    beta = np.linalg.solve(full, rhs)
    fr = fit(p, ms, max_iter=100)
    got = [float(c) for c in fr.model.coefficients] + [float(fr.model.intercept)]
    assert got == pytest.approx(list(beta), abs=1e-4)


def test_assemble_declares_one_hot_width(spark):
    """A one-hot input's width comes from its FType: building the
    features column launches no Spark job, and a row of another width
    fails instead of silently changing the feature count."""
    from pyspark.sql import functions as F

    from seafan_spark.model import _assemble

    p = vec_to_pipe(spark, {"x": [0.1, 0.5, 0.9], "g": ["lo", "mid", "hi"]})
    p = make_one_hot(append_cat(p, "g"), "g", "goh")
    ms = parse_modspec(["Input(x+goh)", "FC(size:1)", "Target(x)"])
    sc = spark.sparkContext
    sc.setJobGroup("assemble-width", "_assemble")
    try:
        d, _, n_feat = _assemble(p, ms)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("assemble-width")) == []
    assert n_feat == 4
    assert [len(r["_features"]) for r in d.select("_features").collect()] == [4, 4, 4]

    wide = p._derive(p.df.withColumn("goh", F.concat("goh", F.array(F.lit(0.0)))), fts=p.fts)
    d_wide, _, _ = _assemble(wide, ms)
    with pytest.raises(Exception, match="size 3"):
        d_wide.select("_features").collect()
