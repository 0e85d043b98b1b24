"""Custom distributed trainer: the reference's NN fit (nn.go:598-840)
under its three costs, including SoftRMS (nn.go:555-573), which no MLlib
estimator optimizes.

SoftRMS is per-class RMS between the softmax output and the one-hot target,
summed over classes 1..C-1 (class 0 is the omitted base):

    L = sum_{i>=1} sqrt( (1/N) * sum_j (p_ji - y_ji)^2 )

``fit_nn`` is the one trainer of a net (``model.fit`` routes every spec
but a plain GLM here, and any spec given ``cost``);
see the "Full NN parity" section below for the Spark-first layout.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seafan_spark.session import _drop_zip_importers, unpersist_checkpoint

from seafan_spark.pipeline import Pipeline


def _iteration_layout(data_ck: DataFrame, nrows: int) -> tuple[DataFrame, DataFrame, int]:
    """Right-size training parallelism for a checkpointed training frame:
    target ~25k rows/task. Over-partitioned inputs coalesce (narrow, no
    shuffle). At one partition (up to 25k rows) :func:`fit_nn` runs the
    whole fit in that one task. Above it, every iteration is one pass
    over ``nparts`` tasks, so UNDER-partitioned inputs — a single-split
    source leaves the checkpoint with one partition, which would
    serialize every gradient pass onto one task (measured: that was the
    entire model_nn cost at sf0.1, 12 serial 150k-row passes) — pay one
    round-robin shuffle + re-checkpoint at build time so the loop's
    passes run wide. Returns (checkpoint handle, training frame, nparts).
    """
    nparts = max(1, -(-nrows // 25_000))
    cur = data_ck.rdd.getNumPartitions()
    if cur < nparts:
        spread = data_ck.repartition(nparts).localCheckpoint(eager=True)
        unpersist_checkpoint(data_ck)
        return spread, spread, nparts
    return data_ck, data_ck.coalesce(nparts), nparts


# ---------------------------------------------------------------------------
# Full NN parity: MLP trainer with the reference's architecture surface
# ---------------------------------------------------------------------------
#
# The reference builds a gorgonia graph from the ModSpec (nn.go:216-440):
# learned embeddings E(f,k) on one-hot inputs, FC stacks with
# linear/relu/leakyrelu(a)/sigmoid activations, inverted Dropout between
# layers, softmax or linear head, and fits with Adam + early stopping +
# NaN-restart (nn.go:598-840). fit_nn reproduces that surface Spark-first:
#
# - forward + backprop run in an Arrow ``mapInPandas`` partition function
#   (blocked numpy matmuls per batch) that sums one row of flattened
#   gradient partials per partition. The Adam loop (``_adam_loop``) sums
#   those rows, wherever the layout puts it: at one partition, inside the
#   one task that holds the rows; above that, on the driver, one pass per
#   iteration. Nothing row-at-a-time, nothing collected but O(params)
#   gradients or, from the one-task fit, O(params + iterations).
# - dropout masks are seeded by (seed, iteration, partitionId): training is
#   deterministic for a fixed partitioning, and the SoftRMS two-pass (below)
#   sees identical masks in both passes.
# - ``batch_frac`` < 1 emulates the reference's minibatch epochs: each
#   iteration Bernoulli-samples rows partition-locally with the same seeded
#   RNG — still exactly one gradient sum per iteration.
# - costs (nn.go CostFns): 'ce' cross-entropy; 'rms' (descends MSE, reports
#   RMS — same argmin); 'softrms' per-class RMS (nn.go:555-573). SoftRMS is
#   NOT separable per-row (the 1/L_i factors are global), so it runs a
#   cheap forward-only pass for the per-class sums, then the gradient pass
#   with 1/(N*L_i) folded into the output delta — two passes, still exact.
#
# Cost per fit: ``_iteration_layout`` puts the localCheckpointed feature
# columns on ~25k rows per task. Up to 25k rows that is one partition, and
# the whole fit is ONE Spark job: one ``mapInPandas`` task keeps the
# partition's Arrow batches, runs every iteration over them and yields the
# best weights and the loss history. It sees the batches a per-iteration
# pass would see and draws the same ``(seed, it, 0)`` masks, so its
# weights and history are bit-identical to the per-pass loop's. This
# matters because a pass is almost all fixed cost: a no-op Python pass
# over 10 rows costs 0.10-0.16 CPU-s on a 4-vCPU VM (session.py,
# "Python-task floor"), while the pass function itself takes ~0.02 CPU-s
# over seafan_model's 15k rows. Above 25k rows every iteration is one (or,
# for SoftRMS, two) map passes over ``nparts`` tasks plus a tiny driver
# reduce, tree-merged in the JVM above ``_TREE_MERGE_MIN_PARTS`` tasks.
# The weights ride in the pickled function (no broadcast), so driver
# state and each task's payload are O(total parameters).


@dataclass
class _Block:
    """One input block: a continuous column, a passthrough one-hot array,
    or a learned embedding over a one-hot array (E(f,k), modspec.go)."""

    name: str
    kind: str  # 'cts' | 'oh' | 'emb'
    cats: int = 0  # one-hot width (oh/emb)
    k: int = 0  # embedding output dim (emb)

    @property
    def width(self) -> int:
        return {"cts": 1, "oh": self.cats, "emb": self.k}[self.kind]


@dataclass
class NNModel:
    """Weights + architecture fitted by :func:`fit_nn`.

    ``transform`` mirrors the MLlib model contract used by
    ``seafan_spark.model.predict``: appends ``prediction`` (+ ``probability``
    vector for classification) so the whole predict/AddFitted/diagnostics
    surface works unchanged. Scoring is an Arrow-vectorized pandas UDF
    (batched numpy matmuls), not row-at-a-time Python.
    """

    blocks: list[_Block]
    emb: dict[str, np.ndarray]  # name -> (cats, k)
    fcs: list[np.ndarray]  # each (in+1, out); last row is the bias
    acts: list[tuple[str, float]]  # hidden activations per FC (head excluded)
    head: str  # 'softmax' | 'linear'
    n_classes: int
    loss_history: list[float] = field(default_factory=list)

    def _forward_np(self, blocks_x: list[np.ndarray]) -> np.ndarray:
        h = _input_concat(self.blocks, blocks_x, self.emb)
        for li, W in enumerate(self.fcs):
            a = h @ W[:-1] + W[-1]
            if li < len(self.fcs) - 1:
                h = _act_f(self.acts[li], a)
            else:
                h = _head_f(self.head, a)
        return h

    def transform(self, df: DataFrame) -> DataFrame:
        """Append prediction/probability, reading the raw input columns."""
        import pandas as pd
        from pyspark.ml.functions import array_to_vector

        model = self
        cols = [b.name for b in self.blocks]

        def _score_fn(*series):
            _drop_zip_importers()
            if not len(series[0]):
                return pd.Series([], dtype=object)
            xs = [
                np.vstack(s.to_numpy()).astype("float64")
                if b.kind != "cts"
                else s.to_numpy(dtype="float64")[:, None]
                for b, s in zip(model.blocks, series)
            ]
            out = model._forward_np(xs)
            return pd.Series(list(out))

        _score = F.pandas_udf(_score_fn, T.ArrayType(T.DoubleType()))

        scored = df.withColumn("_nn_out", _score(*[F.col(c) for c in cols]))
        if self.head == "softmax":
            scored = scored.withColumn("probability", array_to_vector(F.col("_nn_out")))
            scored = scored.withColumn(
                "prediction",
                (F.array_position(F.col("_nn_out"), F.array_max(F.col("_nn_out"))) - 1).cast(
                    "double"
                ),
            )
        else:
            scored = scored.withColumn("prediction", F.element_at(F.col("_nn_out"), 1))
        return scored.drop("_nn_out")

    # -- persistence (Save/LoadNN, nn.go:443-553: weights + spec as files) --
    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        payload = {
            "blocks": [vars(b) for b in self.blocks],
            "emb": {k: v.tolist() for k, v in self.emb.items()},
            "fcs": [w.tolist() for w in self.fcs],
            "acts": self.acts,
            "head": self.head,
            "n_classes": self.n_classes,
        }
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(payload, fh)

    @classmethod
    def load(cls, path: str) -> "NNModel":
        with open(path, encoding="utf-8") as fh:
            p = json.load(fh)
        return cls(
            blocks=[_Block(**b) for b in p["blocks"]],
            emb={k: np.array(v) for k, v in p["emb"].items()},
            fcs=[np.array(w) for w in p["fcs"]],
            acts=[tuple(a) for a in p["acts"]],
            head=p["head"],
            n_classes=p["n_classes"],
        )


def _act_f(act: tuple[str, float], a: np.ndarray) -> np.ndarray:
    name, p = act
    if name == "relu":
        return np.maximum(a, 0.0)
    if name == "leakyrelu":
        return np.where(a > 0, a, p * a)
    if name == "sigmoid":
        return 1.0 / (1.0 + np.exp(-a))
    return a  # linear


def _act_df(act: tuple[str, float], a: np.ndarray, h: np.ndarray) -> np.ndarray:
    """d(activation)/d(pre-activation), elementwise."""
    name, p = act
    if name == "relu":
        return (a > 0).astype("float64")
    if name == "leakyrelu":
        return np.where(a > 0, 1.0, p)
    if name == "sigmoid":
        return h * (1.0 - h)
    return np.ones_like(a)


def _head_f(head: str, a: np.ndarray) -> np.ndarray:
    if head == "softmax":
        z = a - a.max(axis=1, keepdims=True)
        e = np.exp(z)
        return e / e.sum(axis=1, keepdims=True)
    return a  # linear


def _input_concat(
    blocks: list[_Block], xs: list[np.ndarray], emb: dict[str, np.ndarray]
) -> np.ndarray:
    parts = []
    for b, x in zip(blocks, xs):
        parts.append(x @ emb[b.name] if b.kind == "emb" else x)
    return np.hstack(parts) if len(parts) > 1 else parts[0]


def _shapes(blocks: list[_Block], fcs_sizes: list[int]) -> list[tuple[str, tuple[int, int]]]:
    """Parameter layout: embeddings first (by block order), then FC mats."""
    out = []
    for b in blocks:
        if b.kind == "emb":
            out.append((f"e:{b.name}", (b.cats, b.k)))
    in_dim = sum(b.width for b in blocks)
    for size in fcs_sizes:
        out.append(("w", (in_dim + 1, size)))
        in_dim = size
    return out


def _unpack(flat: np.ndarray, shapes) -> tuple[dict[str, np.ndarray], list[np.ndarray]]:
    emb, fcs, off = {}, [], 0
    for name, (r, c) in shapes:
        m = flat[off : off + r * c].reshape(r, c)
        off += r * c
        if name.startswith("e:"):
            emb[name[2:]] = m
        else:
            fcs.append(m)
    return emb, fcs


def _nn_partial(
    blocks: list[_Block],
    shapes,
    acts: list[tuple[str, float]],
    head: str,
    C: int,
    cost: str,
    dropouts: list[float],
    seed: int,
    it: int,
    batch_frac: float,
    wflat: np.ndarray,
    lw: np.ndarray | None,
):
    """Build the mapInPandas partition function for one iteration.

    Returns per-partition rows ``(g, ls, n)``:
      - grad mode: g = flattened parameter gradient SUM (unscaled by N
        except softrms, whose global 1/(N*L_i) rides in ``lw``), ls = loss
        partials (NLL sum for ce, sq-residual sums otherwise), n = rows.
      - forward mode (``cost=='_fwd_ss'``): g zero, ls = per-class
        sum (p-y)^2 for the SoftRMS normalizers.
    """
    emb0, fcs0 = _unpack(wflat, shapes)

    def part(batches):
        _drop_zip_importers()
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        rng = np.random.default_rng(np.random.SeedSequence([seed, it, pid]))
        nparam = sum(r * c for _, (r, c) in shapes)
        gsum = np.zeros(nparam)
        ls = np.zeros(max(C, 1))
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if batch_frac < 1.0:
                keep = rng.random(len(pdf)) < batch_frac
                if not keep.any():
                    continue
                pdf = pdf[keep]
            emb, fcs = emb0, fcs0
            xs = [
                np.vstack(pdf[b.name].to_numpy()).astype("float64")
                if b.kind != "cts"
                else pdf[b.name].to_numpy(dtype="float64")[:, None]
                for b in blocks
            ]
            y = pdf["_l"].to_numpy(dtype="float64")
            nb = len(y)
            # ---- forward, keeping per-layer state for backprop ----
            h0 = _input_concat(blocks, xs, emb)
            hs, as_, masks = [h0], [], []
            h = h0
            for li, Wl in enumerate(fcs):
                if dropouts[li] > 0.0:
                    mask = (rng.random(h.shape) >= dropouts[li]) / (1.0 - dropouts[li])
                    h = h * mask
                else:
                    mask = None
                masks.append(mask)
                a = h @ Wl[:-1] + Wl[-1]
                as_.append(a)
                h = _act_f(acts[li], a) if li < len(fcs) - 1 else _head_f(head, a)
                hs.append(h)
            out = h
            # ---- cost -> output delta dL/da_head (sum form, no 1/N) ----
            if head == "softmax":
                Y = np.zeros((nb, C))
                Y[np.arange(nb), y.astype("int64")] = 1.0
                r = out - Y
                if cost == "ce":
                    picked = out[np.arange(nb), y.astype("int64")]
                    ls[0] += -np.log(np.clip(picked, 1e-300, None)).sum()
                    dz = r
                else:
                    ls[:C] += (r * r).sum(axis=0)
                    if cost == "_fwd_ss":
                        n += nb
                        continue
                    dp = r * lw  # dL/dp, global 1/(N L_i) already in lw
                    dz = out * (dp - (out * dp).sum(axis=1, keepdims=True))
            else:
                r = out[:, 0] - y
                ls[0] += float(r @ r)
                if cost == "_fwd_ss":
                    n += nb
                    continue
                dz = r[:, None]  # MSE-sum gradient (x2 absorbed in lr)
            n += nb
            # ---- backprop ----
            gfcs = [None] * len(fcs)
            delta = dz
            for li in range(len(fcs) - 1, -1, -1):
                hin = hs[li] if masks[li] is None else hs[li] * masks[li]
                gW = np.vstack([hin.T @ delta, delta.sum(axis=0, keepdims=True)])
                gfcs[li] = gW
                if li > 0:
                    dh = delta @ fcs[li][:-1].T
                    if masks[li] is not None:
                        dh = dh * masks[li]
                    delta = dh * _act_df(acts[li - 1], as_[li - 1], hs[li])
            # input-block gradient for embeddings
            gemb = {}
            if emb:
                dh0 = delta @ fcs[0][:-1].T
                if masks[0] is not None:
                    dh0 = dh0 * masks[0]
                off = 0
                for b, x in zip(blocks, xs):
                    if b.kind == "emb":
                        gemb[b.name] = x.T @ dh0[:, off : off + b.k]
                    off += b.width
            flatg = []
            for name, _ in shapes:
                if name.startswith("e:"):
                    flatg.append(gemb[name[2:]].ravel())
            flatg.extend(g.ravel() for g in gfcs)
            gsum += np.concatenate(flatg)
        yield pd.DataFrame({"g": [gsum.tolist()], "ls": [ls.tolist()], "n": [n]})

    return part


_NN_OUT = T.StructType(
    [
        T.StructField("g", T.ArrayType(T.DoubleType())),
        T.StructField("ls", T.ArrayType(T.DoubleType())),
        T.StructField("n", T.LongType()),
    ]
)

# Above this many gradient rows (one per task), per-iteration driver
# transfer (rows x |weights| doubles) is merged JVM-side first — a
# treeAggregate: bucket the rows, element-wise-sum each bucket's arrays
# in parallel, collect only `buckets` pre-summed rows.
_TREE_MERGE_MIN_PARTS = 64


def _tree_merge_gradients(
    rows_df: DataFrame, arr_cols: list[tuple[str, int]], buckets: int = 32
) -> DataFrame:
    """Element-wise sum of the per-task gradient rows in `buckets` parallel
    groups (summation is associative, so bucket shape can't change the
    result beyond float addition order — same tolerance class as any
    partial aggregation). Cuts driver transfer from O(tasks x |w|) to
    O(buckets x |w|); `array_repeat` keeps the zero literal O(1) in plan
    size regardless of |w|. ``arr_cols`` = [(array column, its length)];
    the long count column ``n`` is always summed."""
    add = lambda a, b: F.zip_with(a, b, lambda x, y: x + y)  # noqa: E731
    aggs = [
        F.aggregate(
            F.collect_list(c), F.array_repeat(F.lit(0.0), ln), add
        ).alias(c)
        for c, ln in arr_cols
    ] + [F.sum("n").alias("n")]
    return (
        rows_df.groupBy(
            F.pmod(F.spark_partition_id(), F.lit(buckets)).alias("_b")
        )
        .agg(*aggs)
        .drop("_b")
    )


def _sum_partials(rows, mode: str, nparam: int, C: int):
    """Sum per-partition ``(g, ls, n)`` rows (Spark ``Row``s or dicts) into
    one gradient, loss-partial vector and row count, in row order."""
    g = np.zeros(nparam) if mode != "_fwd_ss" else None
    ls = np.zeros(max(C, 1))
    n = 0
    for row in rows:
        if mode != "_fwd_ss":
            g += np.array(row["g"])
        ls += np.array(row["ls"])
        n += int(row["n"])
    return g, ls, n


def _adam_loop(
    grad, wflat: np.ndarray, cost: str, C: int, max_iter: int, lr: float,
    patience: int, tol: float,
) -> tuple[np.ndarray, list[float]]:
    """The training loop (Adam, patience, NaN restart, SoftRMS's two
    passes) over a gradient source ``grad(it, mode, lw, w) -> (g, ls, n)``
    that sums :func:`_nn_partial` over the training rows. Returns the best
    weights and the per-iteration loss history; where ``grad`` runs is
    the caller's choice (see :func:`fit_nn`)."""
    best_w, best_loss, since_best = wflat.copy(), float("inf"), 0
    m = np.zeros_like(wflat)
    v = np.zeros_like(wflat)
    b1, b2, eps = 0.9, 0.999, 1e-8
    history: list[float] = []
    t = 0
    it = 0
    cur_lr = lr
    while it < max_iter:
        it += 1
        if cost == "softrms":
            _, ss, n = grad(it, "_fwd_ss", None, wflat)
            L_i = np.sqrt(ss / max(n, 1))
            loss = float(L_i[1:].sum())
            lw = np.zeros(C)
            nz = L_i > 0
            lw[nz] = 1.0 / (max(n, 1) * L_i[nz])
            lw[0] = 0.0
            g, _, _ = grad(it, "softrms", lw[None, :], wflat)
        else:
            g, ls, n = grad(it, cost, None, wflat)
            if cost == "ce":
                loss = float(ls[0] / max(n, 1))  # mean NLL
            else:
                loss = float(np.sqrt(ls[0] / max(n, 1)))  # RMS
            g = g / max(n, 1)
        if not np.isfinite(loss) or not np.all(np.isfinite(g)):
            # NaN restart (nn.go:772-800): rewind to best, halve the rate,
            # reset patience (post-restart loss ~= best loss must not trip
            # early stopping on the next iteration)
            wflat = best_w.copy()
            m, v, t = np.zeros_like(wflat), np.zeros_like(wflat), 0
            since_best = 0
            cur_lr *= 0.5
            if cur_lr < 1e-8:
                break
            continue
        history.append(loss)
        if loss < best_loss - tol:
            best_loss, best_w, since_best = loss, wflat.copy(), 0
        else:
            since_best += 1
            if since_best >= patience:
                break
        t += 1
        m = b1 * m + (1 - b1) * g
        v = b2 * v + (1 - b2) * g * g
        mh = m / (1 - b1**t)
        vh = v / (1 - b2**t)
        wflat = wflat - cur_lr * mh / (np.sqrt(vh) + eps)
    return best_w, history


_NN_FIT_OUT = T.StructType(
    [
        T.StructField("w", T.ArrayType(T.DoubleType())),
        T.StructField("history", T.ArrayType(T.DoubleType())),
    ]
)


def _nn_fit_task(
    blocks: list[_Block],
    shapes,
    acts: list[tuple[str, float]],
    head: str,
    C: int,
    dropouts: list[float],
    seed: int,
    batch_frac: float,
    wflat: np.ndarray,
    loop: dict,
):
    """Build the mapInPandas function that runs a whole one-shard fit in
    its task: it holds the partition's Arrow batches and runs
    :func:`_adam_loop` over them, calling the :func:`_nn_partial` function
    a per-iteration pass would ship. Same batches, same ``(seed, it, 0)``
    draws, same sums, so the same weights and history. Yields one row:
    the best weights and the loss history."""

    def fit_part(batches):
        _drop_zip_importers()
        import pandas as pd

        held = list(batches)

        def grad(it, mode, lw, w):
            pf = _nn_partial(
                blocks, shapes, acts, head, C, mode, dropouts, seed, it, batch_frac, w, lw
            )
            rows = (row for pdf in pf(held) for row in pdf.to_dict("records"))
            return _sum_partials(rows, mode, w.shape[0], C)

        best_w, history = _adam_loop(grad, wflat, **loop)
        yield pd.DataFrame({"w": [best_w.tolist()], "history": [history]})

    return fit_part


def fit_nn(
    pipe: Pipeline,
    ms,
    cost: str = "ce",
    max_iter: int = 200,
    lr: float = 0.05,
    patience: int = 20,
    tol: float = 1e-7,
    seed: int = 42,
    batch_frac: float = 1.0,
) -> NNModel:
    """Fit the full ModSpec architecture (embeddings, FC stack, dropout)
    under ``cost`` in {'ce','rms','softrms'} — the reference's gorgonia
    trainer (nn.go:598-840) re-expressed Spark-first. Up to 25k rows the
    training frame is one partition and the whole Adam loop runs in its
    one task (one Spark job per fit); above that, each iteration is one
    distributed gradient pass plus a driver Adam step. Both give the
    same weights for the same partitioning. See the module-section
    comment for the exact mapping and the SoftRMS two-pass.
    """
    from seafan_spark.ftypes import FRole
    from seafan_spark.model import ModSpecError, _label_col, modspec_inputs

    if cost not in ("ce", "rms", "softrms"):
        raise ModSpecError(f"fit_nn: unknown cost {cost!r}")
    d_lab, label, n_classes, kind = _label_col(pipe, ms)
    if cost in ("ce", "softrms") and kind != "classification":
        raise ModSpecError(f"fit_nn: cost {cost!r} needs a classification target")
    if cost == "rms" and kind != "regression":
        raise ModSpecError("fit_nn: cost 'rms' needs a continuous target")

    fts = modspec_inputs(ms, pipe)
    blocks: list[_Block] = []
    for f in ms.inputs:
        ft = fts.get(f.name)
        if f.emb_cols > 0:
            blocks.append(_Block(f.name, "emb", cats=ft.cats, k=f.emb_cols))
        elif ft.role in (FRole.ONE_HOT, FRole.EMBED):
            blocks.append(_Block(f.name, "oh", cats=ft.cats))
        else:
            blocks.append(_Block(f.name, "cts"))

    fcs_spec = ms.fcs()
    # classification trains a softmax head over C units even for the
    # sigmoid(size 1) spec — identical probabilities, one code path
    # (nn.go builds sigmoid nets separately)
    C = max(n_classes, 2) if kind == "classification" else 1
    head = "softmax" if kind == "classification" else "linear"
    sizes = [l.size for l in fcs_spec[:-1]] + [C]
    acts = [(l.activation, l.act_param) for l in fcs_spec[:-1]]
    # dropout p applies to the INPUT of the following FC (nn.go:318-330
    # inserts Dropout between the preceding and following dense nodes)
    dropouts = [0.0] * len(sizes)
    fi = 0
    for layer in ms.layers:
        if isinstance(layer, float):
            if fi < len(sizes):
                dropouts[fi] = layer
        else:
            fi += 1
    shapes = _shapes(blocks, sizes)

    data_ck = d_lab.select(
        *[F.col(b.name) for b in blocks],
        F.col(label).cast("double").alias("_l"),
    ).localCheckpoint(eager=True)
    data = data_ck
    # Right-size training parallelism (see _iteration_layout): ~25k
    # rows/task — one partition trains in one task; above that,
    # under-partitioned inputs are respread once so the passes run wide.
    nrows = data.count()
    data_ck, data, nparts = _iteration_layout(data_ck, nrows)

    # Glorot-uniform init, deterministic by seed (gorgonia GlorotN, nn.go)
    rng = np.random.default_rng(seed)
    w0 = []
    for name, (r, c) in shapes:
        lim = np.sqrt(6.0 / (r + c))
        w0.append(rng.uniform(-lim, lim, size=r * c))
    wflat = np.concatenate(w0)

    def pass_grad(it: int, mode: str, lw: np.ndarray | None, w: np.ndarray):
        pf = _nn_partial(
            blocks, shapes, acts, head, C, mode, dropouts, seed, it, batch_frac, w, lw
        )
        mapped = data.mapInPandas(pf, schema=_NN_OUT)
        if nparts > _TREE_MERGE_MIN_PARTS:
            mapped = _tree_merge_gradients(mapped, [("g", w.shape[0]), ("ls", max(C, 1))])
        return _sum_partials(mapped.collect(), mode, w.shape[0], C)

    loop = dict(cost=cost, C=C, max_iter=max_iter, lr=lr, patience=patience, tol=tol)
    try:
        if nparts == 1:
            fit_fn = _nn_fit_task(
                blocks, shapes, acts, head, C, dropouts, seed, batch_frac, wflat, loop
            )
            (row,) = data.mapInPandas(fit_fn, schema=_NN_FIT_OUT).collect()
            best_w, history = np.array(row["w"]), list(row["history"])
        else:
            best_w, history = _adam_loop(pass_grad, wflat, **loop)
    finally:
        # the checkpointed training frame is trainer scratch — NNModel is
        # driver-side weights; free its blocks so back-to-back fits in one
        # session don't accumulate dead executor memory (each fit's frame
        # otherwise persists until spark.stop())
        unpersist_checkpoint(data_ck)

    emb, fcs = _unpack(best_w, shapes)
    return NNModel(
        blocks=blocks,
        emb={k: v.copy() for k, v in emb.items()},
        fcs=[w.copy() for w in fcs],
        acts=acts,
        head=head,
        n_classes=C,
        loss_history=history,
    )
