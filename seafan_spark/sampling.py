"""Deterministic sampling, dataset splitting, and sequence packing.

Training-data pipelines need *reproducible* row selection — the same
document must land in the same split on every run, on any engine, with
no stored state. Everything here keys off an md5-prefix hash bucket
(``conv(substr(md5(key || salt), 1, 8), 16, 10)``), which is
cross-engine stable (verified digit-for-digit vs DuckDB) and uniform to
~2^-32, unlike ``df.sample`` (seed- and partitioning-dependent) or
``rand()`` (nondeterministic under retries — a retried task would
resample different rows).

Scale notes: every operator is a pure JVM Column filter (no shuffle at
all) except ``pack_sequences``, which shuffles once on its shard key —
the shard count, not the corpus size, bounds the window state.

The reference has no sampling layer (its slicer.go iterates whole
groups); these are north-star extensions.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bucket space for fraction arithmetic: md5-prefix mod 1e6 gives
#: fraction granularity of 1e-6 with negligible modulo bias (2^32/1e6)
_BUCKETS = 1_000_000


from seafan_spark.pipeline import as_df as _df  # shared unwrap contract
from seafan_spark.session import _local_frame


def hash_bucket_col(key: Column, salt: str = "") -> Column:
    """Deterministic uniform bucket in [0, 1e6) from a key column.

    ``conv(substr(md5(key || salt), 1, 8), 16, 10) % 1e6`` — every term
    has an exact DuckDB twin (``CAST('0x' || substr(md5(...),1,8) AS
    UBIGINT)``), so sampled/split outputs are oracle-checkable.
    """
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BUCKETS).alias(
        "bucket"
    )


def deterministic_sample(df, key_col: str, fraction: float, salt: str = "") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by key hash: reproducible
    across runs, engines, partitionings, and task retries. Pure filter —
    no shuffle, pushes down past the scan when the key is a source
    column."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("deterministic_sample: fraction must be in [0, 1]")
    d = _df(df)
    return d.filter(hash_bucket_col(F.col(key_col), salt) < int(fraction * _BUCKETS))


def split_col(
    key: Column,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "",
) -> Column:
    """Split-label column: consecutive hash-bucket ranges sized by
    ``weights`` (normalized). A key always gets the same label."""
    if len(weights) != len(names):
        raise ValueError("split_col: weights and names must align")
    tot = float(sum(weights))
    b = hash_bucket_col(key, salt)
    edges, acc = [], 0.0
    for wgt in weights:
        acc += wgt / tot
        edges.append(int(round(acc * _BUCKETS)))
    edges[-1] = _BUCKETS
    expr = None
    for name, edge in zip(names, edges):
        cond = b < edge
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr


def train_val_test_split(
    df,
    key_col: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Attach a deterministic split label keyed on ``key_col``."""
    d = _df(df)
    return d.withColumn(out_col, split_col(F.col(key_col), weights, names, salt))


def leakage_safe_split(
    df,
    id_col: str,
    clusters: DataFrame,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    names: Sequence[str] = ("train", "val", "test"),
    salt: str = "",
    out_col: str = "split",
    broadcast_clusters: bool = True,
) -> DataFrame:
    """Split so near-duplicates never straddle train/val/test.

    A plain per-document hash split leaks: two near-dup copies of the
    same text land in different splits and the eval set scores memorized
    training data. Here every document keys its split on its duplicate
    component instead — ``clusters`` is any ``(id, cluster)`` assignment
    (``minhash_clusters`` over MinHash/SimHash/embedding pairs, or exact
    fingerprint groups); documents missing from it are singletons and
    key on their own id. The whole component therefore shares one
    hash bucket and one split label.

    Scale: one left join against the cluster table — which holds only
    documents that HAVE a near-dup, typically a few percent of the
    corpus — broadcast when it fits (default), else a shuffle join on
    the corpus's own id (co-located for an id-bucketed corpus). The
    split itself stays the same pure-Column md5-bucket arithmetic as
    ``train_val_test_split`` — deterministic across engines, runs, and
    task retries, and exactly reproducible in SQL for the oracle.
    """
    d = _df(df)
    # defensively collapse duplicate assignment rows (min cluster wins,
    # deterministically): a dup id in `clusters` would otherwise FAN OUT
    # corpus rows through the left join — cheap on the small cluster side
    cl = (
        clusters.select(
            F.col("id").alias("__lss_id"), F.col("cluster").alias("__lss_cluster")
        )
        .groupBy("__lss_id")
        .agg(F.min("__lss_cluster").alias("__lss_cluster"))
    )
    if broadcast_clusters:
        cl = F.broadcast(cl)
    joined = d.join(cl, d[id_col] == cl["__lss_id"], "left").drop("__lss_id")
    key = F.coalesce(F.col("__lss_cluster"), F.col(id_col)).cast("string")
    return joined.withColumn(out_col, split_col(key, weights, names, salt)).drop(
        "__lss_cluster"
    )


def stratified_sample(
    df,
    key_col: str,
    stratum_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample web text to
    10% but keep 100% of books). ``fractions`` maps stratum value ->
    keep fraction; unlisted strata get ``default_fraction``. One
    when-chain filter — no shuffle, no join."""
    d = _df(df)
    b = hash_bucket_col(F.col(key_col), salt)
    thresh = F.lit(int(default_fraction * _BUCKETS))
    expr = None
    for val, frac in fractions.items():
        cond = F.col(stratum_col) == F.lit(val)
        lim = F.lit(int(frac * _BUCKETS))
        expr = F.when(cond, lim) if expr is None else expr.when(cond, lim)
    thresh = thresh if expr is None else expr.otherwise(thresh)
    return d.filter(b < thresh)


def pack_sequences(
    df,
    id_col: str,
    size_col: str,
    budget: int,
    shards: int = 256,
    salt: str = "",
) -> DataFrame:
    """Assign each row a (shard, bin) so that consecutive rows within a
    shard accumulate into bins of ~``budget`` total ``size_col`` —
    LLM-training sequence packing, distributed.

    Rows are sharded by key hash (``shards`` controls parallelism: each
    shard is one window partition, so state per task is corpus/shards),
    ordered by (bucket, id) within the shard, and binned at
    ``(running_sum - size) div budget``: a bin may overrun by at most
    one row's size (the standard streaming-packing bound; rows larger
    than the budget get a bin to themselves). Exactly one shuffle, on
    the shard key. Deterministic and SQL-expressible (windowed SUM),
    hence oracle-checkable.
    """
    if budget <= 0:
        raise ValueError("pack_sequences: budget must be positive")
    d = _df(df)
    from pyspark.sql import Window

    b = hash_bucket_col(F.col(id_col), salt)
    d = d.withColumn("_bkt", b).withColumn(
        "shard", (F.col("_bkt") % shards).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("_bkt").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(F.col(size_col).cast("bigint")).over(w)
    return (
        d.withColumn(
            "bin",
            F.floor(
                (run - F.col(size_col).cast("bigint")) / F.lit(int(budget))
            ).cast("bigint"),
        )
        .drop("_bkt")
    )


def mix_sources(
    df,
    key_col: str,
    source_col: str,
    size_col: str,
    weights: Mapping[str, float],
    budget: int,
    salt: str = "",
) -> DataFrame:
    """Budgeted source mixing — the training-data composition step: given
    target mixture ``weights`` (normalized) and a total ``budget`` in
    ``size_col`` units (chars/tokens/bytes), deterministically downsample
    each source to ~its share of the budget.

    Per-source keep fraction = min(1, (w_s/W * budget) / total_s), from
    ONE tiny per-source aggregation (collected: one row per source);
    selection is then a pure hash-bucket filter (stratified_sample) — no
    shuffle of the corpus, reproducible across runs/engines/retries, and
    at 100 TB the filter pushes to the scan while the totals pass is a
    map-side-combined aggregate. Sources with weight 0 (or absent from
    ``weights``) are dropped; a source whose corpus is smaller than its
    share keeps everything (fraction capped at 1 — upweighting repeats is
    an epoch-level concern, not a sampling one)."""
    d = _df(df)
    totw = float(sum(weights.values()))
    if totw <= 0:
        raise ValueError("mix_sources: weights must sum > 0")
    totals = {
        r["s"]: r["t"]
        for r in d.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(size_col).alias("t"))
        .collect()
    }
    fracs: dict[str, float] = {}
    for s, w in weights.items():
        tot = totals.get(s)
        if not tot or w <= 0:
            continue
        fracs[s] = min(1.0, ((w / totw) * budget) / float(tot))
    return stratified_sample(d, key_col, source_col, fracs, 0.0, salt)


def temperature_weights(
    totals: Mapping[str, float], alpha: float = 0.7
) -> dict[str, float]:
    """Temperature-resampled mixture weights from source sizes: target
    share of source s ∝ (its corpus share)^alpha, the multilingual/
    multi-source smoothing of mT5/XLM-R (alpha=1 keeps natural
    proportions, alpha=0 is uniform, in between upweights small sources
    without letting any one dominate). Pure driver arithmetic over the
    per-source totals dict (one row per source)."""
    if alpha < 0:
        raise ValueError("temperature_weights: alpha must be >= 0")
    tot = float(sum(totals.values()))
    if tot <= 0:
        raise ValueError("temperature_weights: totals must sum > 0")
    raw = {s: (t / tot) ** alpha for s, t in totals.items() if t > 0}
    norm = sum(raw.values())
    return {s: w / norm for s, w in raw.items()}


def temperature_mix(
    df,
    key_col: str,
    source_col: str,
    size_col: str,
    budget: int,
    alpha: float = 0.7,
    salt: str = "",
) -> DataFrame:
    """Budgeted mixing with temperature-derived weights: one per-source
    totals aggregation (the same tiny collect :func:`mix_sources` does),
    weights = share^alpha normalized, then the standard deterministic
    hash-filter mix. The selection arithmetic is exactly
    :func:`mix_sources`' (oracled as `mix`); only the weight derivation
    differs, and that is pure driver math tested directly."""
    d = _df(df)
    totals = {
        r["s"]: float(r["t"])
        for r in d.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(size_col).alias("t"))
        .collect()
    }
    w = temperature_weights(totals, alpha)
    return mix_sources(d, key_col, source_col, size_col, w, budget, salt)


def cap_per_group(
    df,
    group_col: str,
    id_col: str,
    cap: int,
    score_col: str | Column | None = None,
    presplit: int = 0,
) -> DataFrame:
    """Per-group cap — keep at most ``cap`` rows per group, highest
    ``score_col`` first, ties (and the no-score case) to smallest
    ``id_col``. The per-domain/per-source cap of pretraining curation:
    stops one giant domain from dominating the mixture.

    Deterministic total order makes the kept set reproducible and
    SQL-twinnable. Skew note: Catalyst compiles the rank<=cap filter to
    ``WindowGroupLimit`` with a PARTIAL pass before the shuffle (visible
    in the plan as Partial/Final pairs), so each map task forwards at
    most ``cap`` rows per group — a hot group costs the final task only
    ``cap * num_map_partitions`` rows, already bounded. ``presplit > 0``
    adds an explicit two-phase rank (per-(group, hash-salt-bucket)
    top-cap first) for the rare case where that bound is still too big;
    any global top-cap row is in its bucket's top-cap, so the two-phase
    result is exactly the one-phase result — at the price of a second
    shuffle, so leave it 0 unless the plan proves otherwise."""
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    d = _df(df)
    score = (
        (F.col(score_col) if isinstance(score_col, str) else score_col)
        if score_col is not None
        else None
    )
    order = [F.col(id_col).asc()]
    if score is not None:
        order.insert(0, score.desc())
    if presplit > 0:
        salt = hash_bucket_col(F.col(id_col).cast("string"), "cap") % presplit
        w1 = Window.partitionBy(F.col(group_col), salt.alias("_salt")).orderBy(*order)
        d = (
            d.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= cap)
            .drop("_rn1")
        )
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_sample_per_group(
    df,
    keys: Sequence[str],
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k per group —
    Efraimidis-Spirakis (IPL 2006) A-ES keys: each row draws a
    deterministic uniform u from its id hash and competes on
    u^(1/weight); the top-k keys per group are a true weighted sample
    without replacement (inclusion follows the successive-sampling
    distribution). The quality-weighted subset selector: "keep the best
    5% per domain, favoring high-score docs, reproducibly".

    Everything is pure Column arithmetic on the md5-bucket uniform
    (hash_bucket_col), so the draw is reproducible across runs, engines,
    partitionings, and retries — and DuckDB-replayable for the oracle.
    The per-group top-k rides Catalyst's WindowGroupLimit (map-side
    partial top-k before the one shuffle). Rows with NULL or
    non-positive weight never qualify (documented exclusion: their A-ES
    key is undefined). Ties on the key (possible: u has 1e-6
    granularity) break by id for determinism.

    Returns the winning rows: (keys..., id, weight, es_key, rank).
    """
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = _df(df)
    w = F.col(weight_col).cast("double")
    # u in (0, 1): (bucket + 0.5) / 1e6 — the +0.5 keeps ln(u) finite
    u = (hash_bucket_col(F.col(id_col), salt) + 0.5) / float(_BUCKETS)
    es = F.when(w > 0.0, F.exp(F.log(u) / w))
    ranked = (
        d.select(*keys, F.col(id_col).alias("id"), w.alias("weight"), es.alias("_es"))
        .filter(F.col("_es").isNotNull())
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(*keys).orderBy(
                    F.col("_es").desc(), F.col("id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= int(k))
    )
    return ranked.select(
        *keys,
        "id",
        round_col(F.col("weight"), 6).alias("weight"),
        round_col(F.col("_es"), 6).alias("es_key"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def kfold_split(
    df,
    key_col: str,
    k: int,
    stratify_by: str | Sequence[str] | None = None,
    salt: str = "",
    out_col: str = "fold",
    exact: bool = False,
) -> DataFrame:
    """Deterministic k-fold assignment for cross-validation: appends an
    ``int`` fold in ``[0, k)`` that is stable across runs, engines,
    partitionings, and task retries.

    Default mode is ``fold = hash_bucket(key) % k`` — a pure Column
    filter-friendly projection with NO shuffle whose folds are uniform
    to ~sqrt(n) per stratum automatically (a key-uniform hash is
    independent of any stratum column), the right trade at corpus
    scale.

    Group k-fold (sklearn GroupKFold semantics — every row of a group
    lands in the same fold, e.g. all chunks of one document) is the
    default mode keyed on the GROUP column: ``kfold_split(df,
    "doc_id", k)`` over a chunks table keeps sibling chunks together
    because the fold is a pure function of the key value.

    ``exact=True`` guarantees ±1 balance per stratum (what sklearn's
    StratifiedKFold gives on small eval sets, where binomial wobble is
    material): rows rank within their stratum by (hash bucket, key) and
    take ``rank % k``. The rank is built scale-safely — a per-(stratum,
    bucket) count relation provides exclusive prefix offsets (window
    over the TINY counts table), and row_number only ever runs inside
    one (stratum, bucket) cell, so no task sees more than ~1e-6 of a
    stratum; the corpus shuffles once on (stratum, bucket).
    """
    if k < 2:
        raise ValueError("kfold_split: k must be >= 2")
    d = _df(df)
    key = F.col(key_col)
    if not exact:
        return d.withColumn(out_col, (hash_bucket_col(key, salt) % k).cast("int"))
    from pyspark.sql import Window

    strat = (
        [stratify_by]
        if isinstance(stratify_by, str)
        else list(stratify_by or [])
    )
    d2 = d.withColumn("__kf_b", hash_bucket_col(key, salt))
    counts = d2.groupBy(*strat, "__kf_b").agg(F.count(F.lit(1)).alias("__kf_n"))
    woff = (
        Window.partitionBy(*strat)
        .orderBy("__kf_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__kf_off", F.coalesce(F.sum("__kf_n").over(woff), F.lit(0))
    ).drop("__kf_n")
    wcell = Window.partitionBy(*strat, "__kf_b").orderBy(key.asc())
    out = (
        d2.join(offsets, [*strat, "__kf_b"])
        .withColumn(
            out_col,
            ((F.col("__kf_off") + F.row_number().over(wcell) - 1) % k).cast("int"),
        )
        .drop("__kf_b", "__kf_off")
    )
    return out


# ----------------------------------------------------- score calibration ----
def calibrate_scores_by_group(
    df,
    group_col: str,
    score_col: str,
    out_col: str = "score_pct",
) -> "DataFrame":
    """Per-group percentile-rank calibration of a score column.

    Quality scores are not comparable across sources — a web crawl's
    median heuristic score sits far below a books corpus's — so a single
    global threshold over- or under-selects per source.  Rank-normalizing
    within each group (``percent_rank``: 0 for the group minimum, 1 for
    the maximum, ties share a rank) makes "keep the top 30% of every
    source" a single filter on one calibrated column, the standard
    per-domain quota construction in pretraining curation.

    100 TB design (round-10 upgrade): the per-group percent_rank comes
    from :func:`seafan_spark.rank.keyed_midrank` — range-repartition on
    (group, score) + a tie-group join, so a big source spans a RUN of
    partitions (a ``Window.partitionBy(source)`` would sort each
    source's corpus share on ONE task — sources are low-cardinality).
    percent_rank = (rank − 1)/(n − 1), ties share the min rank,
    single-row groups get 0 — the exact SQL window definition.
    """
    from seafan_spark.rank import keyed_midrank

    d = getattr(df, "df", df)
    ranked = keyed_midrank(
        d, [group_col], score_col, rank_out="_csr_rk", total_out="_csr_n"
    )
    pr = F.when(
        F.col("_csr_n") > 1,
        (F.col("_csr_rk") - F.lit(1)).cast("double")
        / (F.col("_csr_n") - F.lit(1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return ranked.withColumn(out_col, pr).drop("_csr_rk", "_csr_n")


# ------------------------------------------------------------- IPF raking ----
RAKE_CELL_CAP = 1_000_000


def rake_cells(
    df,
    targets: "dict[str, dict]",
    iters: int = 5,
) -> "DataFrame":
    """Iterative proportional fitting (raking, Deming & Stephan 1940)
    over the contingency cells of the target dimensions: returns one row
    per observed cell with its count ``n``, raked cell mass ``w``
    (``sum(w) == sum(n)``, marginal shares matching ``targets`` after
    convergence), and per-row ``factor = w/n``.

    ``targets`` maps each dimension column to its desired marginal
    share by value (e.g. ``{"src": {"a": .5, "b": .5}}``); values
    absent from a dimension's target dict keep share 0 pressure (their
    cells converge toward 0).  ``iters`` full sweeps (one per dim per
    sweep) — IPF converges geometrically when the targets are
    consistent.

    100 TB design: the corpus contributes ONE groupBy down to its
    contingency cells (bounded by the product of dimension
    cardinalities, capped at ``RAKE_CELL_CAP`` — raking dimensions are
    low-cardinality demographics/sources by construction); the IPF loop
    runs driver-side on that kilobyte table (deterministic: cells
    processed in sorted order), and callers re-attach with one
    broadcast join (:func:`rake_weights`).
    """
    dims = list(targets)
    if not dims:
        raise ValueError("rake_cells: need at least one dimension")
    d = getattr(df, "df", df)
    cells_df = d.groupBy(*dims).agg(F.count(F.lit(1)).alias("n"))
    rows = cells_df.limit(RAKE_CELL_CAP + 1).collect()
    if len(rows) > RAKE_CELL_CAP:
        raise ValueError(
            f"rake_cells: more than {RAKE_CELL_CAP} contingency cells — "
            "raking dimensions must be low-cardinality"
        )
    cells = sorted(
        [(tuple(r[c] for c in dims), int(r["n"])) for r in rows]
    )
    total = float(sum(n for _, n in cells))
    w = [float(n) for _, n in cells]
    for _ in range(int(iters)):
        for di, dim in enumerate(dims):
            cur: dict = {}
            for (key, _), wi in zip(cells, w):
                cur[key[di]] = cur.get(key[di], 0.0) + wi
            tgt = targets[dim]
            for i, (key, _) in enumerate(cells):
                share = float(tgt.get(key[di], 0.0))
                denom = cur[key[di]]
                w[i] = w[i] * (share * total / denom) if denom > 0 else 0.0
    spark = d.sparkSession
    out_rows = [
        tuple(key) + (n, wi, (wi / n) if n else None)
        for (key, n), wi in zip(cells, w)
    ]
    schema = ", ".join(
        f"`{c}` {cells_df.schema[c].dataType.simpleString()}" for c in dims
    )
    return _local_frame(
        spark,
        out_rows, schema=f"{schema}, n bigint, w double, factor double"
    )


def rake_weights(
    df,
    targets: "dict[str, dict]",
    iters: int = 5,
    weight_col: str = "rake_w",
) -> "DataFrame":
    """Attach the IPF raking weight (cell ``factor``) to every row —
    post-stratification reweighting so the weighted sample marginals
    match ``targets`` (survey raking; source/domain rebalancing without
    dropping rows).  One broadcast join of the tiny cell table."""
    d = getattr(df, "df", df)
    dims = list(targets)
    cells = rake_cells(d, targets, iters).select(
        *dims, F.col("factor").alias(weight_col)
    )
    return d.join(F.broadcast(cells), dims, "left")


# ------------------------------------------------------ Poisson bootstrap ----
def _poisson1_cdf_ladder() -> list[float]:
    """Cumulative P[X <= k] for X ~ Poisson(1), k = 0..11, as exact
    Python-double literals (both engines compare the SAME constants, so
    no libm is involved in the draw)."""
    import math

    p, acc, out = math.exp(-1.0), 0.0, []
    fact = 1.0
    for k in range(12):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        out.append(acc)
    return out


def bootstrap_ci(
    df,
    value_col: str,
    keys: Sequence[str] = (),
    replicates: int = 100,
    alpha: float = 0.05,
    salt: str = "boot",
    id_col: str | None = None,
    portable: bool = False,
) -> "DataFrame":
    """Poisson-bootstrap confidence interval for the per-group MEAN —
    the bootstrap that works on data too large to resample by index
    (Chamandy et al., Google 2012): every row contributes to replicate
    ``b`` with a Poisson(1) weight drawn DETERMINISTICALLY from the
    md5 bucket of (row id, b) — reproducible across runs, engines and
    retries, unlike rand().  Returns (keys..., n, mean, ci_lo, ci_hi)
    with the percentile interval at level ``1 - alpha``.

    Scale shape: rows explode into ``replicates`` (id, b) pairs, but
    map-side partial aggregation collapses the shuffle to
    |groups| x replicates moment rows; the percentile pick sorts the
    ``replicates``-row relation per group (a keyed window over B rows).
    The Poisson draw is a CASE ladder over PRE-COMPUTED CDF literals,
    so both engines compare identical constants — no libm in the row
    path.

    ``portable=False`` (production default) derives the uniform from
    ``xxhash64(id, b, salt)`` — native multi-arg JVM hashing, no string
    concat or md5 in the B-times-exploded row path; ``portable=True``
    switches to the md5-prefix arithmetic DuckDB reproduces
    digit-for-digit (the minhash/simhash portable-mode convention).
    Both are deterministic; only the portable draw is oracle-checkable."""
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = getattr(df, "df", df)
    keys = list(keys)
    rid = F.col(id_col) if id_col else F.monotonically_increasing_id()
    if id_col is None:
        raise ValueError(
            "bootstrap_ci: pass id_col — a stable row id is what makes "
            "the draw deterministic under retries"
        )
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull()).select(*keys, x.alias("_x"), rid.alias("_rid"))

    b = F.explode(F.sequence(F.lit(0), F.lit(int(replicates) - 1))).alias("_b")
    # Repartition the B-fold explosion BY REPLICATE before the
    # per-(row, replicate) hash: a selective upstream filter often leaves
    # ONE input split, which would run the whole md5/xxhash + CASE-ladder
    # hot path (rows x replicates) on a single task (measured at sf0.1:
    # the entire query on 1 of 32 cores). Keying the shuffle on _b keeps
    # every (group, b) moment cell within one partition with rows still
    # in scan order (order-preserving fetch from a single map), so the
    # per-cell float accumulation order — hence every emitted bit — is
    # unchanged; partition count follows spark.sql.shuffle.partitions.
    # sortWithinPartitions pins the per-(group, b) accumulation order to
    # (_b, _rid) regardless of reduce-side fetch order: with ONE upstream
    # map task the fetch is scan-ordered anyway, but with many input
    # splits the interleaving across maps is nondeterministic and would
    # let the last ulp of the float moments vary run-to-run at scale
    # (round-10 verdict item 2 — the levene-twin failure class).
    exploded = (
        base.select(*keys, "_x", "_rid", b)
        .repartition(F.col("_b"))
        .sortWithinPartitions("_b", "_rid")
    )
    if portable:
        u = (
            hash_bucket_col(
                F.concat(
                    F.col("_rid").cast("string"), F.lit("#"), F.col("_b").cast("string")
                ),
                salt,
            )
            + F.lit(0.5)
        ) / F.lit(1_000_000.0)
    else:
        u = (
            F.pmod(
                F.xxhash64(F.col("_rid"), F.col("_b"), F.lit(salt)), F.lit(_BUCKETS)
            ).cast("double")
            + F.lit(0.5)
        ) / F.lit(1_000_000.0)
    ladder = _poisson1_cdf_ladder()

    def _ladder_w(uc: Column) -> Column:
        w = F.lit(12)
        for k in range(11, -1, -1):
            w = F.when(uc <= F.lit(ladder[k]), F.lit(k)).otherwise(w)
        return w

    # Let-bind the uniform ONCE per exploded row (transform-singleton,
    # the round_col expensive= trick): the CASE ladder evaluates its
    # scrutinee once per branch reached (~2 on average, no codegen CSE
    # across CaseWhen branches), and u is a whole md5/xxhash pipeline
    # in the B-times-exploded hot path.
    wgt = F.element_at(F.transform(F.array(u), _ladder_w), 1)
    rep = (
        exploded.withColumn("_w", wgt)
        .groupBy(*keys, "_b")
        .agg(
            F.sum(F.col("_w") * F.col("_x")).alias("_wx"),
            F.sum("_w").alias("_wn"),
        )
        .filter(F.col("_wn") > 0)
        .withColumn("_m", F.col("_wx") / F.col("_wn"))
    )
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    wo = wk.orderBy(F.col("_m").asc(), F.col("_b").asc())
    lo_rank = F.ceil(F.lit(alpha / 2) * F.count(F.lit(1)).over(wk)).cast("int")
    hi_rank = F.ceil(F.lit(1 - alpha / 2) * F.count(F.lit(1)).over(wk)).cast("int")
    ranked = rep.withColumn("_r", F.row_number().over(wo)).withColumn(
        "_lo_r", lo_rank
    ).withColumn("_hi_r", hi_rank)
    ci = ranked.groupBy(*keys).agg(
        F.min(F.when(F.col("_r") == F.col("_lo_r"), F.col("_m"))).alias("_lo"),
        F.min(F.when(F.col("_r") == F.col("_hi_r"), F.col("_m"))).alias("_hi"),
    )
    stats = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), F.avg("_x").alias("_mean")
    )
    joined = stats.join(ci, keys) if keys else stats.crossJoin(ci)
    return joined.select(
        *keys,
        "n",
        round_col(F.col("_mean"), 6).alias("mean"),
        round_col(F.col("_lo"), 6).alias("ci_lo"),
        round_col(F.col("_hi"), 6).alias("ci_hi"),
    )
