"""Embedding similarity search.

- ``cosine_col``: pure-JVM cosine between two array<numeric> columns
  (zip_with dot product + aggregate norms — no UDF, vectorizable).
- ``ann_brute_topk``: exact baseline — broadcast the (small) query set
  against the corpus, window top-k. One pass over the corpus, no shuffle
  of the corpus itself beyond the top-k aggregation.
- ``hyperplane_bucket_col`` + ``ann_lsh_topk``: the scale path — seeded
  pseudo-random hyperplane sign bits bucket the corpus; queries only score
  against their own bucket (recall < 1, tunable via ``planes``; multi-probe
  by flipping bits is the standard extension).

Hyperplane and JL projections use deterministic ±1 sign weights generated
driver-side (seeded Mersenne Twister) and inlined as plan literals: no
stored model, identical across executors/runs, and — because the weights
are plain literals, not engine hash functions — any engine given the same
weight table (``jl_sign_weights`` / ``hyperplane_weights``) reproduces the
results exactly, which is how the DuckDB oracle checks these paths.

Each weight row is one folded ``session._plan_literal`` array at every
size; there is no broadcast form. Against a broadcast-joined flat weight
column, 500 checkpointed rows projected and bucketed (16 planes), built
and collected on a warm ``local[4]`` session (4-vCPU VM, medians of two
rounds of 3), the literals took 5.6 against 7.3-7.9 CPU-s at 1024 x 32
weights and 20.1-20.6 against 25.6-26.9 at 4096 x 64, in 1 job against
3, with the same build time.
"""

from __future__ import annotations

import random
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seafan_spark.rounding import round_col
from seafan_spark.session import (
    _drop_zip_importers,
    _local_frame,
    _plan_literal,
    unpersist_checkpoint,
)

from seafan_spark.pipeline import Pipeline


def _sign_matrix(rows: int, cols: int, seed_key: str) -> list[list[float]]:
    rng = random.Random(seed_key)
    return [[1.0 if rng.random() < 0.5 else -1.0 for _ in range(cols)] for _ in range(rows)]


def jl_sign_weights(in_dim: int, out_dim: int, seed: int = 42) -> list[list[float]]:
    """The JL projection's ±1 weight matrix (out_dim x in_dim) — exposed so
    external twins (e.g. a SQL oracle) can inline identical weights."""
    return _sign_matrix(out_dim, in_dim, f"jl:{in_dim}:{out_dim}:{seed}")


def hyperplane_weights(planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """The LSH hyperplane ±1 weight matrix (planes x dim)."""
    return _sign_matrix(planes, dim, f"hp:{planes}:{dim}:{seed}")


def _double_array(values: Sequence[float]) -> Column:
    """A driver-side vector as one array<double> plan literal."""
    return _plan_literal([float(x) for x in values], "array<double>")


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (under
    the session default ANSI mode a bare division would ABORT the whole
    job on the first zero/padding vector). The denominator is let-bound
    once (transform-singleton) — referencing it in both the zero guard
    and the division would re-run both O(dim) norm reductions."""
    denom = norm_col(a) * norm_col(b)
    return F.element_at(
        F.transform(
            F.array(denom),
            lambda d: F.when(d != 0.0, dot_col(a, b) / d),
        ),
        1,
    )


def ann_brute_topk(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` defaults to the corpus itself (all-pairs top-k). The query
    side is broadcast — this is the baseline for small/medium query sets;
    for query sets too big to broadcast, use ann_lsh_topk.

    Returns (q_id, neighbor_id, cosine, rank), rank 1-based, ties broken
    by neighbor id.
    """
    corpus = pipe.df.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv"))
    if queries is None:
        q = pipe.df.select(F.col(id_col).alias(query_id), F.col(vec_col).alias(query_vec))
    else:
        q = queries
    joined = corpus.crossJoin(F.broadcast(q))
    if not include_self:
        joined = joined.filter(F.col("_nid") != F.col(query_id))
    scored = joined.withColumn("cosine", cosine_col(F.col(query_vec), F.col("_nv")))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col("_nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id).alias("q_id"),
            F.col("_nid").alias("neighbor_id"),
            round_col("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def checked_vec_col(vec: Column, dim: int, where: str) -> Column:
    """``vec`` if its length is exactly ``dim``, else a runtime error.

    Guards every projection against silently null-padded ``zip_with``
    results when a row's vector length differs from the declared
    dimension (a wrong-length vector would otherwise fold into a NULL
    projection and land in a biased bucket instead of erroring)."""
    return F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{where}: expected vector of dim {dim}, got length "),
                F.size(vec).cast("string"),
            )
        )
    )


def infer_vec_dim(df: DataFrame, vec_col: str, where: str) -> int:
    """Vector dimension from the first row — the fallback when the caller
    doesn't pass ``dim`` explicitly (costs an eager job at plan-build
    time; empty input raises instead of TypeError-ing)."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"{where}: cannot infer vector dim from an empty input — "
            "pass dim= explicitly"
        )
    return len(row[0])


def hyperplane_bucket_col(vec: Column, dim: int, planes: int = 16, seed: int = 42) -> Column:
    """LSH bucket key: sign bits of ``planes`` pseudo-random ±1-weighted
    projections (``hyperplane_weights``, one plan literal per plane at any
    ``dim`` — the whole O(planes x dim) contraction is codegen'd JVM
    arithmetic, no hash calls in the row loop, no stored model).
    Wrong-length vectors raise (see checked_vec_col)."""
    ws = hyperplane_weights(planes, dim, seed)
    v = checked_vec_col(vec, dim, "hyperplane_bucket")

    def proj(p: int) -> Column:
        terms = F.zip_with(
            v,
            _double_array(ws[p]),
            lambda x, w: x.cast("double") * w,
        )
        return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)

    bits = [F.when(proj(p) >= 0, F.lit("1")).otherwise(F.lit("0")) for p in range(planes)]
    return F.concat(*bits)


def probe_buckets_col(bucket: Column, planes: int, probe_bits: int = 1) -> Column:
    """Multi-probe LSH probe set: the bucket itself plus every bucket at
    Hamming distance <= ``probe_bits`` in sign-bit space (standard
    multi-probe extension — near-misses on one hyperplane land one bit
    away, so probing adjacent buckets recovers most of the recall lost to
    quantization). probe_bits is capped at 1 here: ``planes`` flips keep
    the candidate volume linear in planes; deeper probing explodes
    combinatorially and IVF is the better tool at that point."""
    if probe_bits <= 0:
        return F.array(bucket)
    flips = [bucket]
    for i in range(planes):
        ch = F.substring(bucket, i + 1, 1)
        flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        flips.append(
            F.concat(F.substring(bucket, 1, i), flipped, F.substring(bucket, i + 2, planes - i - 1))
        )
    return F.array(*flips)


def l2_normalize_col(vec: Column) -> Column:
    """Unit-L2-normalized copy of an array<numeric> column (zero vectors
    pass through unchanged). Pure JVM higher-order functions.

    The norm is LET-BOUND once per row (transform-singleton): HOF lambda
    bodies are interpreted with no subexpression elimination, so writing
    the norm aggregate inline in the per-element division re-ran the
    whole O(dim) reduction for EVERY element — O(dim^2) per row
    (measured: the dominant cost of unit-normalizing 64-dim vectors)."""
    nrm = F.sqrt(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return F.element_at(
        F.transform(
            F.array(nrm),
            lambda n: F.when(n == 0.0, vec.cast("array<double>")).otherwise(
                F.transform(vec, lambda x: x.cast("double") / n)
            ),
        ),
        1,
    )


def mean_pool_col(vecs: Column) -> Column:
    """Element-wise mean of an array<array<numeric>> column (token- or
    chunk-embedding pooling). Empty input -> NULL."""
    n = F.size(vecs)
    summed = F.aggregate(
        F.slice(vecs, 2, F.greatest(n - 1, F.lit(0))),
        F.element_at(vecs, 1).cast("array<double>"),
        lambda acc, v: F.zip_with(acc, v, lambda a, x: a + x.cast("double")),
    )
    return F.when(n == 0, F.lit(None)).otherwise(
        F.transform(summed, lambda x: x / n.cast("double"))
    )


def random_projection_col(
    vec: Column, in_dim: int, out_dim: int, seed: int = 42
) -> Column:
    """Johnson-Lindenstrauss random projection to ``out_dim`` using
    driver-generated ±1 sign weights (``jl_sign_weights``, one plan
    literal per output component at any ``in_dim``) — no stored model,
    reproducible across runs AND engines,
    and the whole O(in_dim x out_dim) contraction stays JVM-side
    (codegen), no UDF, no shuffle. Output scaled by 1/sqrt(out_dim) so
    expected norms are preserved (sign-weight JL variant, Achlioptas
    2003)."""
    scale = 1.0 / (out_dim ** 0.5)
    ws = jl_sign_weights(in_dim, out_dim, seed)
    v = checked_vec_col(vec, in_dim, "random_projection")
    comps = []
    for j in range(out_dim):
        terms = F.zip_with(
            v,
            _double_array(ws[j]),
            lambda x, w: x.cast("double") * w,
        )
        comps.append(F.aggregate(terms, F.lit(0.0), lambda a, x: a + x) * F.lit(scale))
    return F.array(*comps)


def ann_ivf_topk(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    n_centroids: int = 32,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer, exact cosine
    inside the ``n_probe`` nearest cells per query.

    The scale path alongside ann_lsh_topk, trading a small training job
    for data-adaptive cells (LSH cells are data-oblivious):

    - train MLlib KMeans on the corpus (distributed, one pass per iter);
    - assign every corpus vector its cell id JVM-side (model.transform);
      the corpus is shuffled ONCE by cell in the candidate join, never
      all-pairs;
    - the query side is small/broadcastable: its top ``n_probe`` cells come
      from a driver-side numpy argsort over the (n_centroids x dim)
      centroid matrix, then explode -> broadcast equi-join on cell id;
    - exact cosine + window top-k inside candidates only. Expected cost
      n_probe/n_centroids of brute force; recall grows with n_probe.

    Returns (q_id, neighbor_id, cosine, rank) like ann_brute_topk.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = pipe.df.sparkSession
    corpus = pipe.df.select(
        F.col(id_col).alias("_nid"),
        F.col(vec_col).alias("_nv"),
        array_to_vector(F.col(vec_col)).alias("_mlv"),
    )
    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter, featuresCol="_mlv",
                predictionCol="_cell")
    model = km.fit(corpus)
    assigned = model.transform(corpus).select("_nid", "_nv", "_cell")

    cents = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    if queries is None:
        q = pipe.df.select(F.col(id_col).alias(query_id), F.col(vec_col).alias(query_vec))
    else:
        q = queries
    qrows = q.collect()  # query side is small by contract (like brute's broadcast)
    n_probe = min(n_probe, len(cents))
    cn = np.linalg.norm(cents, axis=1) + 1e-12
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[query_vec], dtype="float64")
        sims = (cents @ qv) / (cn * (np.linalg.norm(qv) + 1e-12))
        for cell in np.argsort(-sims)[:n_probe]:
            probe_rows.append((r[query_id], [float(x) for x in qv], int(cell)))
    if not probe_rows:
        raise ValueError("ann_ivf_topk: empty query set")
    qdf = _local_frame(spark, probe_rows, schema=[query_id, query_vec, "_cell"])
    cand = assigned.join(F.broadcast(qdf), "_cell").filter(
        F.col("_nid") != F.col(query_id)
    )
    scored = cand.withColumn("cosine", cosine_col(F.col(query_vec), F.col("_nv")))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col("_nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id).alias("q_id"),
            F.col("_nid").alias("neighbor_id"),
            round_col("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def adaptive_planes(n: int, target_bucket: int = 16, floor: int = 8) -> int:
    """Hyperplane count that keeps the EXPECTED bucket size ~constant
    (``target_bucket``) as the corpus grows: planes = ceil(log2(n /
    target)). At a FIXED plane count the within-bucket candidate volume
    is n^2 / 2^planes — quadratic in corpus size (measured: e_big 1.58,
    1.3s -> 48.8s over one 10x step at planes=8) — while the adaptive
    count makes it ~n * target, linear. Same shape as
    ``dedup.adaptive_n_clusters`` (the semantic-dedup k ~ sqrt(N)
    default)."""
    import math as _math

    if n <= target_bucket:
        return floor
    return max(floor, int(_math.ceil(_math.log2(n / target_bucket))))


def ann_lsh_topk(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    k: int = 10,
    planes: int | None = None,
    seed: int = 42,
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate all-pairs top-k: bucket by hyperplane signature, exact
    cosine within each bucket. The join key is the bucket — no cross
    product across buckets. Expected bucket size n/2^planes controls cost.

    ``planes=None`` (the default) sizes the hyperplane count from a
    cheap corpus count via :func:`adaptive_planes` — constant expected
    bucket size, so candidate volume grows LINEARLY with the corpus; a
    fixed ``planes`` is the oracle-pinning/expert knob (at a fixed
    count the candidate volume is quadratic: the measured 10x exponent
    at planes=8 was 1.58). ``dim`` should be passed explicitly when
    known (otherwise inferred from the first row — an extra eager job;
    wrong-length vectors raise either way). ``probe_bits=1`` turns on
    multi-probe: the query side also probes every bucket one sign-bit
    away, recovering recall lost to hyperplane quantization for
    ~(planes+1)x candidate volume."""
    df = pipe.df
    if dim is None:
        dim = infer_vec_dim(df, vec_col, "ann_lsh_topk")
    if planes is None:
        planes = adaptive_planes(df.count())
    d = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        hyperplane_bucket_col(F.col(vec_col), dim, planes, seed).alias("_bkt"),
    )
    a = d.select(F.col("_id").alias("q_id"), F.col("_v").alias("qv"), "_bkt")
    if probe_bits > 0:
        a = a.select(
            "q_id", "qv",
            F.explode(probe_buckets_col(F.col("_bkt"), planes, probe_bits)).alias("_bkt"),
        )
    b = d.select(F.col("_id").alias("neighbor_id"), F.col("_v").alias("nv"), "_bkt")
    cand = a.join(b, "_bkt").filter(F.col("q_id") != F.col("neighbor_id"))
    if probe_bits > 0:
        # a pair can meet through several probes; keep one candidate row
        cand = cand.dropDuplicates(["q_id", "neighbor_id"])
    scored = cand.withColumn("cosine", cosine_col(F.col("qv"), F.col("nv")))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", round_col("cosine", 6).alias("cosine"), F.col("rank").cast("bigint").alias("rank"))
    )


# ----------------------------------------------------- product quantization


def pq_fit(
    pipe: Pipeline | DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k_codes: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    train_cap: int = 65536,
) -> list[list[list[float]]]:
    """Fit product-quantization codebooks: split the ``dim`` dimensions
    into ``m`` contiguous subspaces and k-means each subspace to
    ``k_codes`` centroids (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"). Returns ``codebooks[m][k_codes][dim/m]``
    — a tiny driver-side object (m*k*dim/m = dim*k floats) that inlines
    into encode/search plans as literals, like the JL / hyperplane
    weight tables.

    Training runs on a deterministic hash-sampled subset of at most
    ``train_cap`` vectors, collected once, with seeded kmeans++ Lloyd
    iterations in numpy — the FAISS convention: codebooks are corpus
    STATISTICS, so a bounded sample fixes their quality independent of
    corpus size, and one collect replaces m*max_iter distributed passes
    (the previous per-subspace MLlib loop paid ~m*iters tiny-job
    overheads — 10s of the bench on a 2000-row corpus). The sample is
    chosen by an md5 hash of the vector bytes, so it is reproducible
    across runs, partitionings, and engines; ENCODE and SEARCH remain
    fully distributed — only dim*k_codes floats ever cross the driver.
    """
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m {m}")
    dsub = dim // m
    df = pipe.df if isinstance(pipe, Pipeline) else pipe
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    n_total = vecs.count()
    if n_total == 0:
        raise ValueError("pq_fit: empty corpus")
    if n_total > train_cap:
        # deterministic content-hash sample: keep ~train_cap rows
        frac = train_cap / n_total
        h = F.conv(
            F.substring(F.md5(F.col("_v").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        vecs = vecs.filter(h % 1_000_000 < int(frac * 1_000_000))
    X = np.asarray([r["_v"] for r in vecs.collect()], dtype="float64")

    books: list[list[list[float]]] = []
    for j in range(m):
        S = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        rng = np.random.default_rng(seed + j)
        k = min(k_codes, len(S))
        # kmeans++ seeding, then Lloyd; empty clusters keep their centroid
        cent = S[rng.integers(len(S))][None, :].copy()
        while len(cent) < k:
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(-1).min(1)
            tot = d2.sum()
            probs = d2 / tot if tot > 0 else np.full(len(S), 1.0 / len(S))
            cent = np.vstack([cent, S[rng.choice(len(S), p=probs)]])
        for _ in range(max_iter):
            lab = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(-1).argmin(1)
            new = cent.copy()
            for c in range(k):
                pts = S[lab == c]
                if len(pts):
                    new[c] = pts.mean(0)
            if np.allclose(new, cent):
                break
            cent = new
        if k < k_codes:  # degenerate corpora: pad by repeating centroids
            cent = np.vstack([cent, cent[np.zeros(k_codes - k, dtype=int)]])
        books.append([[float(x) for x in c] for c in cent])
    return books


def pq_code_col(vec: Column, codebooks: list[list[list[float]]]) -> Column:
    """PQ encode as a pure JVM Column: for each subspace, the index of
    the nearest codebook centroid (squared L2, sequential arithmetic,
    first-min tiebreak via array_position). Codebooks inline as plan
    literals; output is ``array<int>`` of length m — the 100 TB point:
    a 64-dim float vector (256B+) compresses to m small ints, and
    search never touches the original vectors."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(vec, j * dsub + 1, dsub)
        blit = _plan_literal(book, "array<array<double>>")
        dists = F.transform(
            blit,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def _pq_flat_lut(qv: Sequence[float], codebooks: list[list[list[float]]]) -> list[float]:
    """Flattened ADC lookup table for one query: LUT[j*k_codes + c] =
    ||q_j - codebook[j][c]||² — m*k_codes floats, computed driver-side
    (sequential left-to-right double sums, the same association as the
    SQL twin and the in-plan code-assignment fold)."""
    dsub = len(codebooks[0][0])
    flat: list[float] = []
    for j, book in enumerate(codebooks):
        sub = qv[j * dsub : (j + 1) * dsub]
        for c in book:
            flat.append(sum((a - b) * (a - b) for a, b in zip(sub, c)))
    return flat


def _adc_over_codes(codes: Column, lut: Column, m: int, k_codes: int) -> Column:
    """Asymmetric distance from a PQ code array and a flattened LUT:
    sum_j LUT[j*k_codes + code_j] — a JVM fold, no vector math per row."""
    return F.aggregate(
        F.zip_with(
            codes,
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(lut, (j * k_codes + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_adc_scores(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: Sequence[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
) -> DataFrame:
    """The DISTRIBUTED half of PQ ANN in isolation: encode the corpus
    against a FIXED (caller-supplied) codebook and rank by the ADC
    approximate distance to one query — (id_col, adc, rank), adc
    rounded to 6 dp, rank over (rounded adc ASC, id ASC).

    This exists so the ADC table lookup + asymmetric-distance
    arithmetic — the part of :func:`ann_pq_topk` that actually scans
    the corpus — has an exact SQL twin (the pca_moments split applied
    again: training is iterative/seeded and stays under pytest; the
    deterministic scoring half is oracled).  Same plan shape as
    ann_pq_topk's candidate stage: the corpus is scanned as m-int code
    arrays (JVM ``zip_with`` assignment against in-plan codebook
    literals), the LUT is m·k_codes floats riding as one literal array,
    and the top-k is an ORDER-BY-LIMIT over the rounded key — no
    shuffle before the final k rows."""
    from pyspark.sql import Window

    m, k_codes = len(codebooks), len(codebooks[0])
    lut = _pq_flat_lut([float(x) for x in query_vec], codebooks)
    corpus = df.select(
        F.col(id_col).alias("_id"),
        pq_code_col(F.col(vec_col), codebooks).alias("_codes"),
    )
    adc = _adc_over_codes(
        F.col("_codes"), _double_array(lut), m, k_codes
    )
    top = (
        corpus.withColumn("_adc", adc)
        .select("_id", round_col("_adc", 6).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("_id").asc())
        .limit(k)
    )
    w = Window.partitionBy(F.lit(0)).orderBy(F.col("adc").asc(), F.col("_id").asc())
    return top.select(
        F.col("_id").alias(id_col),
        "adc",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def ann_pq_topk(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    queries: DataFrame | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    dim: int | None = None,
    seed: int = 42,
    refine: int = 4,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation (ADC) + exact
    re-rank: the memory-scale path alongside IVF/LSH — the corpus is
    scanned as m-byte PQ codes, never as raw vectors, until the final
    re-rank touches only ``k*refine`` candidates per query.

    - fit codebooks (:func:`pq_fit`), encode the corpus JVM-side
      (:func:`pq_code_col`);
    - per query, the ADC lookup table LUT[j][c] = ||q_j - codebook[j][c]||^2
      is m*k_codes floats computed driver-side and broadcast with the
      query row; approximate distance is a JVM fold over the code array
      (element_at into the flattened LUT — no vector math per row);
    - keep the ``k*refine`` best ADC candidates per query (one window
      over the slim scored codes), then exact cosine on just those and
      final top-k, so output ranks are true cosine ranks whenever the
      ADC shortlist contains the true neighbors (recall grows with
      ``refine`` and ``k_codes``).

    Returns (q_id, neighbor_id, cosine, rank) like the other ANN ops.
    """
    df = pipe.df
    if dim is None:
        dim = infer_vec_dim(df, vec_col, "ann_pq_topk")
    books = pq_fit(df, vec_col, dim, m=m, k_codes=k_codes, seed=seed)
    # round-10: the candidate pass carries ONLY (id, m-byte codes) — the
    # raw vector column stays out of the corpus x queries expansion and
    # the shortlist window shuffle (guide-§8 shape: decide on a
    # lightweight proxy, re-attach the payload to the k*refine survivors)
    corpus = df.select(
        F.col(id_col).alias("_nid"),
        pq_code_col(checked_vec_col(F.col(vec_col), dim, "ann_pq_topk"), books).alias("_codes"),
    )
    if queries is None:
        q = df.select(F.col(id_col).alias(query_id), F.col(vec_col).alias(query_vec))
    else:
        q = queries
    qrows = q.collect()  # query side small by contract (like brute/IVF)
    if not qrows:
        raise ValueError("ann_pq_topk: empty query set")
    lut_rows = [
        (r[query_id], qv, _pq_flat_lut(qv, books))
        for r in qrows
        for qv in ([float(x) for x in r[query_vec]],)
    ]
    spark = df.sparkSession
    qdf = _local_frame(spark, lut_rows, schema=[query_id, query_vec, "_lut"])
    # ADC over codes: sum_j LUT[j*k_codes + code_j]  (1-based element_at)
    adc = _adc_over_codes(F.col("_codes"), F.col("_lut"), m, k_codes)
    cand = (
        corpus.crossJoin(F.broadcast(qdf.select(query_id, "_lut")))
        .filter(F.col("_nid") != F.col(query_id))
        .withColumn("_adc", adc)
    )
    wa = Window.partitionBy(query_id).orderBy(F.col("_adc").asc(), F.col("_nid").asc())
    shortlist = (
        cand.withColumn("_arank", F.row_number().over(wa))
        .filter(F.col("_arank") <= k * refine)
        .select(query_id, "_nid", "_adc")
    )
    # exact re-rank: re-attach vectors to the tiny shortlist (broadcast
    # hash join against a pruned (id, vec) scan — the corpus is never
    # shuffled) and the query vector from the broadcast query table
    vecs = df.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv"))
    scored = (
        vecs.join(F.broadcast(shortlist), "_nid")
        .join(F.broadcast(qdf.select(query_id, query_vec)), query_id)
        .withColumn("cosine", cosine_col(F.col(query_vec), F.col("_nv")))
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col("_nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id).alias("q_id"),
            F.col("_nid").alias("neighbor_id"),
            round_col("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def hard_negatives(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    positives: DataFrame,
    k: int = 10,
    queries: DataFrame | None = None,
    query_id: str = "q_id",
    query_vec: str = "q_vec",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training: for each
    anchor, the top-``k`` most-similar corpus vectors that are NOT the
    anchor itself and NOT one of its gold positives — the negatives that
    actually move a ranking loss (random negatives are trivially easy).

    ``positives`` is the gold relation ``(q_id, pos_id)``; exclusion is
    one broadcast anti-join on the pair key BEFORE the top-k window, so
    excluded rows can never displace a returned negative. Scoring is the
    broadcast-query exact path (ann_brute_topk's shape: corpus never
    shuffles, one WindowGroupLimit top-k); corpora too large for exact
    scoring swap the candidate stage for ann_ivf_topk with an enlarged
    fetch-k and apply the same anti-join + re-rank.

    Returns (q_id, neighbor_id, cosine, rank).
    """
    corpus = pipe.df.select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_nv"))
    if queries is None:
        q = pipe.df.select(
            F.col(id_col).alias(query_id), F.col(vec_col).alias(query_vec)
        )
    else:
        q = queries
    pos = positives.select(
        F.col(positives.columns[0]).alias(query_id),
        F.col(positives.columns[1]).alias("_nid"),
    )
    joined = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col("_nid") != F.col(query_id))
        .join(F.broadcast(pos), [query_id, "_nid"], "left_anti")
    )
    scored = joined.withColumn("cosine", cosine_col(F.col(query_vec), F.col("_nv")))
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col("_nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id).alias("q_id"),
            F.col("_nid").alias("neighbor_id"),
            round_col("cosine", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ------------------------------------------------------ k-center coreset ----
def kcenter_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed_id: int | None = None,
    argmax_round: int | None = 6,
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over an
    embedding column: pick the corpus's ``k`` most mutually-distant
    points — the classic 2-approximation to the k-center objective
    (Gonzalez 1985) used for DIVERSE training-subset selection (the
    complement of semantic_dedup, which removes redundancy; this keeps
    spread).

    Deterministic: the seed is the row with the smallest id (or
    ``seed_id``); every round adds the point maximizing the cosine
    DISTANCE (1 - cos) to its nearest already-chosen center, ties
    broken by smallest id.  Returns (round, id, dist) — ``dist`` is the
    selected point's distance to the previously-chosen set (round 0 =
    the seed, dist NULL), i.e. the k-center radius sequence.

    100 TB design: unit vectors are normalized and cached ONCE; each of
    the k-1 rounds is one scan — the chosen center's vector rides along
    as a broadcast literal, the per-row running min-distance column is
    updated in place (JVM ``zip_with`` dot product), and the argmax is
    an ORDER-BY-LIMIT-1, not a global sort.  Driver state is k ids and
    k vectors — nothing corpus-sized ever collects.  Cost is k scans of
    a cached columnar relation; for k beyond ~100, pre-reduce with
    ann_ivf assignments and run k-center on cell centroids instead.

    ``argmax_round`` (default 6) rounds the argmax SORT KEY to that
    many decimals (DuckDB-portable ``round_col``) before comparing,
    ties still broken by smallest id.  A greedy chain compared across
    runs or engines on unrounded doubles is one near-tie away from
    flipping the whole remaining pick sequence even when both
    implementations are correct — rounding at 6 decimals makes the pick
    sequence stable under repartitioning / sum-order 1-ulp noise
    (round-6 ADVICE; default flipped per round-7 VERDICT #8).  Pass
    ``argmax_round=None`` for full-precision keys.
    """
    from pyspark.sql import Row

    if k < 1:
        raise ValueError("kcenter_select: k must be >= 1")
    unit = (
        df.select(F.col(id_col).alias("_id"), l2_normalize_col(F.col(vec_col)).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .localCheckpoint(eager=True)
    )
    if seed_id is None:
        seed = unit.orderBy(F.col("_id").asc()).limit(1).collect()
    else:
        seed = unit.filter(F.col("_id") == seed_id).limit(1).collect()
    if not seed:
        raise ValueError("kcenter_select: empty input (or seed_id not found)")
    chosen = [(0, seed[0]["_id"], None)]
    # each picked center enters the plan once, as one literal
    center_lits = [_double_array(seed[0]["_v"])]

    # round-10: the running min-distance column is an ACCUMULATED
    # EXPRESSION over the one cached unit-vector relation — each round is
    # a single ORDER-BY-LIMIT-1 job; the old per-round localCheckpoint
    # re-materialized the whole relation every round (k full writes and
    # twice the driver jobs) for the same answers. F.least chains are
    # exactly the old incremental least (min is associative), so the pick
    # sequence is bit-identical.
    for rnd in range(1, k):
        dists = [F.lit(1.0) - dot_col(F.col("_v"), c) for c in center_lits]
        dist = F.least(*dists) if len(dists) > 1 else dists[0]
        cur = unit.filter(
            ~F.col("_id").isin([i for _, i, _ in chosen])
        ).withColumn("_d", dist)
        key = (
            round_col(F.col("_d"), argmax_round)
            if argmax_round is not None
            else F.col("_d")
        )
        top = cur.orderBy(key.desc(), F.col("_id").asc()).limit(1).collect()
        if not top:
            break
        nid, nd = top[0]["_id"], float(top[0]["_d"])
        chosen.append((rnd, nid, nd))
        center_lits.append(_double_array(top[0]["_v"]))
    # the cached unit relation is scratch — the result below is built
    # from driver-side rows
    unpersist_checkpoint(unit)
    spark = df.sparkSession
    return _local_frame(
        spark,
        [Row(round=r, id=i, dist=d) for r, i, d in chosen],
        schema="round int, id bigint, dist double",
    )


def mmr_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec: Sequence[float],
    k: int,
    lam: float = 0.7,
    argmax_round: int | None = 6,
) -> DataFrame:
    """Maximal Marginal Relevance top-k (Carbonell & Goldstein 1998):
    greedily pick ``k`` results trading query relevance against
    redundancy with the already-picked set —

        score(c) = lam * cos(q, c) - (1 - lam) * max_{s in S} cos(s, c)

    ``lam=1`` degenerates to brute-force top-k; ``lam=0`` to pure
    diversity (kcenter_select's complement-free cousin). The canonical
    use here: picking a diverse context/training subset from an ANN
    candidate pool instead of k near-identical top hits.

    Deterministic: ties break by smallest id; round 0's max-sim term is
    0 (empty picked set), so every round is the SAME argmax — no seeded
    special case. Returns (round, id, rel, mmr): ``rel`` = cosine to the
    query, ``mmr`` = the score the pick won its round with.

    100 TB design (kcenter_select's loop shape): unit vectors, the
    relevance column, and the running max-sim column live in ONE cached
    relation scanned k times; each chosen vector rides into the next
    round as a broadcast literal updating max-sim in place (JVM
    ``zip_with`` dot), the argmax is ORDER-BY-LIMIT-1 (WindowGroupLimit
    class, never a global sort), and driver state is k ids + k vectors.
    Run it on an ANN candidate pool (ann_topk/ann_ivf with generous k'),
    not the raw corpus, when the corpus is petabyte-scale.

    ``argmax_round`` (default 6) rounds the argmax SORT KEY — see
    :func:`kcenter_select`: a greedy chain on unrounded doubles is one
    near-tie away from flipping every later pick; 6-dp keys make the
    sequence stable under repartitioning and cross-engine 1-ulp noise
    (``argmax_round=None`` restores full precision)."""
    from pyspark.sql import Row

    if k < 1:
        raise ValueError("mmr_select: k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("mmr_select: lam must be in [0, 1]")
    q_unit = l2_normalize_col(_double_array(query_vec))
    # round-10: ONE cached relation scanned k times — the running max-sim
    # column is an ACCUMULATED EXPRESSION (F.greatest chain == the old
    # incremental greatest: max is associative, picks bit-identical), so
    # each round is a single ORDER-BY-LIMIT-1 job instead of a
    # localCheckpoint re-materialization of the whole relation plus the
    # argmax job.
    unit = (
        df.select(
            F.col(id_col).alias("_id"),
            l2_normalize_col(F.col(vec_col)).alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .withColumn("_rel", dot_col(F.col("_v"), q_unit))
        .localCheckpoint(eager=True)
    )
    chosen: list[tuple[int, int, float, float]] = []
    picked_lits: list[Column] = []
    for rnd in range(k):
        # the 0.0 seed term reproduces the original running-column
        # initialization: the max-sim term never goes negative (an
        # anti-correlated pick must not ADD to the score)
        ms = F.greatest(
            F.lit(0.0),
            *[dot_col(F.col("_v"), pv) for pv in picked_lits],
        ) if picked_lits else F.lit(0.0)
        score = (
            F.lit(float(lam)) * F.col("_rel") - F.lit(1.0 - float(lam)) * ms
        )
        cur = unit
        if chosen:
            cur = cur.filter(~F.col("_id").isin([i for _, i, _, _ in chosen]))
        key = (
            round_col(F.col("_score"), argmax_round)
            if argmax_round is not None
            else F.col("_score")
        )
        top = (
            cur.withColumn("_score", score)
            .orderBy(key.desc(), F.col("_id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        nid, nrel, nscore = top[0]["_id"], float(top[0]["_rel"]), float(top[0]["_score"])
        chosen.append((rnd, nid, nrel, nscore))
        picked_lits.append(_double_array(top[0]["_v"]))
    unpersist_checkpoint(unit)
    spark = df.sparkSession
    return _local_frame(
        spark,
        [Row(round=r, id=i, rel=rel, mmr=m) for r, i, rel, m in chosen],
        schema="round int, id bigint, rel double, mmr double",
    )


# ---------------------------------------------------------------- PCA ----
def _pca_moment_row(d_df: DataFrame, dim: int) -> tuple[int, "object", "object"]:
    """(n, sum vector [d], Gram [d*d]) of an embedding relation, reduced to
    ONE row IN SPARK before anything collects.

    Stage 1: one ``mapInPandas`` pass emits a partial (n, s, g) row per
    Arrow batch (blocked numpy, never rows-at-a-time). Stage 2: the
    partial rows element-wise-sum JVM-side into 32 buckets, then into one
    global row (``zip_with`` adds inside ``aggregate(collect_list)`` —
    the optim.py tree-merge idiom). The driver receives exactly ONE
    O(d^2) row; at 10B rows / 10k-row batches the old per-batch collect
    was O(num_batches * d^2) ≈ 32 GB to the driver for d=64."""
    import numpy as np
    import pandas as pd

    def partial(batches):
        _drop_zip_importers()
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    parts = d_df.mapInPandas(partial, schema="n long, s array<double>, g array<double>")
    add = lambda a, b: F.zip_with(a, b, lambda x, y: x + y)  # noqa: E731

    def asum(c: str, ln: int):
        return F.aggregate(
            F.collect_list(c), F.array_repeat(F.lit(0.0), ln), add
        ).alias(c)

    bucketed = (
        parts.groupBy(F.pmod(F.spark_partition_id(), F.lit(32)).alias("_b"))
        .agg(asum("s", dim), asum("g", dim * dim), F.sum("n").alias("n"))
        .drop("_b")
    )
    row = bucketed.agg(asum("s", dim), asum("g", dim * dim), F.sum("n").alias("n")).collect()[0]
    n = int(row["n"] or 0)
    return n, np.array(row["s"]), np.array(row["g"])


def pca_moments(df: DataFrame, vec_col: str) -> DataFrame:
    """The distributed half of :func:`pca_fit` as an oracle-able relation:
    one row per Gram cell — (i, j, n, mean_i, mean_j, gram) with 1-based
    indices, gram = sum over rows of v[i]*v[j]. Everything that can
    silently break at scale (the batch partials, the JVM tree reduction)
    is hash-checkable against a SQL twin; only the driver-side d x d
    ``eigh`` stays under its numpy pytest."""
    from seafan_spark.rounding import round_col

    d_df = df.select(F.col(vec_col).alias("_v")).filter(F.col("_v").isNotNull())
    dim = infer_vec_dim(d_df, "_v", "pca_moments")
    n, s, g = _pca_moment_row(d_df, dim)
    mean = (s / n) if n else s
    rows = [
        (i + 1, j + 1, n, float(mean[i]), float(mean[j]), float(g[i * dim + j]))
        for i in range(dim)
        for j in range(dim)
    ]
    out = _local_frame(
        df.sparkSession,
        rows, "i int, j int, n bigint, mean_i double, mean_j double, gram double"
    )
    return out.select(
        "i",
        "j",
        "n",
        round_col(F.col("mean_i"), 6).alias("mean_i"),
        round_col(F.col("mean_j"), 6).alias("mean_j"),
        round_col(F.col("gram"), 6).alias("gram"),
    )


def pca_fit(
    df: DataFrame,
    vec_col: str,
    k: int = 8,
    center: bool = True,
) -> dict:
    """Fit a PCA model over an embedding column: top-``k`` principal
    components of the (optionally centered) covariance.  The standard
    pre-conditioner for the ANN stack — IVF/PQ cluster better and
    buckets balance better in a decorrelated, variance-ordered basis.

    Returns ``{"mean": [d], "components": [k][d], "explained": [k],
    "n": int}`` with a deterministic sign convention (each component's
    largest-|coordinate| is positive, ties to the lower index).

    100 TB design: one ``mapInPandas`` pass emits ONE partial Gram row
    per Arrow batch (n, sum vector, d*d Gram) — numpy touches batches,
    never rows-at-a-time, the same Python quarantine as optim.py's
    gradient passes; the partials element-wise-sum IN SPARK down to one
    O(d^2) row (``_pca_moment_row``) and the driver only
    eigendecomposes a d x d matrix.  Nothing corpus-sized — and nothing
    batch-count-sized — ever collects; cost is one corpus scan
    regardless of k.
    """
    import numpy as np

    d_df = df.select(F.col(vec_col).alias("_v")).filter(F.col("_v").isNotNull())
    dim = infer_vec_dim(d_df, "_v", "pca_fit")
    n, s, g = _pca_moment_row(d_df, dim)
    if n == 0:
        raise ValueError("pca_fit: empty input")
    g = g.reshape(dim, dim)
    mean = s / n
    cov = g / n - (np.outer(mean, mean) if center else 0.0)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps, expl = [], []
    for idx in order:
        v = vecs[:, idx]
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        comps.append([float(x) for x in v])
        expl.append(float(max(vals[idx], 0.0)))
    tot = float(np.clip(vals, 0.0, None).sum()) or 1.0
    return {
        "mean": [float(x) for x in (mean if center else np.zeros(dim))],
        "components": comps,
        "explained": [e / tot for e in expl],
        "n": int(n),
    }


def pca_project_col(vec: Column, model: dict) -> Column:
    """Project an embedding onto the fitted components — pure JVM
    higher-order arithmetic (centered dot product per component), no
    Python in the row path; the model rides in as array literals
    (k*d doubles — kilobytes)."""
    mean = _double_array(model["mean"])
    centered = F.zip_with(vec, mean, lambda a, b: a - b)
    dots = [
        F.aggregate(
            F.zip_with(
                centered,
                _double_array(comp),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in model["components"]
    ]
    return F.array(*dots)


def pca_project(df: DataFrame, vec_col: str, model: dict, out_col: str = "pca") -> DataFrame:
    """Attach the PCA projection of ``vec_col`` as ``out_col``."""
    return df.withColumn(out_col, pca_project_col(F.col(vec_col), model))


def cluster_silhouette(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | None = None,
    centroids: str = "kmeans",
    seed: int = 42,
    max_iter: int = 20,
    dim: int | None = None,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette over an embedding column — the
    clustering-quality companion to semantic_dedup / ann_ivf (is the
    coarse quantizer actually separating the corpus, or are the cells
    arbitrary?).

    Exact silhouette (Rousseeuw 1987) is O(N²) pairwise; this is the
    standard linear-time centroid simplification (Hruschka et al. 2004,
    a(i)/b(i) measured to centroids instead of point sets): per row,
    a = cosine distance (1 − cos) to the row's OWN centroid, b = the
    minimum distance to any OTHER centroid, s = (b − a) / max(a, b)
    (0 when both are 0). Returns one row per cluster:
    (cluster, n, mean_sil, min_sil) ordered by cluster.

    Quantization reuses the SemDeDup family's `_semantic_assign`
    (``centroids="seeds"`` = deterministic, SQL-replayable;
    ``"kmeans"`` = the MLlib scale path; ``n_clusters=None`` → ≈√N). Its
    centroid table is unit-norm and each row's cell is its max-cosine
    centroid, so a is never above b and no silhouette is negative: it
    measures how far the nearest OTHER centroid trails the own one
    (0 = the row sits on a cell boundary).

    100 TB design: NO pairwise stage and NO join — the k-row centroid
    table rides into the scan as one array-of-structs literal (the
    cosine scoring of ``dedup._assign_to_centroids``, built in a fixed
    number of gateway calls), per-row distances are one JVM `transform`
    over it (k fold dot products), and the result is one map-side-partial
    aggregation keyed by the ≤k cluster ids. Driver state is the k×dim
    centroid table (the same object the quantizer already materializes).
    There is no k limit: the k > 4096 refusal guarded the build cost of
    a literal made one element at a time, which the one-literal form does
    not have. Over 2,000 rows of dim 64 with k=512 it builds in 1.1-1.2 s
    (31-34 s one element at a time) and runs in 13-16 s either way; the
    run grows as k x rows, like any exact centroid scoring.
    """
    from seafan_spark.llmops.dedup import _centroid_cosines, _semantic_assign

    assigned, cents = _semantic_assign(
        df, id_col, vec_col, n_clusters, centroids, seed, max_iter, dim
    )
    rows = cents.collect()  # k rows by construction — never corpus-sized
    if len(rows) < 2:
        raise ValueError(
            "cluster_silhouette: needs >= 2 clusters (silhouette is "
            "undefined for k=1)"
        )
    dists = F.transform(
        _centroid_cosines(
            F.col("_v"), rows, cents.schema["_cell"].dataType.simpleString()
        ),
        lambda s: F.struct(
            s["cell"].alias("cell"), (F.lit(1.0) - s["cos"]).alias("d")
        ),
    )
    # let-bind the k-distance array, then (own, other), via transform
    # singletons (round-10): HOFs are CodegenFallback, so codegen's
    # subexpression elimination never deduplicates them — the previous
    # expression re-ran the k x dim dot-product transform once per
    # reference (own twice via filter, other once, and the whole pair
    # three more times inside the silhouette formula: ~6 full transforms
    # per row). Each lambda variable is evaluated exactly once.
    def _sil(oo: Column) -> Column:
        return F.when(
            F.greatest(oo["own"], oo["other"]) <= F.lit(0.0), F.lit(0.0)
        ).otherwise(
            (oo["other"] - oo["own"]) / F.greatest(oo["own"], oo["other"])
        )

    sil = F.element_at(
        F.transform(
            F.array(dists),
            lambda ds: F.element_at(
                F.transform(
                    F.array(
                        F.struct(
                            F.element_at(
                                F.filter(
                                    ds, lambda s: s["cell"] == F.col("_cell")
                                ),
                                1,
                            )["d"].alias("own"),
                            F.array_min(
                                F.transform(
                                    F.filter(
                                        ds,
                                        lambda s: s["cell"] != F.col("_cell"),
                                    ),
                                    lambda s: s["d"],
                                )
                            ).alias("other"),
                        )
                    ),
                    _sil,
                ),
                1,
            ),
        ),
        1,
    )
    return (
        assigned.withColumn("_s", sil)
        .groupBy(F.col("_cell").cast("bigint").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("_s").alias("mean_sil"),
            F.min("_s").alias("min_sil"),
        )
        .orderBy("cluster")
    )
