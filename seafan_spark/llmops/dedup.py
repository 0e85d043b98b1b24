"""Deduplication operators — exact and near-duplicate, shuffle-conscious.

Candidate generation never goes O(n^2): exact dedup is a hash groupBy;
MinHash/SimHash generate candidates by banding (equi-join on small band
keys); n-gram Jaccard joins on shared (frequency-capped) n-grams. All
signature math is JVM higher-order functions — no Python in the row path.

Connected components over candidate edges (:func:`minhash_clusters`)
run as a driver union-find while the edge list holds at most
``CLUSTER_DRIVER_EDGE_CAP`` rows, and as distributed min-label
propagation with pointer jumping above it (O(log diameter) rounds;
near-dup clusters are shallow in practice).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from seafan_spark.rounding import round_col
from seafan_spark.session import (
    _drop_zip_importers,
    _local_frame,
    _plan_literal,
    unpersist_checkpoint,
)

from seafan_spark.llmops.text import fingerprint_col, hash60_col, shingles_col, word_ngrams_col
from seafan_spark.pipeline import Pipeline

#: modulus for the minhash mixing family — Mersenne prime 2^61-1, the
#: field datasketch-style MinHash mixes in. The WIDE field matters for
#: estimator quality, not just range: mixing the 60-bit base hash in a
#: 31-bit field ((a*h+c) mod 2^31-1) left so little scrambling per map
#: that for some constant draws a high-document-frequency shingle became
#: the argmin of many documents at once — positions correlated, and
#: est_jaccard inflated ~0.22 vs a true mean jaccard of 0.17 on the test
#: corpus, admitting ~70 false near-dup pairs at threshold 0.5 per 500
#: docs (measured round 3; the hash-check oracle reproduced the same
#: biased arithmetic, so only a statistical audit caught it). In the
#: 61-bit field each affine map wraps ~a/2^61 of the way around per unit
#: step — an effectively fresh permutation per mixer — and the measured
#: estimator matches the independent-hash gold standard.
MERSENNE61 = (1 << 61) - 1
_LOW31 = (1 << 31) - 1
_LOW30 = (1 << 30) - 1


def minhash_mixers(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """The (a, c) constants of the minhash universal-hash family
    ``h_i(x) = (a_i * x + c_i) mod (2^61-1)`` — driver-generated, inlined
    as plan literals, and exposed so external twins (the DuckDB oracle)
    can mix with identical constants (DuckDB side: HUGEINT multiply,
    Spark side: :func:`_mix61_col` split arithmetic)."""
    rng = random.Random(f"minhash61:{num_hashes}:{seed}")
    return [
        (rng.randrange(1, MERSENNE61), rng.randrange(0, MERSENNE61))
        for _ in range(num_hashes)
    ]


def signature_scheme_tag(
    num_hashes: int, shingle_k: int = 5, portable: bool = False, seed: int = 42
) -> str:
    """Version tag identifying a signature store's scheme — persist this
    next to any table written by :func:`minhash_signatures` and compare
    on read: signatures from different schemes (field size, mixer seed,
    base-hash mode, shingle width) are NOT comparable, and mixing them
    silently estimates jaccard ~ 0 instead of erroring."""
    base = "md5" if portable else "xxhash60"
    return f"minhash61:{num_hashes}:{seed}:k{shingle_k}:{base}"


def _mix61_parts(hh: Column, hl: Column, ah: Column, al: Column, c: Column) -> Column:
    """``(a*h + c) mod 2^61-1`` for ``h = hh*2^31 + hl`` (``h < 2^60``) and
    ``a = ah*2^31 + al``, in pure non-overflowing signed-64 Column
    arithmetic (safe under ANSI mode, exact in any engine — no 128-bit
    multiply needed).

    Schoolbook split:
    ``a*h = ah*hh*2^62 + (ah*hl + al*hh)*2^31 + al*hl``; reduce each term
    with the Mersenne identity ``2^61 ≡ 1 (mod M)`` (so ``2^62 ≡ 2`` and
    ``x*2^31 ≡ (x>>30) + (x & (2^30-1))*2^31``). Every intermediate stays
    below 2^63: t1 < 2^60, cross < 2^62, t2 < 2^61+2^32, t3 < 2^61+2,
    total < 3.5*2^61."""
    t1 = F.lit(2) * ah * hh
    cross = ah * hl + al * hh
    t2 = F.shiftrightunsigned(cross, 30) + F.shiftleft(
        cross.bitwiseAND(F.lit(_LOW30)), 31
    )
    t3raw = al * hl
    t3 = F.shiftrightunsigned(t3raw, 61) + t3raw.bitwiseAND(F.lit(MERSENNE61))
    tot = t1 + t2 + t3 + c
    r = F.shiftrightunsigned(tot, 61) + tot.bitwiseAND(F.lit(MERSENNE61))
    return F.when(r >= MERSENNE61, r - MERSENNE61).otherwise(r)


def _mix61_col(hh: Column, hl: Column, a: int, c: int) -> Column:
    """Literal-constant form of :func:`_mix61_parts` for one (a, c) draw."""
    ah, al = a >> 31, a & _LOW31
    return _mix61_parts(hh, hl, F.lit(ah), F.lit(al), F.lit(c))


def _mixer_struct_array(mixers: list[tuple[int, int]]) -> Column:
    """The mixer constants as ONE array<struct<ah,al,c>> literal, pre-split
    for :func:`_mix61_parts`. Mixing all ``num_hashes`` values via a single
    ``F.transform`` over this array keeps the generated code one small loop
    body instead of ``num_hashes`` unrolled copies of the split arithmetic
    — an order of magnitude less janino/JIT work per fresh plan shape, and
    measurably faster steady-state too (the loop stays in icache)."""
    return F.array(
        *[
            F.struct(
                F.lit(a >> 31).alias("ah"),
                F.lit(a & _LOW31).alias("al"),
                F.lit(c).alias("c"),
            )
            for a, c in mixers
        ]
    )


# ---------------------------------------------------------------- exact ----
def exact_dedup(pipe: Pipeline, text_col: str, id_col: str) -> Pipeline:
    """Exact dedup on the normalized-text fingerprint: adds

    - ``fp``       md5 fingerprint
    - ``dup_count`` group size
    - ``is_dup``   1.0 for every row except the group's min-id keeper

    One shuffle (window by fingerprint)."""
    d = pipe.df.withColumn("fp", fingerprint_col(F.col(text_col)))
    w = Window.partitionBy("fp")
    wo = Window.partitionBy("fp").orderBy(F.col(id_col))
    d = (
        d.withColumn("dup_count", F.count(F.lit(1)).over(w))
        .withColumn("_rn", F.row_number().over(wo))
        .withColumn("is_dup", (F.col("_rn") > 1).cast("double"))
        .drop("_rn")
    )
    return pipe._derive(d)


def drop_exact_dups(pipe: Pipeline, text_col: str, id_col: str) -> Pipeline:
    """Keep one (min-id) row per distinct normalized text."""
    marked = exact_dedup(pipe, text_col, id_col)
    return marked.filter(F.col("is_dup") == 0.0)


# -------------------------------------------------------------- minhash ----
def minhash_signature_col(
    text: Column, num_hashes: int = 64, shingle_k: int = 5, portable: bool = False
) -> Column:
    """MinHash signature as a column expression: for each mixer i, min over
    character shingles of ``(a_i * hash60(shingle) + c_i) mod 2^61-1``.
    One string hash per shingle; per-seed values are literal-constant
    integer arithmetic (``minhash_mixers`` + ``_mix61_col``), not repeated
    string hashing. ``portable=True`` uses the md5-based base hash so the
    whole signature is engine-portable (DuckDB twin mixes with the same
    constants); the default xxhash64 base is the production path — same
    mixers, ~an order of magnitude cheaper in the per-shingle hot loop.

    Column-expression form (array fold). For the scalable bulk path over a
    whole corpus use :func:`minhash_signatures` (explode + groupBy:
    whole-stage codegen + map-side partial aggregation)."""
    mixers = minhash_mixers(num_hashes)
    hs = F.transform(
        shingles_col(text, k=shingle_k),
        lambda s: hash60_col(s, portable=portable),
    )

    # bind the hash array ONCE via transform-over-singleton (Column `let`):
    # referencing `hs` inside the mixer transform would inline the whole
    # string-hash pass num_hashes times per row. The outer transform over
    # the literal mixer array generates the split arithmetic once as a
    # loop body (see _mixer_struct_array) instead of num_hashes unrolled
    # copies.
    return F.element_at(
        F.transform(
            F.array(hs),
            lambda hsb: F.transform(
                _mixer_struct_array(mixers),
                lambda m: F.array_min(
                    F.transform(
                        hsb,
                        lambda h: _mix61_parts(
                            F.shiftrightunsigned(h, 31),
                            h.bitwiseAND(F.lit(_LOW31)),
                            m["ah"], m["al"], m["c"],
                        ),
                    )
                ),
            ),
        ),
        F.lit(1),
    )


def _exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, portable: bool = False
) -> DataFrame:
    """(doc id, base shingle hash) pairs: one row per distinct shingle,
    one string hash each. The downstream groupBy(doc) aggregations are all
    cheap long arithmetic inside whole-stage codegen.

    Shingling + hashing is the CPU-heavy stage, so the doc rows are spread
    across the cluster first if the source arrived under-partitioned (a
    single small parquet file reads as one partition; the shuffle moves
    only (id, text) rows, which is far cheaper than serializing the
    explode)."""
    from seafan_spark.partitions import spread_if_narrow

    base = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    target = df.sparkSession.sparkContext.defaultParallelism
    base = spread_if_narrow(base, target, "_id")
    return base.select(
        "_id",
        F.explode(shingles_col(F.col("_txt"), k=shingle_k)).alias("_sh"),
    ).select("_id", hash60_col(F.col("_sh"), portable=portable).alias("_h"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Bulk MinHash: (id, sig array<bigint>) via explode + groupBy.

    One string hash per distinct shingle; per (shingle, mixer) work is one
    multiply-add-mod on literal constants (``minhash_mixers``) + a ``min``
    partial aggregate — vectorized JVM code, partial-aggregated map-side
    so the shuffle carries ``num_hashes`` longs per doc, not per shingle.
    ``portable=True`` switches the base hash to the md5 mode so the
    signatures are engine-portable (DuckDB twin mixes with the same
    constants); default xxhash64 is the production path."""
    mixers = minhash_mixers(num_hashes)
    # (shingle row) x (mixer) via posexplode of the literal mixer array:
    # ONE small mix expression in whole-stage codegen (columns, not
    # num_hashes unrolled literal copies — the unrolled form generated so
    # much source that janino+JIT charged ~10s to every fresh plan shape,
    # and a higher-order-function variant fell out of codegen entirely and
    # ran 4x slower). Two-stage aggregation: partial min on (_id, pos)
    # combines map-side to ~num_hashes longs per doc before either
    # shuffle, so shuffle volume stays O(num_hashes) per doc — the second
    # (array assembly) shuffle moves one num_hashes-row group per doc.
    marr = _mixer_struct_array(mixers)
    ex = _exploded_shingle_hashes(df, id_col, text_col, shingle_k, portable)
    rows = ex.select(
        "_id", "_h", F.posexplode(marr).alias("_pos", "_m")
    ).select(
        "_id",
        "_pos",
        _mix61_parts(
            F.shiftrightunsigned(F.col("_h"), 31),
            F.col("_h").bitwiseAND(F.lit(_LOW31)),
            F.col("_m.ah"), F.col("_m.al"), F.col("_m.c"),
        ).alias("_v"),
    )
    mins = rows.groupBy("_id", "_pos").agg(F.min("_v").alias("_v"))
    return mins.groupBy("_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_v"))),
            lambda s: s["_v"],
        ).alias("_sig")
    )


def _bucket_pairs(banded: DataFrame, keys: list[str], payload: list[str]) -> DataFrame:
    """All unordered within-bucket candidate pairs via ONE groupBy +
    in-JVM pair explosion — the replacement for the (band, bucket)
    SELF-JOIN: the join's two sides each recompute the full upstream
    signature pipeline (AQE broadcasts one side locally, so the exchange
    is not reliably reused) and ship the banded rows through two
    exchanges; the groupBy ships them ONCE and runs the pipeline ONCE.

    Rows are collected per bucket into a sorted struct array (sorted by
    the leading payload column — the id — so emitted pairs satisfy
    a < b exactly like the join's ``id_a < id_b`` filter), then the i<j
    pairs come out of two explode levels: ``posexplode`` the array into
    (i, a), then explode ``a`` against the slice after position i. No
    single value grows past O(bucket size) — a hot bucket of m rows
    streams its m(m-1)/2 pairs instead of building them as one array.
    Returns struct columns ``_a``/``_b`` carrying ``payload``."""
    arr = F.array_sort(F.collect_list(F.struct(*payload)))
    g = banded.groupBy(*keys).agg(arr.alias("_xs")).filter(F.size("_xs") >= 2)
    return g.select("_xs", F.posexplode("_xs").alias("_i", "_a")).select(
        "_a",
        F.explode(
            F.slice(F.col("_xs"), F.col("_i") + F.lit(2), F.size("_xs"))
        ).alias("_b"),
    )


def _with_est_jaccard(
    cand: DataFrame, sig: DataFrame, num_hashes: int, broadcast: bool = False
) -> DataFrame:
    """``cand`` (id_a, id_b, ...) plus ``est_jaccard``: the fraction of
    agreeing positions of both sides' signatures, joined in from the
    (_id, _sig) table ``sig`` (broadcast when it is a small sample)."""
    for side in ("a", "b"):
        s = sig.select(F.col("_id").alias(f"id_{side}"), F.col("_sig").alias(f"sig_{side}"))
        cand = cand.join(F.broadcast(s) if broadcast else s, f"id_{side}")
    matches = F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    est = matches.cast("double") / F.lit(float(num_hashes))
    return cand.withColumn("est_jaccard", est).drop("sig_a", "sig_b")


def minhash_pairs(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    portable: bool = False,
    verify: str = "exact",
) -> DataFrame:
    """Near-duplicate pairs via LSH banding + per-candidate verification.

    signature -> ``bands`` bands of ``num_hashes/bands`` rows; docs sharing
    any band bucket become candidates (equi-join on (band, bucket));
    candidates are then verified and thresholded:

    - ``verify="exact"`` (default): TRUE jaccard over each candidate
      pair's distinct shingle hashes — precision 1.0 (recall remains the
      banding recall). Only candidate documents are re-shingled for this
      (semi-join first), so the verification cost scales with the
      candidate set, not the corpus. Returns (id_a, id_b, jaccard).
    - ``verify="est"``: fraction of agreeing signature positions — cheaper
      (no second shingle pass) and the only option when only signatures
      exist (see minhash_pairs_incremental). Returns (id_a, id_b,
      est_jaccard). Caveat measured in round 3: with any FIXED mixer
      constants, positions whose global argmin is a high-df shingle
      correlate across pairs, so on low-diversity corpora the estimate
      has fat false-positive tails near the threshold — prefer "exact"
      when the raw text is available.

    ``portable=True`` runs the md5-based base hash end-to-end (signatures,
    band buckets, and verification hashes) so a DuckDB twin reproduces the
    exact pair set; default xxhash64 is the production path.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    if verify not in ("exact", "est"):
        raise ValueError("minhash_pairs: verify must be 'exact' or 'est'")
    # round-10: no eager materialization of the signatures (the old code
    # paid a build-time checkpoint write+read job per call). In exact
    # mode their ONLY consumer is the band self-join, whose two sides are
    # structurally identical up to aliases — at scale the planner emits
    # ONE (band, bucket) exchange and reuses it (ReusedExchange under
    # sort-merge), so the explode+groupBy signature pipeline runs once;
    # locally AQE may broadcast one side (no reuse), but the duplicated
    # signature pass still measures cheaper than any materialization
    # (A/B: 7.5s eager -> 4.3s unmaterialized vs 5.8s lazy checkpoint).
    # In est mode the per-pair verification re-joins the signatures on
    # different keys (id_a/id_b — no exchange reuse possible), so there a
    # lazy persist shares the one computed copy across the three
    # consumers inside the same action (executor storage, auto-released
    # via ContextCleaner).
    # a NULL id is no document identity: grouping would merge every
    # null-id row into one signature and emit pairs with a NULL side
    docs = pipe.df.filter(F.col(id_col).isNotNull())
    sig = minhash_signatures(
        docs, id_col, text_col, num_hashes, shingle_k, portable
    )
    if verify == "est":
        sig = sig.persist()
    # the band stage carries ONLY (_id, band, bucket): shipping the
    # 64-long _sig array multiplies shuffle bytes by O(bands * sig_len);
    # verification re-attaches per *surviving* pair. Candidates come
    # from ONE (band, bucket) groupBy + pair explosion (_bucket_pairs,
    # round-11), not a self-join — the join's two sides each recomputed
    # the whole shingle+hash+minhash pipeline.
    banded = band_signatures(sig, num_hashes, bands, portable)
    cand = (
        _bucket_pairs(banded, ["band", "bucket"], ["_id"])
        .select(F.col("_a._id").alias("id_a"), F.col("_b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify == "est":
        return (
            _with_est_jaccard(cand, sig, num_hashes)
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard")
        )
    # exact verification: re-shingle ONLY candidate documents (semi-join),
    # cache their (id, hash) gram rows once — they feed the sizes
    # aggregate and both sides of the intersection join. Lazy persist,
    # not eager localCheckpoint: all consumers live inside the SAME final
    # action, so the first stage that needs each cached relation computes
    # it and the rest read it — no build-time driver jobs serializing the
    # pipeline into checkpoint-write/read round-trips.
    cand = cand.persist()
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cdocs = pipe.df.select(id_col, text_col).join(cand_ids, id_col, "semi")
    cex = _exploded_shingle_hashes(
        cdocs, id_col, text_col, shingle_k, portable
    ).persist()
    sizes = cex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    ea = cex.select(F.col("_id").alias("id_a"), "_h")
    eb = cex.select(F.col("_id").alias("id_b"), "_h")
    inter = (
        cand.join(ea, "id_a")
        .join(eb, ["id_b", "_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    return (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("_i").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_i")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", round_col("jaccard", 6).alias("jaccard"))
    )


def minhash_calibration(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    portable: bool = False,
    sample_docs: int = 64,
    salt: str = "cal",
) -> DataFrame:
    """Estimator-quality audit for the MinHash signature scheme: TRUE
    shingle jaccard vs the signature-agreement estimate over every pair
    of a deterministic document sample.

    Motivation (measured in round 3): with fixed mixer constants the
    signature positions are correlated across pairs — a position whose
    global argmin is a high-document-frequency shingle agrees for most
    pairs at once — so ``verify="est"`` thresholds can admit systematic
    false positives on low-diversity corpora while every per-pair
    expectation is still correct. This operator is the audit that
    catches that: run it on a new corpus before trusting estimate-based
    thresholds, and switch to ``verify="exact"`` (or raise num_hashes)
    when the bias or the FP count at your threshold is material.

    The sample is the ``sample_docs`` documents with the smallest md5
    hash bucket (engine/partitioning/retry-stable; a distributed top-k,
    never a full sort), so the O(sample^2) pair work never touches the
    rest of the corpus. Returns one row per sampled pair:
    (id_a, id_b, jaccard, est_jaccard, abs_err).
    """
    from seafan_spark.sampling import hash_bucket_col

    d = pipe.df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    samp = (
        d.withColumn("_bkt", hash_bucket_col(F.col("_id"), salt))
        .orderBy("_bkt", "_id")
        .limit(sample_docs)
        .drop("_bkt")
        .localCheckpoint(eager=True)  # tiny; feeds grams, sigs, pair frame
    )
    cex = _exploded_shingle_hashes(
        samp, "_id", "_txt", shingle_k, portable
    ).localCheckpoint(eager=True)
    sizes = cex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    inter = (
        cex.select(F.col("_id").alias("id_a"), "_h")
        .join(cex.select(F.col("_id").alias("id_b"), "_h"), "_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    # checkpoint: joined on both pair sides below — unmaterialized, the
    # signature explode+groupBy over the sample would execute twice
    sig = minhash_signatures(
        samp, "_id", "_txt", num_hashes, shingle_k, portable
    ).localCheckpoint(eager=True)
    pairs = (
        samp.select(F.col("_id").alias("id_a"))
        .crossJoin(samp.select(F.col("_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    pairs = (
        pairs.join(F.broadcast(inter), ["id_a", "id_b"], "left")
        .join(
            F.broadcast(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))),
            "id_b",
        )
    )
    pairs = _with_est_jaccard(pairs, sig, num_hashes, broadcast=True)
    i0 = F.coalesce(F.col("_i"), F.lit(0))
    true_j = i0.cast("double") / (F.col("_na") + F.col("_nb") - i0).cast("double")
    est = F.col("est_jaccard")
    return pairs.select(
        "id_a",
        "id_b",
        round_col(true_j, 6, expensive=True).alias("jaccard"),
        round_col(est, 6, expensive=True).alias("est_jaccard"),
        round_col(F.abs(est - true_j), 6, expensive=True).alias("abs_err"),
    )


def minhash_calibration_summary(cal: DataFrame, threshold: float = 0.5) -> DataFrame:
    """One-row summary of a :func:`minhash_calibration` frame: mean true
    jaccard, mean estimate, signed bias, MAE, and the false-positive /
    false-negative pair counts the estimate would produce at
    ``threshold``. A healthy estimator has |bias| of a few hundredths
    and FP/FN counts consistent with Binomial(num_hashes, j) noise."""
    thr = F.lit(float(threshold))
    return cal.agg(
        F.count(F.lit(1)).alias("pairs"),
        round_col(F.avg("jaccard"), 6).alias("mean_jaccard"),
        round_col(F.avg("est_jaccard"), 6).alias("mean_est"),
        round_col(F.avg(F.col("est_jaccard") - F.col("jaccard")), 6).alias("bias"),
        round_col(F.avg("abs_err"), 6).alias("mae"),
        F.sum(
            ((F.col("est_jaccard") >= thr) & (F.col("jaccard") < thr)).cast("bigint")
        ).alias("false_pos"),
        F.sum(
            ((F.col("est_jaccard") < thr) & (F.col("jaccard") >= thr)).cast("bigint")
        ).alias("false_neg"),
    )


#: edge-count ceiling for the driver union-find fast path of
#: :func:`minhash_clusters` — 2M (id, id) rows collect in well under a
#: second and the Python union-find is linear; above it the distributed
#: hook-and-jump loop runs instead.
CLUSTER_DRIVER_EDGE_CAP = 2_000_000


def _clusters_driver(edges: DataFrame) -> DataFrame:
    """Union-find on collected edges — the small-edge fast path.

    Near-dup edge lists are orders of magnitude smaller than the corpus
    (only documents with a candidate partner appear), so even at large
    corpus scale they frequently fit on the driver; this mirrors the
    guarded small-data design of ``_exact_pairs_blocked``."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = edges.collect()
    for r in rows:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the representative IS the component min-id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(x, find(x)) for x in parent]
    schema = edges.select(
        F.col("id_a").alias("id"), F.col("id_a").alias("cluster")
    ).schema
    return _local_frame(edges.sparkSession, out, schema=schema)


def minhash_clusters(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Connected components over duplicate pairs: (id, cluster) where
    cluster is the component's min id.

    Small edge lists (<= ``CLUSTER_DRIVER_EDGE_CAP`` rows) collect to a
    driver union-find. Above the cap: distributed min-label propagation with pointer jumping (each
    round hooks the min over direct neighbors, then replaces every label
    by its label's label) — converges in O(log diameter) rounds, each one
    a bounded number of joins + aggregates."""
    if max_iter < 1:
        # max_iter=0 would return a labels plan whose lineage still reads
        # the edges checkpoint that the cleanup below unpersists — any
        # later action on it would fail on the truncated lineage
        raise ValueError("minhash_clusters: max_iter must be >= 1")
    # materialize the candidate edges once — label propagation re-reads
    # them every iteration, and recomputing the upstream signature join
    # per iteration would dominate the whole computation
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    if edges.count() <= CLUSTER_DRIVER_EDGE_CAP:
        out = _clusters_driver(edges)
        unpersist_checkpoint(edges)  # result is driver rows; edges is scratch
        return out
    sym = edges.union(edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")))
    labels = (
        sym.select(F.col("id_a").alias("id"), F.col("id_b"))
        .groupBy("id")
        .agg(F.least(F.min("id_b"), F.min("id")).alias("cluster"))
        .withColumn("cluster", F.least("cluster", "id"))
    )
    cl_type = dict(labels.dtypes)["cluster"]
    prev_ck = None
    for _ in range(max_iter):
        # hook: min label over self + direct neighbors. The self row also
        # carries the round's OLD label (neighbor rows contribute NULL;
        # every id has exactly one labels row, so max() recovers it) —
        # the convergence test below then reads the checkpoint instead of
        # re-joining two corpus-sized label relations every round.
        neigh = (
            sym.join(labels, sym.id_b == labels.id)
            .select(sym.id_a.alias("id"), F.col("cluster"))
        )
        hooked = (
            labels.select("id", "cluster", F.col("cluster").alias("_old"))
            .union(neigh.withColumn("_old", F.lit(None).cast(cl_type)))
            .groupBy("id")
            .agg(F.min("cluster").alias("cluster"), F.max("_old").alias("_old"))
        )
        # jump: label <- label(label)  (path halving; labels point at ids
        # that always carry a label row, so the inner self-join is total)
        lut = hooked.select(
            F.col("id").alias("_jid"), F.col("cluster").alias("_jcl")
        )
        jumped = (
            hooked.join(lut, hooked.cluster == lut._jid)
            .select(
                "id",
                F.least("cluster", "_jcl").alias("cluster"),
                (F.least("cluster", "_jcl") != F.col("_old")).alias("_chg"),
            )
        )
        # checkpoint FIRST, then test convergence against the materialized
        # result: count-then-checkpoint would execute every iteration's
        # joins twice. The _chg flag was folded into the checkpoint, so
        # the test is a filter scan of materialized blocks — no join.
        new = jumped.localCheckpoint(eager=True)
        changed = new.filter("_chg").limit(1).count()
        # the superseded round's blocks are dead once `new` is materialized
        # and compared (labels itself is a projection now, so the raw
        # checkpoint handle is tracked separately; None on round 1)
        unpersist_checkpoint(prev_ck)
        prev_ck = new
        labels = new.drop("_chg")
        if changed == 0:
            break
    # the returned labels reads the last checkpoint (freed by
    # session.cleanup() between queries); edges fed only the loop
    unpersist_checkpoint(edges)
    return labels


# -------------------------------------------------------------- simhash ----
def simhash_bits_col(
    text: Column, bits: int = 60, shingle_k: int = 5, portable: bool = False
) -> Column:
    """SimHash over character shingles: per bit, the sign of the vote sum
    (+1/-1 per shingle's hash bit). Returns array<int> of 0/1 of length
    ``bits``. One string hash per shingle; bit b comes from bit b of that
    hash (``bits`` must be <= 60: the base hash is the portable 60-bit
    md5 hash, so signatures are engine-reproducible). Column-expression
    form; the bulk path is :func:`simhash_signatures`."""
    if bits > 60:
        raise ValueError("simhash: bits must be <= 60 (portable 60-bit base hash)")
    hashes = F.transform(
        shingles_col(text, k=shingle_k), lambda s: hash60_col(s, portable=portable)
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1).cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    return F.transform(votes, lambda v: (v > 0).cast("int"))


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Bulk SimHash: (id, sig bigint) — the ``bits``-bit signature packed
    into one long (bit b set iff a majority of shingle hashes have bit b
    set). With ``portable=True`` the base hash is the md5-based 60-bit
    mode, so signatures are bit-identical across engines (DuckDB twin);
    default xxhash64 is the production path.

    Explode + groupBy: per doc the aggregation computes ``bits`` counts of
    ``(h >> b) & 1`` — plain long arithmetic in whole-stage codegen with
    map-side partial aggregation (shuffle carries ~``bits/2`` longs + a
    count per doc). Downstream hamming math is ``bit_count(a ^ b)`` —
    O(1)."""
    if bits > 60:
        raise ValueError("simhash: bits must be <= 60 (portable 60-bit base hash)")
    ex = _exploded_shingle_hashes(df, id_col, text_col, shingle_k, portable)
    # two 32-bit counter lanes per aggregate where both lanes land inside
    # ``bits``: (h >> b) & (1 | 1<<32) counts bit b in the low lane and bit
    # b+32 in the high lane of ONE long sum — ~bits/2 aggregates instead of
    # ``bits``. No overflow/carry: each lane count <= grams-per-doc < 2^31,
    # and the total sum stays under 2^63 for any per-doc gram count Spark
    # can materialize. Bits whose +32 partner falls outside ``bits`` get a
    # plain single-bit aggregate.
    lanes = F.lit(0x0000000100000001)
    lane_bs = [b for b in range(min(32, bits)) if b + 32 < bits]
    covered = set(lane_bs) | {b + 32 for b in lane_bs}
    plain_bs = [b for b in range(bits) if b not in covered]
    counts = ex.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(lanes)).alias(f"_s{b}")
            for b in lane_bs
        ],
        *[
            F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))).alias(f"_b{b}")
            for b in plain_bs
        ],
    )
    bit_cnt = {}
    for b in lane_bs:
        bit_cnt[b] = F.col(f"_s{b}").bitwiseAND(F.lit(0xFFFFFFFF))
        bit_cnt[b + 32] = F.shiftrightunsigned(F.col(f"_s{b}"), 32)
    for b in plain_bs:
        bit_cnt[b] = F.col(f"_b{b}")
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            bit_cnt[b] * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return counts.select("_id", sig.alias("_sig"))


def hamming_distance_col(a: Column, b: Column) -> Column:
    """Hamming distance between two bit arrays."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x != y), lambda v: v))


def simhash_pairs(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    bits: int = 60,
    chunks: int = 10,
    max_hamming: int = 6,
    shingle_k: int = 5,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs: by pigeonhole, any pair within ``max_hamming`` of a
    ``bits``-bit simhash agrees exactly on at least one of ``chunks``
    equal-width chunks (chunks > max_hamming guarantees recall 1.0) —
    candidates are an equi-join on (chunk, chunk-bits), verified by true
    hamming distance."""
    if bits % chunks != 0:
        raise ValueError("simhash_pairs: chunks must divide bits (equal-width pigeonhole)")
    width = bits // chunks
    mask = F.lit((1 << width) - 1) if width < 64 else F.lit(-1).cast("long")
    # Candidates come from ONE (chunk, key) groupBy + pair explosion
    # (_bucket_pairs, round-11), not a chunk self-join: the join's two
    # sides each recomputed (or re-read) the signature pipeline and the
    # banded rows crossed two exchanges. With a single consumer the
    # round-10 lazy signature persist is no longer needed either — the
    # explode+hash+aggregate pipeline runs exactly once by construction.
    # NULL ids are dropped before grouping, as in minhash_pairs
    docs = pipe.df.filter(F.col(id_col).isNotNull())
    sig = simhash_signatures(docs, id_col, text_col, bits, shingle_k, portable)
    banded = sig.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("_sig"), c * width)
                        .bitwiseAND(mask)
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cb"),
    ).select("_id", "_sig", "cb.chunk", "cb.key")
    cand = (
        _bucket_pairs(banded, ["chunk", "key"], ["_id", "_sig"])
        .select(
            F.col("_a._id").alias("id_a"),
            F.col("_a._sig").alias("sig_a"),
            F.col("_b._id").alias("id_b"),
            F.col("_b._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------------- n-gram jaccard ----
def contamination_check(
    corpus,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination detection: corpus documents sharing at
    least ``min_shared`` distinct word ``n``-grams with any benchmark
    document (the standard eval-decontamination screen, e.g. GPT-3
    appendix C / PaLM-style 8-gram overlap).

    Scale shape: the benchmark side is tiny (eval sets are thousands of
    rows) — its exploded gram table is BROADCAST, so the corpus is never
    shuffled at all: explode corpus grams -> broadcast hash join ->
    per-(doc, bench) distinct-gram count. Returns one row per
    contaminated (corpus doc, benchmark doc) pair with the overlap
    count.
    """
    return _contamination(
        corpus, benchmark, id_col, text_col, bench_id, bench_text, n, min_shared
    )


def _contamination(
    corpus,
    benchmark,
    id_col: str,
    text_col: str,
    bench_id: str,
    bench_text: str,
    n: int,
    min_shared: int,
    bloom: tuple[int, int] | None = None,
) -> DataFrame:
    """The contamination screen behind :func:`contamination_check`; with
    ``bloom=(num_hashes, bits_per_item)`` the corpus gram stream is first
    cut by a Bloom filter of the benchmark grams
    (:func:`contamination_check_bloom`)."""
    c = getattr(corpus, "df", corpus)
    b = getattr(benchmark, "df", benchmark)
    cg = c.select(
        F.col(id_col).alias("_cid"),
        F.explode(word_ngrams_col(F.col(text_col), n)).alias("_g"),
    )
    bg = b.select(
        F.col(bench_id).alias("_bid"),
        F.explode(word_ngrams_col(F.col(bench_text), n)).alias("_g"),
    ).distinct()
    if bloom is not None:
        num_hashes, bits_per_item = bloom
        words, nbits = gram_bloom_filter(
            bg, "_g", num_hashes=num_hashes, bits_per_item=bits_per_item
        )
        bfdf = _local_frame(c.sparkSession, [(words,)], schema="_bf: array<long>")
        cg = (
            cg.crossJoin(F.broadcast(bfdf))
            .filter(bloom_might_contain(F.col("_bf"), nbits, F.col("_g"), num_hashes))
            .drop("_bf")
        )
    hits = (
        cg.join(F.broadcast(bg), "_g")
        .groupBy("_cid", "_bid")
        .agg(F.count_distinct("_g").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )
    return hits.select(
        F.col("_cid").alias(id_col),
        F.col("_bid").alias(bench_id),
        F.col("shared_ngrams").cast("bigint").alias("shared_ngrams"),
    )


def gram_bloom_filter(
    grams: DataFrame,
    gram_col: str = "_g",
    num_hashes: int = 7,
    bits_per_item: int = 16,
    min_bits: int = 1024,
) -> tuple[list[int], int]:
    """Build a Bloom filter over a (small-side) gram relation as a dense
    ``int64`` word list plus its power-of-two bit count.

    Distributed build: each distinct gram contributes ``num_hashes`` bit
    positions (``xxhash64(gram, seed) & (nbits-1)``); positions fold to
    ``(word, 1<<bit)`` rows and a single ``groupBy(word).agg(bit_or)``
    with map-side partial aggregation produces at most ``nbits/64`` rows
    — kilobytes for a million-gram benchmark — which densify driver-side
    like the PQ codebooks / JL weight tables: the filter is a *statistic*
    of the small side, so only ``nbits/64`` longs ever cross the driver.

    ``bits_per_item=16`` with 7 hashes gives ~0.05% false positives
    (standard Bloom calculus, k ≈ 0.7·bits/item) — and callers here use
    the filter only as a lossless prefilter before an exact check, so FP
    rate affects cost, never results.
    """
    n_items = grams.select(gram_col).distinct().count()
    nbits = min_bits
    while nbits < n_items * bits_per_item:
        nbits *= 2
    mask = nbits - 1
    g = F.col(gram_col)
    contrib = grams.select(
        F.explode(
            F.array(
                *[
                    (F.xxhash64(g, F.lit(i)).bitwiseAND(F.lit(mask)))
                    for i in range(num_hashes)
                ]
            )
        ).alias("_pos")
    ).select(
        F.shiftrightunsigned(F.col("_pos"), 6).alias("_w"),
        (F.col("_pos").bitwiseAND(F.lit(63))).alias("_b"),
    )
    words_sparse = (
        contrib.select("_w", F.expr("shiftleft(1L, _b)").alias("_m"))
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_word"))
        .collect()
    )
    words = [0] * (nbits // 64)
    for r in words_sparse:
        words[int(r["_w"])] = int(r["_word"])
    return words, nbits


def bloom_might_contain(bf_col: Column, nbits: int, value: Column, num_hashes: int = 7) -> Column:
    """Membership probe against a Bloom filter held as an ``array<long>``
    column (one broadcast row): true iff all ``num_hashes`` bits are set.
    Pure JVM bit arithmetic — ``xxhash64`` + ``getbit`` — so the probe
    runs map-side inside whole-stage codegen; no join, no shuffle."""
    checks = []
    for i in range(num_hashes):
        pos = F.xxhash64(value, F.lit(i)).bitwiseAND(F.lit(nbits - 1))
        word = F.element_at(bf_col, (F.shiftrightunsigned(pos, 6) + 1).cast("int"))
        checks.append(F.getbit(word, pos.bitwiseAND(F.lit(63))) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def contamination_check_bloom(
    corpus,
    benchmark,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id: str = "bench_id",
    bench_text: str = "text",
    n: int = 8,
    min_shared: int = 1,
    num_hashes: int = 7,
    bits_per_item: int = 16,
) -> DataFrame:
    """:func:`contamination_check` with a Bloom prefilter on the corpus
    gram stream — identical results (the filter only *pre*-screens; every
    surviving gram is still exactly verified by the gram equi-join), so
    the exact-SQL oracle is shared verbatim.

    Why it matters at 100 TB: the exact screen broadcasts the benchmark
    gram table (say 10M grams ≈ 1 GB of strings) into a hash join that
    every corpus gram — trillions of them — must probe. Here the
    benchmark compresses to a Bloom bitmap ~100× smaller (16 bits/gram ≈
    20 MB), broadcast as ONE row; the corpus gram stream is cut by the
    filter *inside its own scan stage* (map-side, whole-stage codegen,
    ~0.05% false positives) and only the surviving sliver — true hits
    plus FP noise — reaches the string join. When the benchmark side is
    too big to broadcast as a join table at all, this is the difference
    between a full corpus shuffle and none.
    """
    return _contamination(
        corpus, benchmark, id_col, text_col, bench_id, bench_text, n, min_shared,
        bloom=(num_hashes, bits_per_item),
    )


def _capped_grams(
    pipe: Pipeline, id_col: str, text_col: str, n: int, max_df: int
) -> DataFrame:
    """(g, _id, count) rows: each document's word ``n``-grams with the
    gram's document frequency ``count``, keeping only grams seen in at
    most ``max_df`` docs — the one vocabulary both n-gram candidate
    stages work over.

    Tokenization is the CPU-heavy stage, so the doc rows are spread first
    if the source arrived under-partitioned (a single small parquet file
    reads as one partition). The EXPLODED (id, gram) table is then
    localCheckpointed: it feeds the df aggregate and every downstream
    branch, so tokenization runs once and nothing re-serializes large
    arrays. localCheckpoint (not persist): blocks live in executor storage
    and are auto-released when the DataFrame is dereferenced, so repeated
    calls in a long-lived session don't accumulate cached plans in the
    session CacheManager."""
    from seafan_spark.partitions import spread_if_narrow

    raw = pipe.df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
    target = pipe.df.sparkSession.sparkContext.defaultParallelism
    raw = spread_if_narrow(raw, target, "_id")
    ex = raw.select(
        "_id", F.explode(word_ngrams_col(F.col("_txt"), n)).alias("g")
    ).localCheckpoint(eager=True)
    dfreq = ex.groupBy("g").count().filter(F.col("count") <= max_df)
    return ex.join(F.broadcast(dfreq), "g")


def _ngram_pair_stats(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    n: int,
    max_df: int,
) -> DataFrame:
    """Shared candidate stage for word-n-gram set-overlap metrics: returns
    ``(id_a, id_b, inter, na, nb)`` over the df-capped gram vocabulary.

    (id, ngram) exploded -> n-grams seen in more than ``max_df`` docs are
    dropped (stop-grams: they generate quadratic candidates and carry no
    signal) -> self-join on ngram -> per-pair intersection counts, joined
    with per-doc set sizes. BOTH the intersections and the set sizes count
    only sub-``max_df`` grams (one consistent vocabulary — like stopword
    removal). Exact within that vocabulary; pairs sharing ONLY capped
    grams are not candidates (the deliberate trade that avoids joining
    quadratic stop-gram postings). Shuffles on ngram then on the pair key;
    both partial-aggregated map-side.
    """
    ex = _capped_grams(pipe, id_col, text_col, n, max_df)
    # sizes from the SAME capped gram vocabulary as the intersections:
    # the metric is computed entirely over sub-max_df grams (stop-grams are
    # excluded from numerator AND denominator — mixing full-set sizes with
    # capped intersections would systematically underestimate)
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    a = ex.select(F.col("_id").alias("id_a"), "g")
    b = ex.select(F.col("_id").alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("nb")), "id_b")
    )


def _ngram_pair_stats_prefix(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_df: int,
) -> DataFrame:
    """Prefix-filtered candidate stage (Vernica/Carey/Li, SIGMOD'10
    "Efficient parallel set-similarity joins using MapReduce"): same
    ``(id_a, id_b, inter, na, nb)`` contract as _ngram_pair_stats, but
    candidates come from joining only each document's PREFIX — its
    ``|x| - ceil(t*|x|) + 1`` globally-rarest grams — instead of its
    full posting list.

    LOSSLESS for jaccard >= t: if two sets share no prefix token under a
    global token order, their overlap is at most the smaller suffix
    length, which is below the t-jaccard overlap bound — so every
    qualifying pair survives the filter (the standard prefix-filter
    proof). Exactness is also pytest-proven equal to the postings path.

    Why it scales better: the postings join's cost is sum(df^2) over the
    vocabulary — dominated by mid-frequency grams the df-cap keeps. The
    prefix join only posts each doc's rarest grams (the global (df, g)
    order makes prefixes maximally selective), cutting candidate pairs
    by orders of magnitude at corpus scale; verification then joins the
    candidates back to per-doc sorted gram ARRAYS by id (one slim
    equi-join per side) and intersects JVM-side — the full posting lists
    are never self-joined. Same vocabulary-cap semantics: grams with
    df > max_df are excluded from prefixes, sizes, and intersections.
    """
    # per-doc gram array sorted by the GLOBAL (df, gram) order — rarest
    # first, ties broken by the gram string so the order is total
    docs = (
        _capped_grams(pipe, id_col, text_col, n, max_df)
        .groupBy("_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("count").alias("_df"), F.col("g")))
            ).alias("_sg")
        )
        .withColumn("_n", F.size("_sg"))
        # prefix length |x| - ceil(t*|x|) + 1 (>= 1 whenever the set is
        # non-empty; t=1 degenerates to 1 rarest gram per doc)
        .withColumn(
            "_plen",
            F.col("_n") - F.ceil(F.lit(float(threshold)) * F.col("_n")) + 1,
        )
        .localCheckpoint(eager=True)
    )
    pref = docs.select(
        "_id",
        F.posexplode(
            F.slice(F.transform("_sg", lambda s: s["g"]), 1, F.col("_plen"))
        ).alias("_pos", "g"),
    )
    # candidates + POSITION FILTER (Xiao et al., WWW'08 PPJoin): both
    # arrays are sorted by the same global order, so the earliest shared
    # token minimizes its position in BOTH docs simultaneously —
    # min(pos_a), min(pos_b) per pair IS the first match. Every earlier
    # token on either side is non-common, so overlap <= 1 +
    # min(na-pa-1, nb-pb-1); prune pairs whose bound can't reach the
    # t-jaccard overlap requirement t/(1+t)*(na+nb). Lossless (1e-9
    # slack absorbs double rounding); the pruned pairs never ship their
    # gram arrays — sizes join first, arrays only after the filter.
    cand = (
        pref.select(F.col("_id").alias("id_a"), F.col("_pos").alias("_pa"), "g")
        .join(
            pref.select(F.col("_id").alias("id_b"), F.col("_pos").alias("_pb"), "g"),
            "g",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min("_pa").alias("_pa"), F.min("_pb").alias("_pb"))
    )
    sizes = docs.select("_id", "_n")
    cand = (
        cand.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("na")), "id_a"
        )
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("nb")), "id_b")
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("na") - F.col("_pa") - 1, F.col("nb") - F.col("_pb") - 1
                )
            ).cast("double")
            >= F.lit(float(threshold) / (1.0 + float(threshold)))
            * (F.col("na") + F.col("nb")).cast("double")
            - F.lit(1e-9)
        )
        .select("id_a", "id_b", "na", "nb")
    )
    full = docs.select(
        "_id", F.transform("_sg", lambda s: s["g"]).alias("_grams")
    )
    return (
        cand.join(
            full.select(F.col("_id").alias("id_a"), F.col("_grams").alias("_ga")),
            "id_a",
        )
        .join(
            full.select(F.col("_id").alias("id_b"), F.col("_grams").alias("_gb")),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("_ga", "_gb")))
        .select("id_a", "id_b", "inter", "na", "nb")
    )


def ngram_jaccard_pairs(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 1000,
    method: str = "postings",
) -> DataFrame:
    """Word-n-gram Jaccard near-dup pairs over the df-capped vocabulary.

    jaccard = inter / (|A| + |B| - inter) over the candidate stage.
    ``method="postings"`` self-joins the capped posting lists (see
    _ngram_pair_stats); ``method="prefix"`` generates candidates from
    prefix filtering (Vernica et al., SIGMOD'10 — see
    _ngram_pair_stats_prefix), the scale path: identical output
    (pytest-proven and hash-checked against the same oracle), far fewer
    candidate pairs on low-similarity corpora.
    """
    if method == "prefix":
        stats = _ngram_pair_stats_prefix(pipe, id_col, text_col, n, threshold, max_df)
    elif method == "postings":
        stats = _ngram_pair_stats(pipe, id_col, text_col, n, max_df)
    else:
        raise ValueError(f"ngram_jaccard_pairs: unknown method {method!r}")
    return (
        stats.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", round_col("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 1000,
) -> DataFrame:
    """Directed n-gram containment pairs: C = inter / min(|A|, |B|).

    Broder's containment measure (SEQUENCES'97 "On the resemblance and
    containment of documents"): the fraction of the SMALLER document's
    gram set found in the other. Catches quote-inclusion dups — a short
    document reproduced verbatim inside a much longer one — which
    symmetric Jaccard structurally misses (a 100-gram doc inside a
    10,000-gram doc has J <= 0.01 but containment 1.0). The standard
    companion to Jaccard dedup in pretraining curation (e.g. quote/
    boilerplate-inclusion sweeps).

    Same candidate structure, vocabulary capping, and shuffle story as
    ngram_jaccard_pairs (see _ngram_pair_stats); only the denominator
    differs. Output: (id_a, id_b, containment), id_a < id_b — the side
    being contained is whichever has the smaller capped gram set.
    """
    stats = _ngram_pair_stats(pipe, id_col, text_col, n, max_df)
    return (
        stats.withColumn(
            "containment",
            F.col("inter").cast("double") / F.least("na", "nb").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", round_col("containment", 6).alias("containment"))
    )


def duplicated_spans(
    pipe: Pipeline | DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 50,
    gram_k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans — the substring-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499), whose suffix-array pass finds verbatim
    text shared across documents so it can be CUT rather than dropping
    whole near-dup docs. Re-expressed Spark-first as character-k-gram
    runs (a suffix array is a single-machine artifact; k-gram posting
    lists shard):

    1. explode each doc into ``(id, pos, xxhash64(substr(text,pos,k)))``
       — one stage, no UDF; the text column dies at the projection, so
       the gram shuffle carries 8-byte hashes + positions, never text;
    2. keep hashes occurring in >= ``min_docs`` distinct docs (map-side
       partial agg on the slim hash key);
    3. per doc, coalesce consecutive duplicated positions into maximal
       runs with the gaps-and-islands window (pos - row_number());
    4. emit runs whose character span ``run + gram_k - 1 >= min_len``.

    Returns ``(id_col, start, span_len)``, start 1-based. Every
    length-``gram_k`` window of an emitted span occurs in >= ``min_docs``
    documents. A span duplicated as a unit is always found exactly; a
    maximal run may also chain overlapping duplications from DIFFERENT
    partner docs — deliberately kept, since cut-the-duplicated-text
    policies want any locally-duplicated region either way. Exact (no
    sampling/sketching) up to xxhash64 collisions; output carries no
    hashes, so the DuckDB twin groups raw substrings and must agree.

    Scale: gram explosion is ~len(text) rows per doc — inherent to
    substring-level dedup (the paper's suffix array is also O(corpus
    chars)); everything after step 1 moves only (id, pos) pairs for
    duplicated grams, and the final window partitions by doc id, state
    bounded by one doc's duplicated positions. The gram table feeds two
    branches (dup selection + the position join), so it is
    localCheckpointed and tokenization runs once.
    """
    d = pipe.df if isinstance(pipe, Pipeline) else pipe
    from seafan_spark.partitions import spread_if_narrow

    raw = d.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt")).filter(
        F.length("_txt") >= gram_k
    )
    target = d.sparkSession.sparkContext.defaultParallelism
    raw = spread_if_narrow(raw, target, "_id")
    grams = (
        raw.select(
            "_id",
            F.posexplode(
                F.expr(f"sequence(1, length(_txt) - {gram_k} + 1)")
            ).alias("_i", "pos"),
            "_txt",
        )
        .select(
            "_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.xxhash64(F.expr(f"substring(_txt, pos, {gram_k})")).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct("_id").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("h")
    )
    hits = grams.join(dup, "h").select("_id", "pos")
    w = Window.partitionBy("_id").orderBy("pos")
    runs = (
        hits.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy("_id", "_grp")
        .agg(
            F.min("pos").alias("start"),
            (F.count(F.lit(1)) + F.lit(gram_k - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select(F.col("_id").alias(id_col), "start", "span_len")
    )
    return runs


def cut_duplicated_spans(
    pipe: Pipeline | DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 50,
    gram_k: int = 20,
    min_docs: int = 2,
    out_col: str = "clean_text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Apply the CUT policy of substring-level dedup: remove every
    duplicated span (:func:`duplicated_spans`) from every document's
    text and keep the stitched remainder — Lee et al. 2022's
    ExactSubstr removal, under the simple symmetric policy (the
    duplicated region is cut from ALL docs that carry it; keep-one-copy
    variants can pre-filter ``spans`` by a representative choice before
    passing them in).

    Pipeline: spans -> per-doc overlapping-interval merge (runs from
    adjacent gram islands can overlap in CHARACTER space by up to
    gram_k-1) via a running-max window -> one sorted interval array per
    doc -> remainder stitched with a JVM ``aggregate`` higher-order
    function (substring concat walking the gaps). No Python in the row
    path; the only shuffles are the span window and one groupBy(id) for
    the interval arrays, both partitioned by doc id with per-doc state
    bounded by a doc's span count.

    Returns the input columns plus ``out_col``; docs with no duplicated
    span pass through verbatim.
    """
    d = pipe.df if isinstance(pipe, Pipeline) else pipe
    if spans is None:
        spans = duplicated_spans(
            d.select(id_col, text_col), id_col, text_col,
            min_len=min_len, gram_k=gram_k, min_docs=min_docs,
        )
    iv = spans.select(
        F.col(id_col).alias("_cid"),
        F.col("start").alias("_s"),
        (F.col("start") + F.col("span_len") - 1).alias("_e"),
    )
    w = Window.partitionBy("_cid").orderBy("_s")
    prev_max_e = F.max("_e").over(
        Window.partitionBy("_cid").orderBy("_s").rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    island = F.sum(
        F.when(F.col("_s") > F.coalesce(prev_max_e, F.lit(0)), 1).otherwise(0)
    ).over(w)
    merged = (
        iv.withColumn("_isl", island)
        .groupBy("_cid", "_isl")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
    )
    arrs = merged.groupBy("_cid").agg(
        F.sort_array(F.collect_list(F.struct("_s", "_e"))).alias("_ivs")
    )
    joined = d.join(arrs, d[id_col] == arrs["_cid"], "left").drop("_cid")
    stitched = F.expr(
        f"""aggregate(
            _ivs,
            named_struct('pos', CAST(1 AS BIGINT), 'acc', ''),
            (st, iv) -> named_struct(
                'pos', iv._e + CAST(1 AS BIGINT),
                'acc', concat(st.acc, substring({text_col},
                              CAST(st.pos AS INT),
                              CAST(iv._s - st.pos AS INT)))),
            st -> concat(st.acc, substring({text_col}, CAST(st.pos AS INT),
                         CAST(greatest(length({text_col}) - st.pos + 1, 0) AS INT)))
        )"""
    )
    out = joined.withColumn(
        out_col,
        F.when(F.col("_ivs").isNull(), F.col(text_col)).otherwise(stitched),
    ).drop("_ivs")
    return out


# ------------------------------------------------- embedding near-dup ----
def _exact_pairs_blocked(d: DataFrame, threshold: float) -> DataFrame:
    """All-pairs cosine >= threshold by blocked BLAS matmul.

    ``d`` is (_id, _raw) with _raw the unnormalized vector; all
    normalization happens in numpy (driver once for the corpus matrix,
    per-block in the task), keeping the Spark-side plan a bare
    column-pruned scan. The normalized matrix is broadcast to every task
    (same memory envelope as the broadcast side of a broadcast join);
    each task multiplies its own row-block against it with one numpy
    matmul — no shuffle, no per-pair expression evaluation, compute split
    evenly across tasks. Corpora too large to broadcast belong on the LSH
    path instead."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from seafan_spark.guards import assert_small

    assert_small(
        d, "embedding_neardup_pairs(exact=True)", limit=200_000,
        scale_hint="The exact path collects and broadcasts the corpus matrix; "
        "use exact=False (LSH) at scale.",
    )

    def unit_rows(series):
        mat = np.vstack(series.to_numpy()).astype("float64")
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        return mat / np.where(norms == 0.0, 1.0, norms)

    spark = d.sparkSession
    pdf = d.toPandas()
    ids = pdf["_id"].to_numpy()
    mat = unit_rows(pdf["_raw"]) if len(pdf) else np.zeros((0, 1))
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    out_schema = T.StructType(
        [
            T.StructField("id_a", d.schema["_id"].dataType),
            T.StructField("id_b", d.schema["_id"].dataType),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        _drop_zip_importers()
        corpus_ids, corpus = b_ids.value, b_mat.value
        for block in batches:
            if not len(block):
                continue
            sims = unit_rows(block["_raw"]) @ corpus.T
            ai, bj = np.nonzero(sims >= threshold)
            if not len(ai):
                continue
            ia, ib, vals = block["_id"].to_numpy()[ai], corpus_ids[bj], sims[ai, bj]
            keep = ia < ib
            yield pd.DataFrame(
                {"id_a": ia[keep], "id_b": ib[keep], "cosine": vals[keep]}
            )

    return d.mapInPandas(score, schema=out_schema)


def embedding_neardup_pairs(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    exact: bool = False,
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicates: random-hyperplane LSH buckets
    (sign bits of seeded pseudo-random projections) generate candidates;
    exact cosine verifies. One equi-join on the bucket key.

    ``exact=True`` skips the LSH bucketing and scores ALL pairs (recall
    1.0, O(n^2) — the correctness oracle / small-corpus path) via blocked
    BLAS matmul (see _exact_pairs_blocked).

    ``dim`` should be passed when known (else inferred from the first
    row — an eager job; wrong-length vectors raise either way).
    ``probe_bits=1`` adds multi-probe candidates one sign-bit away.

    Vectors are unit-normalized ONCE per row before the pair join, so the
    per-pair work is a single dot product — 3x less array math than
    cosine(a, b) per candidate, and the normalization runs n times
    instead of O(candidate-pairs) times."""
    from seafan_spark.llmops.similarity import dot_col, infer_vec_dim, probe_buckets_col

    raw = pipe.df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_raw")
    )
    if exact:
        pairs = _exact_pairs_blocked(raw, threshold)
        return pairs.select(
            "id_a", "id_b", round_col("cosine", 6).alias("cosine")
        )
    if dim is None:
        dim = infer_vec_dim(raw, "_raw", "embedding_neardup_pairs")
    d = embedding_store_prepare(pipe.df, id_col, vec_col, dim, planes, seed)
    a = d.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"), "_bkt")
    if probe_bits > 0:
        a = a.select(
            "id_a", "va",
            F.explode(probe_buckets_col(F.col("_bkt"), planes, probe_bits)).alias("_bkt"),
        )
    b = d.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"), "_bkt")
    cand = a.join(b, "_bkt").filter(F.col("id_a") < F.col("id_b"))
    if probe_bits > 0:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return (
        cand.withColumn("cosine", dot_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", round_col("cosine", 6).alias("cosine"))
    )


# ------------------------------------------------- edit-distance dedup ----
def edit_distance_pairs(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by Levenshtein edit distance, with blocking:
    candidates must share the first ``prefix_len`` characters of the
    normalized text AND differ in length by <= ``max_dist`` (both
    necessary conditions for distance <= max_dist when edits don't touch
    the prefix; the standard cheap block for typo-class dups).

    The join is a hash equi-join on the prefix (one shuffle), the length
    band an attached filter — Catalyst never sees an inequality-only
    join. ``levenshtein`` runs only inside blocks: O(block^2 * len^2)
    worst-case per block, so prefix_len trades recall vs block size.

    Returns (id_a, id_b, dist) with id_a < id_b, dist <= max_dist.
    """
    from seafan_spark.llmops.text import norm_text_col

    d = pipe.df.select(
        F.col(id_col).alias("_id"),
        norm_text_col(F.col(text_col)).alias("_t"),
    ).withColumn("_pfx", F.substring(F.col("_t"), 1, prefix_len))
    a = d.select(F.col("_id").alias("id_a"), F.col("_t").alias("ta"), "_pfx")
    b = d.select(F.col("_id").alias("id_b"), F.col("_t").alias("tb"), "_pfx")
    return (
        a.join(b, "_pfx")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("ta") - F.length("tb")) <= max_dist)
        )
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_text: str,
    right_id: str,
    right_text: str,
    max_dist: int = 2,
    prefix_len: int = 8,
    keep: str = "best",
) -> DataFrame:
    """Blocked fuzzy join of TWO tables by Levenshtein distance — record
    linkage / entity matching (the blocking-then-compare stage of
    Fellegi & Sunter 1969; `edit_distance_pairs` is the self-join
    special case). Candidates must share the first ``prefix_len``
    characters of the normalized text AND differ in length by at most
    ``max_dist`` — both necessary for distance ≤ max_dist when edits
    don't touch the prefix, so the expensive ``levenshtein`` runs only
    inside blocks.

    ``keep="all"`` returns every (left_id, right_id, dist ≤ max_dist)
    pair; ``keep="best"`` returns ONE row per matched left id — the
    minimum-distance right match, ties broken by smallest right id
    (deterministic, SQL-replayable). Left rows with no match are absent
    (join, not lookup — outer-join the result back for a lookup).

    100 TB design: ONE hash equi-join on the prefix block key (both
    sides shuffle once on _pfx, no cartesian anywhere); the length band
    rides as an attached filter so Catalyst still plans an equi-join;
    best-match is a per-left-id WindowGroupLimit (rank 1 over dist, id),
    never a global sort. Skewed blocks (one hot prefix) are the
    standard hazard: lengthen prefix_len or pre-salt the hot key. In
    particular, ``prefix_len`` must CLEAR any corpus-wide shared stem —
    id-like texts ('Customer#0...', 'SKU-0...') share their first many
    characters, and a prefix inside the stem collapses the block join
    to one bucket, i.e. an all-pairs Levenshtein (measured: 49s vs
    sub-second at sf0.1 on TPC-H customer names with prefix 10 vs 16).

    Returns (left_id, right_id, dist) with the caller's column names.
    """
    if keep not in ("best", "all"):
        raise ValueError(f"fuzzy_join: unknown keep mode {keep!r}")
    from seafan_spark.llmops.text import norm_text_col

    a = left.select(
        F.col(left_id).alias("_lid"),
        norm_text_col(F.col(left_text)).alias("_lt"),
    ).withColumn("_pfx", F.substring(F.col("_lt"), 1, prefix_len))
    b = right.select(
        F.col(right_id).alias("_rid"),
        norm_text_col(F.col(right_text)).alias("_rt"),
    ).withColumn("_pfx", F.substring(F.col("_rt"), 1, prefix_len))
    m = (
        a.join(b, "_pfx")
        .filter(F.abs(F.length("_lt") - F.length("_rt")) <= max_dist)
        .withColumn("dist", F.levenshtein("_lt", "_rt"))
        .filter(F.col("dist") <= max_dist)
    )
    if keep == "best":
        w = Window.partitionBy("_lid").orderBy(
            F.col("dist").asc(), F.col("_rid").asc()
        )
        m = m.withColumn("_rk", F.row_number().over(w)).filter(
            F.col("_rk") == 1
        )
    return m.select(
        F.col("_lid").alias(left_id),
        F.col("_rid").alias(right_id),
        F.col("dist").cast("int").alias("dist"),
    )


# --------------------------------------------------- incremental minhash ----
def band_signatures(
    sig: DataFrame, num_hashes: int, bands: int, portable: bool = False
) -> DataFrame:
    """(_id, band, bucket) banding of a (_id, _sig) signature table —
    factored out of minhash_pairs so a PERSISTED signature store can be
    banded without re-shingling its documents (pure literal arithmetic +
    one hash per band over the stored longs; ``portable`` selects the
    md5-based bucket hash for cross-engine reproducibility)."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    return sig.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    hash60_col(
                        F.concat_ws(",", F.transform(F.slice("_sig", b * rows + 1, rows), lambda v: v.cast("string"))),
                        portable=portable,
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_pairs_incremental(
    new_pipe,
    store_sig: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    portable: bool = False,
    check_store: bool = True,
    new_sig: DataFrame | None = None,
) -> DataFrame:
    """Dedupe a NEW batch of documents against an existing corpus
    signature store (plus within itself) — the append-only ingestion
    shape: at large corpus scale you never re-shingle the corpus per
    batch, you keep its (id, signature) table (e.g. parquet written by
    ``minhash_signatures``) and only hash the new arrivals.

    - ``store_sig``: (_id, _sig array<bigint>) from minhash_signatures
      with the SAME num_hashes/shingle_k AND the same base-hash mode
      (``portable``) and signature scheme. Persist
      :func:`signature_scheme_tag` next to the store and compare it on
      read; ``check_store=True`` (default) additionally runs a cheap
      one-column sanity scan that rejects stores from the retired
      31-bit scheme (whose values are all < 2^31 — a fresh 61-bit
      signature is below 2^31 with probability ~2^-30 per value, so a
      whole store of such values is an unmistakable fingerprint).
      Mixed-scheme comparison would silently produce est_jaccard ~ 0
      and drop every true near-duplicate of an old document.
    - only the new batch is shingled/hashed; the store is banded with
      cheap literal arithmetic and joined on (band, bucket);
    - ``new_sig``: optionally a precomputed (_id, _sig) table for the new
      batch (same scheme), skipping the shingle pass here — the streaming
      ingest loop computes it once and reuses it for the store append;
    - emitted pairs have at least one NEW side: new-vs-store and
      new-vs-new; store-vs-store pairs are the previous batches' output
      and are never recomputed.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b (signature-
    agreement verification — the store keeps no shingles, so exact
    jaccard is unavailable here; see the ``verify="est"`` caveat on
    :func:`minhash_pairs` for the estimator's behavior on low-diversity
    corpora)."""
    if check_store:
        # one aggregate over the first signature position: values from the
        # current 61-bit scheme are uniform in [0, 2^61), so a store whose
        # MAX first position is below 2^31 is (overwhelmingly) a persisted
        # pre-61-bit store — comparing against it silently yields
        # est_jaccard ~ 0, so fail loudly instead
        row = store_sig.select(
            F.max(F.element_at("_sig", 1)).alias("mx"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        if row["n"] and row["mx"] is not None and row["mx"] < (1 << 31):
            raise ValueError(
                "minhash_pairs_incremental: store_sig looks like a signature "
                "store from the retired 31-bit mixing scheme (all values "
                "< 2^31); re-materialize it with the current "
                "minhash_signatures, or pass check_store=False if this "
                "corpus-sized store is legitimately tiny-valued"
            )
    if new_sig is None:
        # accept a Pipeline or a bare DataFrame (streaming foreachBatch
        # hands a DataFrame)
        new_df = getattr(new_pipe, "df", new_pipe)
        new_sig = minhash_signatures(
            new_df, id_col, text_col, num_hashes, shingle_k, portable
        ).localCheckpoint(eager=True)
    # a re-ingested id (present in the store AND the new batch) must not
    # duplicate: the fresh signature wins, the stale store row is dropped
    # (broadcast anti-join on the small new side)
    store_only = store_sig.select("_id", "_sig").join(
        F.broadcast(new_sig.select("_id")), "_id", "left_anti"
    )
    # materialize the union once: it feeds the banding AND both sides of
    # the verification join — an unmaterialized store expression (e.g. a
    # freshly computed signature table) would execute three times
    all_sig = store_only.unionByName(new_sig).localCheckpoint(eager=True)
    new_banded = band_signatures(new_sig, num_hashes, bands, portable)
    all_banded = band_signatures(all_sig, num_hashes, bands, portable)
    a = new_banded.select(F.col("_id").alias("_na"), "band", "bucket")
    b = all_banded.select(F.col("_id").alias("_nb"), "band", "bucket")
    cand = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("_na") != F.col("_nb"))
        .select(
            F.least("_na", "_nb").alias("id_a"),
            F.greatest("_na", "_nb").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        _with_est_jaccard(cand, all_sig, num_hashes)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------- representatives ----
def select_representatives(
    df: DataFrame,
    cluster_col: str,
    id_col: str,
    score_col: str | Column | None = None,
    keep_all: bool = False,
) -> DataFrame:
    """Pick one representative document per duplicate cluster — the step
    after dedup that decides WHICH copy survives. Ranking: highest
    ``score_col`` (quality score, length, recency...) wins, ties broken
    by smallest ``id_col`` so the choice is deterministic; with no score
    the min-id row wins (the reference keeps first-seen: dedup semantics
    of seafan's Where/row selection generalized to groups).

    One shuffle (window by cluster). ``keep_all=False`` returns only the
    winners plus ``cluster_size``; ``keep_all=True`` returns every row
    with ``is_rep``/``rep_id`` attached (the form a filter-or-audit
    pipeline wants). Input is any (row -> cluster) assignment: exact-dup
    fingerprints, minhash_clusters output, or a custom grouping.
    """
    score = (
        (F.col(score_col) if isinstance(score_col, str) else score_col)
        if score_col is not None
        else None
    )
    order = [F.col(id_col).asc()]
    if score is not None:
        order.insert(0, score.desc())
    w = Window.partitionBy(cluster_col)
    wo = w.orderBy(*order)
    d = (
        df.withColumn("_rn", F.row_number().over(wo))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("rep_id", F.first(F.col(id_col)).over(wo))
    )
    if keep_all:
        return d.withColumn("is_rep", (F.col("_rn") == 1).cast("double")).drop("_rn")
    return d.filter(F.col("_rn") == 1).drop("_rn", "rep_id")


# ------------------------------------- incremental embedding near-dup ----
def embedding_store_prepare(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(_id, _v unit-normalized, _bkt hyperplane bucket) — the persisted
    vector-store row. Normalization and bucketing happen ONCE here, at
    ingestion, so neither is ever recomputed for store rows on later
    batches (the embedding analogue of persisting minhash signatures)."""
    from seafan_spark.llmops.similarity import hyperplane_bucket_col, norm_col

    raw = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_raw"))
    # the norm is staged (computed once per row); a zero norm divides by 1
    # like _exact_pairs_blocked's unit_rows — a bare division would abort
    # under the default ANSI mode
    staged = raw.select("_id", "_raw", norm_col(F.col("_raw")).alias("_n"))
    safe_n = F.when(F.col("_n") == 0.0, F.lit(1.0)).otherwise(F.col("_n"))
    return staged.select(
        "_id",
        F.transform(F.col("_raw"), lambda x: x.cast("double") / safe_n).alias("_v"),
        hyperplane_bucket_col(F.col("_raw"), dim, planes, seed).alias("_bkt"),
    )


def embedding_neardup_incremental(
    new_df: DataFrame,
    store: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    planes: int = 16,
    seed: int = 42,
    probe_bits: int = 1,
    new_prepared: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs of a NEW batch of embeddings against a
    persisted vector store (plus within itself) — the append-only
    ingestion shape of :func:`embedding_neardup_pairs`: only the new
    vectors are normalized/bucketed; store rows join by their persisted
    bucket key. ``store`` must come from :func:`embedding_store_prepare`
    with the SAME (dim, planes, seed). Multi-probe bit flips run on the
    new side only — bucket hamming distance is symmetric, so the
    candidate set equals the one-shot full-corpus pass at the same
    ``probe_bits``. Emitted pairs have at least one new side
    (store-vs-store pairs are earlier batches' output); a re-ingested id
    pairs with its fresh vector, the stale store row is dropped first.

    Returns (id_a, id_b, cosine) with id_a < id_b."""
    from seafan_spark.llmops.similarity import dot_col, probe_buckets_col

    if new_prepared is None:
        # lazy persist (round-10): the three consumers below (anti-join
        # probe, union side, candidate side) all live inside the caller's
        # one final action — the first stage to need the prepared batch
        # computes and caches it, with no build-time checkpoint job
        new_prepared = embedding_store_prepare(
            new_df, id_col, vec_col, dim, planes, seed
        ).localCheckpoint(eager=False)
    store_only = store.select("_id", "_v", "_bkt").join(
        F.broadcast(new_prepared.select("_id")), "_id", "left_anti"
    )
    everyone = store_only.unionByName(new_prepared)
    a = new_prepared.select(
        F.col("_id").alias("_na"), F.col("_v").alias("va"), "_bkt"
    )
    if probe_bits > 0:
        a = a.select(
            "_na",
            "va",
            F.explode(probe_buckets_col(F.col("_bkt"), planes, probe_bits)).alias(
                "_bkt"
            ),
        )
    b = everyone.select(F.col("_id").alias("_nb"), F.col("_v").alias("vb"), "_bkt")
    cand = (
        a.join(b, "_bkt")
        .filter(F.col("_na") != F.col("_nb"))
        .select(
            F.least("_na", "_nb").alias("id_a"),
            F.greatest("_na", "_nb").alias("id_b"),
            # dot is commutative elementwise, so no ordering needed
            dot_col(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", round_col("cosine", 6).alias("cosine")
    )


def _centroid_cosines(vec: Column, rows: list, cell_type: str) -> Column:
    """Cosine of the unit vector ``vec`` to every centroid of the
    collected unit-norm (_cell, _cv) rows, as array<struct<cell, cos>>
    in ascending cell order. The centroid table rides into the plan as
    ONE literal (``session._plan_literal``: a fixed number of gateway
    calls and one folded constant, whatever k x dim), and one JVM
    ``transform`` takes the k dot products per row. The scoring shared
    by :func:`_assign_to_centroids` and
    :func:`~seafan_spark.llmops.similarity.cluster_silhouette`."""
    from seafan_spark.llmops.similarity import dot_col

    table = [
        {"cell": int(r["_cell"]), "cv": [float(x) for x in r["_cv"]]}
        for r in sorted(rows, key=lambda r: int(r["_cell"]))
    ]
    cents = _plan_literal(table, f"array<struct<cell:{cell_type},cv:array<double>>>")
    return F.transform(
        cents,
        lambda s: F.struct(s["cell"].alias("cell"), dot_col(vec, s["cv"]).alias("cos")),
    )


def _assign_to_centroids(unit: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every (_id, _v) row to its max-cosine centroid from the
    unit-norm (_cell, _cv) table, min-cell tiebreak — deterministic and
    SQL-replayable. The SemDeDup family's one assignment rule: store
    rows, incremental batches and the silhouette audit all go through
    it. Returns (_id, _v, _cell).

    The centroid table rides into the plan as one literal sorted by cell
    id (:func:`_centroid_cosines`); per row one transform computes the k
    cosines and one fold takes the argmax (strict > keeps the earliest =
    lowest cell on ties, identical to a crossJoin + window's (cos DESC,
    cell ASC) pick) — no row blowup, no shuffle, no window. There is no
    second path for large tables: the crossJoin + ``min_by`` form that
    took over past 262,144 cells (k x dim) was deleted once the literal
    cost a fixed number of gateway calls. It never ran faster. Measured
    over 500 unit rows of dim 64, warm, 3 runs each (same cells): run
    0.09-0.17 s against 0.21-0.25 s for the crossJoin at k=8 (the largest
    table a test or workload builds), 2.4-3.3 s against 2.6-3.8 s at
    k=1024, and 11.4-14.0 s against 12.9-14.6 s at k=4096."""
    rows = cents.select("_cell", "_cv").collect()
    cell_type = cents.schema["_cell"].dataType.simpleString()
    if not rows:
        return unit.select("_id", "_v", F.lit(None).cast(cell_type).alias("_cell")).limit(0)
    best = F.aggregate(
        _centroid_cosines(F.col("_v"), rows, cell_type),
        F.struct(
            F.lit(None).cast(cell_type).alias("cell"),
            F.lit(float("-inf")).alias("cos"),
        ),
        lambda acc, s: F.when(s["cos"] > acc["cos"], s).otherwise(acc),
    )
    return unit.select("_id", "_v", best["cell"].alias("_cell"))


def adaptive_n_clusters(n_rows: int, lo: int = 16, hi: int = 65536) -> int:
    """k ≈ sqrt(N), clamped: the within-cluster pairwise cost of the
    SemDeDup family is O(Σ cᵢ²) ≈ N²/k for balanced cells, so k ∝ √N
    keeps the pair stage LINEAR in N (the SemDeDup paper runs 50k
    clusters on LAION at this ratio). Floor 16 keeps tiny corpora from
    degenerating to one cell; ceiling 65536 bounds the broadcast
    centroid table (~0.5 GB at 1024-d doubles) and KMeans cost."""
    import math

    return max(lo, min(hi, int(math.isqrt(max(n_rows, 1)))))


def _unit_vectors(
    df: DataFrame, id_col: str, vec_col: str, dim: int | None, where: str
) -> DataFrame:
    """(_id, _v) rows with ``_v`` the unit-L2-normalized vector — a vector
    whose length is not ``dim`` (inferred from the first row when None,
    an eager job) fails the query instead of folding into a NULL dot."""
    from seafan_spark.llmops.similarity import (
        checked_vec_col,
        infer_vec_dim,
        l2_normalize_col,
    )

    raw = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_raw"))
    if dim is None:
        dim = infer_vec_dim(raw, "_raw", where)
    vec = checked_vec_col(F.col("_raw"), dim, where)
    return raw.select("_id", l2_normalize_col(vec).alias("_v"))


def _semantic_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int | None,
    centroids: str,
    seed: int,
    max_iter: int,
    dim: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared quantization stage for the SemDeDup family: unit-normalize,
    pick centroids (seeds = k lowest-id vectors, deterministic and
    SQL-replayable; kmeans = distributed MLlib, the scale path), assign
    every row with :func:`_assign_to_centroids`. Returns (assigned
    (_id, _v, _cell), centroid table (_cell, _cv)).

    The centroid table (k rows) is always unit-norm: MLlib's Euclidean
    centres of unit vectors are shorter than 1, so they are normalized
    before they are stored. Then the max-cosine rule gives each row its
    nearest centre, and a later batch assigned against the persisted
    table (incremental SemDeDup) or the silhouette audit sees exactly
    the cells the store got."""
    if centroids not in ("kmeans", "seeds"):
        raise ValueError(f"semantic_dedup: unknown centroids mode {centroids!r}")
    unit = _unit_vectors(df, id_col, vec_col, dim, "semantic_dedup")
    if n_clusters is None:
        # adaptive default (round-7 VERDICT #1b): k ≈ √N from one cheap
        # count, so calling with defaults never hits the O(N²/k)
        # quadratic term a fixed small k develops at scale
        n_clusters = adaptive_n_clusters(unit.count())
    if centroids == "seeds":
        # the k lowest-id unit vectors are the centres — deterministic, no
        # training job. The old ~0.3 s penalty for rebuilding the seeds on
        # the driver measured createDataFrame's Python-RDD path. Collected
        # into session._local_frame instead, semantic_dedup (sf0.01, 8 x
        # 64-d seeds, warm local[4], medians of 15 build + collect calls)
        # took 2.20-2.38 CPU-s, 1.19-1.21 s wall and 7 jobs, against
        # 2.54-2.56 CPU-s, 1.45-1.70 s and 8 jobs for this checkpoint.
        cents = (
            unit.orderBy("_id")
            .limit(n_clusters)
            .select(F.col("_id").alias("_cell"), F.col("_v").alias("_cv"))
            .localCheckpoint(eager=True)
        )
    else:
        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        km = KMeans(k=n_clusters, seed=seed, maxIter=max_iter, featuresCol="_mlv")
        model = km.fit(unit.select(array_to_vector(F.col("_v")).alias("_mlv")))
        cents = _local_frame(
            df.sparkSession,
            [
                (i, [float(x) for x in c / (np.linalg.norm(c) or 1.0)])
                for i, c in enumerate(model.clusterCenters())
            ],
            "_cell long, _cv array<double>",
        )
    # lazy local checkpoint: the assignment feeds both self-join sides and
    # the final output, so the first stage of the caller's action to need
    # it computes and stores it — no build-time materialization job
    return _assign_to_centroids(unit, cents).localCheckpoint(eager=False), cents


def _semantic_judge(
    assigned: DataFrame, eps: float, store: DataFrame | None = None
) -> DataFrame:
    """The SemDeDup keep-first verdict for (_id, _v, _cell) rows: a row is
    dropped iff a same-cell row of ``assigned`` with a smaller id, or any
    same-cell ``store`` row, has cosine >= ``eps``. Store rows witness
    whatever their own ``_keep`` — the one-shot rule lets a dropped row
    drop a later near-identical one. Returns store-schema rows
    (_id, _v, _cell, _keep) for ``assigned``.

    Blocking is the cell alone: one shuffle on _cell per join side, per
    pair one JVM dot product over unit vectors (cosine == dot); the
    dropped set is a slim distinct (id) joined back to the rows."""
    from seafan_spark.llmops.similarity import dot_col

    def side(d: DataFrame, s: str) -> DataFrame:
        return d.select(F.col("_id").alias(f"id_{s}"), F.col("_v").alias(f"v{s}"), "_cell")

    new = side(assigned, "b")
    close = dot_col(F.col("va"), F.col("vb")) >= F.lit(float(eps))
    dropped = (
        side(assigned, "a").join(new, "_cell")
        .filter((F.col("id_a") < F.col("id_b")) & close)
        .select("id_b")
    )
    if store is not None:
        dropped = dropped.union(
            side(store, "a").join(new, "_cell").filter(close).select("id_b")
        )
    # distinct on _id ALONE, then the flag: a join key known distinct lets
    # the optimizer drop this outer join wherever only (_id, _v, _cell)
    # are read — as the incremental path reads the store
    dropped = dropped.select(F.col("id_b").alias("_id")).distinct()
    return assigned.join(dropped.withColumn("_dup", F.lit(1)), "_id", "left").select(
        "_id",
        "_v",
        "_cell",
        F.when(F.col("_dup").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("_keep"),
    )


def semantic_dedup(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    n_clusters: int | None = None,
    eps: float = 0.95,
    centroids: str = "kmeans",
    seed: int = 42,
    max_iter: int = 20,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then find
    near-duplicate pairs ONLY within each cluster and keep one document
    per epsilon-neighborhood.

    Semantics (exactly replayable in SQL, hash-checked by the oracle):
    a document x is DROPPED iff some same-cluster y with a smaller id has
    cosine(x, y) >= eps — greedy keep-first in id order, the same policy
    as the stream-dedup store. Returns (id, cluster, keep 0/1) for every
    input row: the projection of :func:`semantic_dedup_store_prepare`.

    ``centroids`` picks the coarse quantizer:

    - ``"kmeans"`` (default, the scale path): distributed MLlib KMeans —
      data-adaptive cells like ann_ivf_topk, so cluster populations stay
      balanced and the within-cluster pairwise cost is controlled.
    - ``"seeds"`` (the oracle path): the ``n_clusters`` lowest-id vectors
      ARE the centers. Fully deterministic and SQL-replayable, so the
      DuckDB twin can hash-check assignment + pair + keep logic
      end-to-end; pytest proves the kmeans path agrees with a direct
      per-cluster reference on the same assignment.

    Either way the centroid table is unit-norm and there is one
    assignment rule: each row goes to its max-cosine centroid, lowest
    cell on ties (:func:`_assign_to_centroids`).

    100 TB story: the cluster id is the ONLY blocking structure — the
    corpus shuffles once on cluster for the self-join, never all-pairs;
    per-pair work is one JVM dot product over unit-normalized vectors
    (normalized n times, not O(pairs) times); the dropped-id set is a
    slim (id) anti-join back to the assignment. Within-cluster pairwise
    is O(sum c_i^2), so ``n_clusters=None`` (the default) resolves to
    ≈√N via :func:`adaptive_n_clusters` — one cheap count, and the pair
    stage stays LINEAR in N with defaults (the SemDeDup paper runs 50k
    clusters on LAION at this ratio; on a 10x replica of sf0.1 the
    default measured a time exponent of 0.915 per 10x rows, against
    1.150 at a fixed k=8). Pass an explicit k to pin the quantizer (the
    oracle does).
    """
    store, _ = semantic_dedup_store_prepare(
        pipe, id_col, vec_col, n_clusters, eps, centroids, seed, max_iter, dim
    )
    return store.select(
        F.col("_id").alias("id"),
        F.col("_cell").cast("bigint").alias("cluster"),
        F.col("_keep").alias("keep"),
    )


def semantic_dedup_store_prepare(
    pipe: Pipeline,
    id_col: str,
    vec_col: str,
    n_clusters: int | None = None,
    eps: float = 0.95,
    centroids: str = "kmeans",
    seed: int = 42,
    max_iter: int = 20,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the persisted state for incremental SemDeDup: returns
    (store, centroid table). Store rows are (_id, _v unit-normalized,
    _cell, _keep) — normalization, quantization, and the keep verdict
    happen ONCE at ingestion and are never recomputed; the unit-norm
    centroid table (_cell, _cv) freezes the quantizer so every later
    batch is assigned by the same max-cosine rule to the same cells (the
    semantic analogue of persisting minhash signatures + their mixer
    scheme).

    Dropped rows stay in the store with _keep=0: the one-shot keep rule
    lets a dropped row witness-drop a later near-identical arrival, so
    removing them would change verdicts.
    """
    assigned, cents = _semantic_assign(
        pipe.df, id_col, vec_col, n_clusters, centroids, seed, max_iter, dim
    )
    return _semantic_judge(assigned, eps), cents


def semantic_dedup_incremental(
    new_pipe: Pipeline | DataFrame,
    store: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    eps: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Incremental SemDeDup: quantize and judge ONLY the arriving batch
    against a persisted (store, centroid) pair from
    :func:`semantic_dedup_store_prepare` — the corpus is never
    re-normalized, re-assigned, or re-judged.

    Keep policy (keep-first, same as the stream dedup store): a new row
    is dropped if ANY same-cell store row is eps-close (the store copy
    wins — it arrived first), or if a smaller-id same-cell row of this
    batch is. Batch rows are assigned to the stored unit-norm centroids
    by the same max-cosine rule the store was, so an exact re-ingested
    copy always lands in its original's cell. When batch ids exceed all
    store ids (append-only id discipline), store-union-result is
    row-identical to a one-shot semantic_dedup over everything (pytest +
    the oracle's hash check prove it) — the store's witness rows include
    its _keep=0 members, exactly like the one-shot rule.

    Scale shape: the centroid table rides into the plan as a literal (a
    broadcast beyond the literal threshold); the batch shuffles once on _cell against the store's (co-located when the
    store is written bucketed by _cell); new-vs-new is the same join on
    the small batch. Returns store-schema rows (_id, _v, _cell, _keep) for
    the batch — append them to the store for the next round.
    """
    new_df = getattr(new_pipe, "df", new_pipe)
    unit = _unit_vectors(new_df, id_col, vec_col, dim, "semantic_dedup_incremental")
    # lazy, as in _semantic_assign: the batch feeds three join sides
    assigned = _assign_to_centroids(unit, cents).localCheckpoint(eager=False)
    return _semantic_judge(assigned, eps, store)


# ------------------------------------------------- line-level dedup ----
#: common-line count up to which :func:`drop_common_lines` collects the
#: common set into one broadcast hash-array row; above it, the left-anti
#: join + reassembly path runs instead.
COMMON_LINES_ARRAY_CAP = 50_000


def drop_common_lines(
    pipe: Pipeline,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_count: int | None = None,
    min_ratio: float | None = None,
    distinct_docs: bool = False,
) -> Pipeline:
    """CCNet-style line/paragraph-level global dedup (boilerplate removal).

    Splits every document on ``sep``, counts each exact line corpus-wide,
    and removes the lines whose count reaches the threshold — navigation
    chrome, cookie banners, licence boilerplate — reassembling the
    remainder in order.  Complements :func:`duplicated_spans` (k-gram
    spans within near-dup *pairs*); this is the global frequency filter
    of CCNet (Wenzek et al., LREC 2020) / RefinedWeb line-wise dedup.

    Threshold: ``min_count`` is an absolute occurrence count (default 2);
    ``min_ratio`` (overrides) is a fraction of all corpus lines — the
    scale-invariant form.  ``distinct_docs=True`` counts documents
    containing the line instead of occurrences.

    Adds ``n_lines``, ``n_dropped``, ``text_clean`` (original columns
    untouched).

    100 TB design: the corpus shuffles ONLY the slim exploded line
    relation for the count aggregation (map-side partial agg over the
    distinct-line domain).  The common-line set is small by construction
    (at most ``total_lines/min_count`` entries): when it fits
    ``COMMON_LINES_ARRAY_CAP`` it is collected as ONE md5-hash array row and
    cross-broadcast, so documents are cleaned by a JVM higher-order
    ``filter`` without ever shuffling; above the cap, a left-anti join
    against the hash set plus one groupBy(id) reassembly shuffle.
    """
    d = pipe.df
    parts = F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)

    lines = d.select(F.col(id_col).alias("_id"), F.explode(parts).alias("_line"))
    cnt = (
        F.count_distinct(F.col("_id")) if distinct_docs else F.count(F.lit(1))
    )
    counts = lines.groupBy("_line").agg(cnt.alias("_c"))
    if min_ratio is not None:
        tot = counts.agg(F.sum("_c").alias("_tot"))
        cond = F.col("_c") >= F.col("_tot") * F.lit(float(min_ratio))
        counts = counts.crossJoin(F.broadcast(tot))
    else:
        cond = F.col("_c") >= F.lit(int(min_count if min_count is not None else 2))
    # tiny by construction (<= total_lines/threshold rows of one hash
    # column); checkpoint so the count gate and the consumer share one run
    common = (
        counts.filter(cond)
        .select(F.md5(F.col("_line")).alias("_lh"))
        .localCheckpoint(eager=True)
    )

    if common.count() <= COMMON_LINES_ARRAY_CAP:
        bp = common.agg(F.collect_list("_lh").alias("_bp"))
        kept = F.filter(parts, lambda x: ~F.array_contains(F.col("_bp"), F.md5(x)))
        out = (
            d.crossJoin(F.broadcast(bp))
            .withColumn("n_lines", F.size(parts).cast("bigint"))
            .withColumn("_kept", kept)
            .withColumn(
                "n_dropped", (F.col("n_lines") - F.size("_kept")).cast("bigint")
            )
            .withColumn("text_clean", F.concat_ws(sep, F.col("_kept")))
            .drop("_bp", "_kept")
        )
        return pipe._derive(out)

    exploded = d.select(F.col(id_col).alias("_id"), F.posexplode(parts).alias("_pos", "_line"))
    kept2 = exploded.join(common, F.md5(F.col("_line")) == F.col("_lh"), "left_anti")
    reasm = kept2.groupBy("_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_nk"),
    )
    out = (
        d.withColumn("n_lines", F.size(parts).cast("bigint"))
        .join(reasm, F.col(id_col) == F.col("_id"), "left")
        .withColumn(
            "n_dropped",
            (F.col("n_lines") - F.coalesce(F.col("_nk"), F.lit(0))).cast("bigint"),
        )
        .withColumn("text_clean", F.coalesce(F.col("_clean"), F.lit("")))
        .drop("_id", "_nk", "_clean")
    )
    return pipe._derive(out)


def tune_lsh(
    threshold: float,
    num_hashes: int,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
    grid: int = 400,
) -> dict:
    """Pick the MinHash LSH banding (bands x rows = num_hashes) whose
    S-curve best separates pairs around ``threshold``: for each divisor
    split, the probability a pair with jaccard s shares >= 1 band bucket
    is ``1 - (1 - s^rows)^bands``; the tuner integrates the curve's
    false-positive mass below the threshold and false-negative mass
    above it (uniform grid, trapezoid-free simple sum — the standard
    datasketch-style weighted objective) and returns the argmin.

    Driver-side arithmetic only (no Spark job): use it to choose the
    ``bands`` argument of :func:`minhash_pairs` before a corpus run.
    Returns {"bands", "rows", "threshold_50" (the curve's midpoint
    (1/bands)^(1/rows)), "fp_area", "fn_area", "candidates": [...]}.
    """
    if not 0 < threshold < 1:
        raise ValueError("tune_lsh: threshold must be in (0, 1)")
    splits = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    results = []
    for bands, rows in splits:
        fp = fn = 0.0
        for i in range(grid):
            s = (i + 0.5) / grid
            p = 1.0 - (1.0 - s**rows) ** bands
            if s < threshold:
                fp += p / grid
            else:
                fn += (1.0 - p) / grid
        results.append(
            {
                "bands": bands,
                "rows": rows,
                "threshold_50": (1.0 / bands) ** (1.0 / rows),
                "fp_area": fp,
                "fn_area": fn,
                "cost": fp_weight * fp + fn_weight * fn,
            }
        )
    best = min(results, key=lambda r: r["cost"])
    out = dict(best)
    out["candidates"] = results
    return out
