"""Mergeable cardinality sketches (Apache DataSketches HLL via Spark SQL).

The 100 TB pattern this module exists for: COUNT(DISTINCT x) over arbitrary
slices of a petabyte fact table is a full-shuffle query every time it's
asked. A *sketch table* inverts the cost: one scan builds a tiny
``binary`` HLL sketch per fine-grained group (e.g. per day x segment), and
every later question — distinct users last quarter, per segment, overall —
is answered by unioning a few kilobytes of sketches, never rescanning the
facts. Sketch union is associative/commutative, so rollups compose with
map-side partial aggregation and incremental refresh (today's partition
re-sketched, the rest untouched).

North-star operator (no reference analogue): the reference engine
(seafan) has no approximate-distinct surface at all; Spark ships the
DataSketches HLL functions natively (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``), so the whole module stays
JVM-side — no UDFs, codegen throughout.

Accuracy: relative standard error ~= 1.04 / sqrt(2^lg_k); the default
lg_k=12 gives ~1.6% RSE in ~2.5 KB per sketch. Estimates are
deterministic for a given input set and lg_k (the sketch state is a pure
function of the inserted hash set), which is what lets the driver query
assert a tolerance band as a hash-checkable boolean.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seafan_spark.session import _drop_zip_importers, _plan_literal

DEFAULT_LG_K = 12


def hll_sketch_table(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per group — the
    build-once artifact. One scan, map-side partial aggregation (HLL
    union is the combiner), shuffle carries only partial sketch states
    (~2.5 KB each at lg_k=12), never raw values."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias(sketch_col)
    )


def hll_rollup(
    sketches: DataFrame,
    group_cols: Sequence[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Union fine-grained sketches up to coarser groups (``group_cols`` may
    be empty for a grand total). Input is the sketch table, so this query
    touches kilobytes regardless of the fact table's size."""
    agg = F.hll_union_agg(F.col(sketch_col), F.lit(True)).alias(sketch_col)
    if group_cols:
        return sketches.groupBy(*group_cols).agg(agg)
    return sketches.agg(agg)


def hll_estimate(sketch: Column | str) -> Column:
    """Distinct-count estimate of a sketch column (bigint)."""
    c = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.hll_sketch_estimate(c).alias("estimate")


def hll_overlap(
    sketch_a: Column | str,
    sketch_b: Column | str,
) -> Column:
    """Estimated |A ∩ B| of two sketch columns by inclusion-exclusion:
    |A| + |B| - |A ∪ B|, all three terms read from the sketches — the
    corpus-overlap question ("how many of this week's users/docs did we
    already see?") answered without touching either corpus. Error
    compounds across the three estimates (still ~1%-scale at lg_k=12)
    and can go slightly negative for near-disjoint sets; clamped at 0."""
    a = F.col(sketch_a) if isinstance(sketch_a, str) else sketch_a
    b = F.col(sketch_b) if isinstance(sketch_b, str) else sketch_b
    union = F.hll_union(a, b, True)
    inter = (
        F.hll_sketch_estimate(a)
        + F.hll_sketch_estimate(b)
        - F.hll_sketch_estimate(union)
    )
    return F.greatest(inter, F.lit(0)).alias("overlap")


def misra_gries_candidates(
    df: DataFrame, item_col: str, width: int = 4096
) -> DataFrame:
    """Per-partition Misra–Gries frequent-item survivors.

    One ``mapInPandas`` pass holding at most ``width`` counters per
    partition regardless of domain size (the whole point: a full
    ``groupBy`` over trillions of distinct n-grams shuffles the entire
    domain; this never materializes more than ``width`` items per task).
    Each Arrow batch is counted vectorized (``value_counts``), merged
    into the summary, then batch-decremented: subtract the
    (width+1)-th largest count and drop non-positives — the mergeable-
    summaries form of the MG decrement (Agarwal et al., PODS'12), which
    preserves the classic guarantee that any item with partition count
    > n_p/width survives. Summing over partitions: any item with GLOBAL
    count > n_total/width survives in at least one partition's summary.

    Output: one row per surviving item (columns ``item``, ``est`` — the
    MG estimate, which undercounts by at most n_p/(width+1)) plus one
    null-item row per partition carrying the partition's non-null row
    count (``pcount``) so callers get n_total from the same single scan.
    """
    if width < 1:
        raise ValueError("misra_gries_candidates: width must be >= 1")
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    item_type = df.schema[item_col].dataType
    out_schema = StructType(
        [
            StructField("item", item_type),
            StructField("est", LongType()),
            StructField("pcount", LongType()),
        ]
    )
    col = item_col

    def mg(batches):
        _drop_zip_importers()
        counts: dict = {}
        n_p = 0
        for pdf in batches:
            s = pdf[col].dropna()
            n_p += len(s)
            vc = s.value_counts()
            for item, c in vc.items():
                counts[item] = counts.get(item, 0) + int(c)
            if len(counts) > width:
                cut = sorted(counts.values(), reverse=True)[width]
                counts = {i: c - cut for i, c in counts.items() if c > cut}
        yield pd.DataFrame(
            {
                "item": list(counts.keys()) + [None],
                "est": list(counts.values()) + [None],
                "pcount": [None] * len(counts) + [n_p],
            }
        )

    return df.select(col).mapInPandas(mg, schema=out_schema)


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 20,
    width: int = 4096,
    require_exact: bool = True,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """EXACT top-``k`` items by count over an unbounded domain, without
    ever running a full-width groupBy.

    Pass 1 (:func:`misra_gries_candidates`): bounded-memory per-partition
    survivors — a superset of every item with count > n/width. Pass 2:
    exact counts restricted to the candidate set (broadcast semi join
    against the corpus, map-side partial agg over only candidate rows),
    then top-k by (count desc, item asc).

    Exactness certificate: MG guarantees no item outside the candidate
    set has count > n/width, so if the k-th exact candidate count
    EXCEEDS n/width, the result provably equals the exact top-k. The
    operator checks that on the (checkpointed, k-row) result and raises
    under ``require_exact`` when the certificate fails — the fix is a
    larger ``width``. For zipfian text the certificate holds with tiny
    widths; the k-row output is hash-checkable against a plain SQL
    ``GROUP BY … ORDER BY count DESC LIMIT k`` twin.

    Scale: candidates ≤ partitions × width before the distinct, but for
    skewed real-world domains survivors are far fewer; set
    ``broadcast_candidates=False`` to fall back to a shuffle semi-join
    when the candidate table outgrows broadcast comfort.
    """
    cand_rows = misra_gries_candidates(df, item_col, width).localCheckpoint(
        eager=True
    )
    n_total = cand_rows.agg(F.sum("pcount")).first()[0] or 0
    cand = cand_rows.filter(F.col("item").isNotNull()).select("item").distinct()
    if broadcast_candidates:
        cand = F.broadcast(cand)
    counted = (
        df.select(F.col(item_col).alias("item"))
        .join(cand, "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
    )
    topk = (
        counted.orderBy(F.col("cnt").desc(), F.col("item").asc())
        .limit(k)
        .localCheckpoint(eager=True)
    )
    if require_exact:
        kth = topk.agg(F.min("cnt")).first()[0]
        if kth is not None and kth * width <= n_total:
            raise ValueError(
                f"heavy_hitters: top-k not provably exact "
                f"(k-th count {kth} <= n/width = {n_total}/{width}); "
                "increase width"
            )
        if topk.count() < k:
            # fewer candidates than k: exact only if the candidates cover
            # the whole corpus (then they ARE every distinct item)
            covered = counted.agg(F.sum("cnt")).first()[0] or 0
            if covered < n_total:
                raise ValueError(
                    "heavy_hitters: fewer than k certified candidates; "
                    "increase width"
                )
    return topk


def _mg_compress(items: DataFrame, width: int) -> DataFrame:
    """Compress an ``(item, est)`` count table back to <= ``width`` rows
    with the mergeable-summaries decrement: subtract the (width+1)-th
    largest estimate from everything, keep positives. The cut is read
    from a distributed top-(width+1) (TakeOrdered over a table that is
    already <= partitions x width rows); only the 2-value (count, min)
    scalar ever reaches the driver."""
    top = items.orderBy(F.col("est").desc()).limit(width + 1)
    row = top.agg(
        F.count(F.lit(1)).alias("c"), F.min("est").alias("m")
    ).first()
    cut = int(row["m"]) if (row["c"] or 0) == width + 1 else 0
    if cut == 0:
        return items
    return items.filter(F.col("est") > cut).withColumn(
        "est", F.col("est") - F.lit(cut)
    )


def misra_gries_summary(df: DataFrame, item_col: str, width: int = 4096) -> DataFrame:
    """GLOBAL Misra–Gries summary: at most ``width`` rows of
    ``(item, est)`` plus one null-item row whose ``est`` is the total
    non-null item count n. Built by summing the per-partition summaries
    (:func:`misra_gries_candidates`) per item — a map-side-combined
    aggregation over <= partitions x width slim rows — then one
    decrement back to ``width``.

    Mergeable-summaries guarantee (Agarwal et al., PODS'12): for every
    item, est <= true count <= est + n/(width+1), and any item with true
    count > n/(width+1) is present. The summary is a tiny persistable
    TABLE — the streaming ingest (streaming.stream_heavy_hitters_ingest)
    folds micro-batches into it with :func:`merge_mg_summaries`, with
    the same bound against the all-time n.
    """
    rows = misra_gries_candidates(df, item_col, width).localCheckpoint(eager=True)
    item_type = df.schema[item_col].dataType
    n_row = (
        rows.filter(F.col("item").isNull())
        .agg(F.sum("pcount").alias("est"))
        .select(F.lit(None).cast(item_type).alias("item"), F.coalesce("est", F.lit(0)).alias("est"))
    )
    summed = (
        rows.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
    )
    return _mg_compress(summed, width).unionByName(n_row)


def merge_mg_summaries(a: DataFrame, b: DataFrame, width: int = 4096) -> DataFrame:
    """Merge two MG summaries (the ``(item, est)`` + null-item-n shape of
    :func:`misra_gries_summary`) into one with the same shape and the
    same error bound against the COMBINED n: item estimates add, then
    one decrement back to ``width``; the n rows add. Associative and
    shuffle-light (the inputs are <= width+1 rows each)."""
    u = a.unionByName(b)
    n_row = (
        u.filter(F.col("item").isNull())
        .agg(F.sum("est").alias("est"))
        .select(
            F.lit(None).cast(a.schema["item"].dataType).alias("item"),
            F.coalesce("est", F.lit(0)).alias("est"),
        )
    )
    summed = (
        u.filter(F.col("item").isNotNull()).groupBy("item").agg(F.sum("est").alias("est"))
    )
    return _mg_compress(summed, width).unionByName(n_row)


def heavy_hitters_from_summary(summary: DataFrame, k: int, width: int) -> DataFrame:
    """Top-k candidates from a persisted MG summary with honest bounds:
    ``(item, est_lo, est_hi)`` where est_lo <= true count <= est_hi
    (= est + n/(width+1)). Reads only the summary table — never the
    corpus. An item missing from the summary has true count <=
    n/(width+1); report that floor as ``max_missed``."""
    n = (
        summary.filter(F.col("item").isNull()).agg(F.sum("est")).first()[0] or 0
    )
    slack = n // (width + 1)
    return (
        summary.filter(F.col("item").isNotNull())
        .select(
            "item",
            F.col("est").alias("est_lo"),
            (F.col("est") + F.lit(slack)).alias("est_hi"),
            F.lit(slack).alias("max_missed"),
        )
        .orderBy(F.col("est_lo").desc(), F.col("item").asc())
        .limit(k)
    )


def distinct_over_slices(
    df: DataFrame,
    fine_cols: Sequence[str],
    coarse_cols: Sequence[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """End-to-end demo of the sketch-table pattern: build per-``fine_cols``
    sketches, roll them up to ``coarse_cols``, return estimates. At scale
    the sketch table would be persisted (parquet ``binary`` column) and
    only the rollup re-run per question; ``coarse_cols`` must be a subset
    of ``fine_cols`` for the rollup to be meaningful."""
    missing = [c for c in coarse_cols if c not in fine_cols]
    if missing:
        raise ValueError(f"coarse_cols not in fine_cols: {missing}")
    fine = hll_sketch_table(df, fine_cols, value_col, lg_k)
    coarse = hll_rollup(fine, coarse_cols)
    return coarse.select(
        *coarse_cols, hll_estimate("sketch").alias("estimate")
    )


# --------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005), relational encoding
# --------------------------------------------------------------------------
#
# The CMS is stored SPARSE: one row per touched (row, bucket) cell instead
# of a dense depth x width array — Spark-native (merge is a groupBy SUM,
# estimate is an equi-join + MIN over depth), and never wider than
# min(distinct items, width) * depth cells per group. Like the MG summary
# above it answers point frequency queries from a kilobyte artifact without
# rescanning the corpus; unlike MG it never *drops* items, so it also
# supports sum/inner-product style queries and has the classic one-sided
# error bound: true <= est <= true + e*N/width with prob 1-(1/2)^depth.
#
# Hashing: production mode keys each of the ``depth`` hash rows off
# xxhash64(item, row) (JVM, whole-stage codegen); ``portable=True``
# switches to the md5-prefix arithmetic every other sampler/dedup portable
# mode uses (``conv(substr(md5(item || '#cms' || row), 1, 8), 16, 10)``)
# so a DuckDB oracle can replay cells and estimates bit-for-bit.


def _cms_bucket(item: Column, row: Column, width: int, portable: bool) -> Column:
    if portable:
        h = F.conv(
            F.substring(
                F.md5(F.concat(item, F.lit("#cms"), row.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        return h % F.lit(width)
    return F.pmod(F.xxhash64(item, row), F.lit(width))


def cms_build(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str] = (),
    depth: int = 4,
    width: int = 1024,
    portable: bool = False,
) -> DataFrame:
    """Build a count-min sketch of ``item_col`` occurrences (one sketch
    per ``keys`` group). Returns the sparse cell relation
    (keys..., row, bucket, cnt).

    Scale shape: ONE scan exploded ``depth`` ways, then a groupBy whose
    map-side combine collapses each task's contribution to at most
    depth x width cells before the shuffle — the exchange carries sketch
    cells, never corpus rows. NULL items are excluded (count them
    separately if needed)."""
    if depth < 1 or width < 2:
        raise ValueError("cms_build: need depth >= 1 and width >= 2")
    keys = list(keys)
    it = F.col(item_col).cast("string")
    d = df.filter(it.isNotNull()).select(*keys, it.alias("_it"))
    e = d.select(
        *keys,
        "_it",
        F.explode(_plan_literal(list(range(depth)), "array<int>")).alias("row"),
    )
    return (
        e.select(
            *keys,
            "row",
            _cms_bucket(F.col("_it"), F.col("row"), width, portable).alias("bucket"),
        )
        .groupBy(*keys, "row", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Merge two CMS cell relations built with the SAME depth/width/mode:
    element-wise cell sum (union + groupBy SUM — associative, so rollups
    compose map-side like the HLL table above)."""
    keys = list(keys)
    return (
        a.select(*keys, "row", "bucket", "cnt")
        .unionByName(b.select(*keys, "row", "bucket", "cnt"))
        .groupBy(*keys, "row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    keys: Sequence[str] = (),
    depth: int = 4,
    width: int = 1024,
    portable: bool = False,
) -> DataFrame:
    """Point-estimate the frequency of each item in ``items`` from a CMS
    cell relation: re-hash the item into its ``depth`` cells, look them
    up, and take the MIN (a missing cell is 0 — the item definitely
    hashed to an untouched bucket in that row). Returns
    (keys..., item, est).

    Scale shape: the probe side is items x depth (queries are small);
    the lookup is an equi-join on (keys, row, bucket) against the
    kilobyte sketch relation — broadcastable — then one MIN per item."""
    keys = list(keys)
    it = F.col(item_col).cast("string")
    probes = (
        items.filter(it.isNotNull())
        .select(*keys, it.alias("item"))
        .distinct()
        .select(
            *keys,
            "item",
            F.explode(_plan_literal(list(range(depth)), "array<int>")).alias("row"),
        )
        .withColumn(
            "bucket", _cms_bucket(F.col("item"), F.col("row"), width, portable)
        )
    )
    joined = probes.join(
        sketch.select(*keys, "row", "bucket", "cnt"),
        on=[*keys, "row", "bucket"],
        how="left",
    ).fillna(0, subset=["cnt"])
    return joined.groupBy(*keys, "item").agg(F.min("cnt").alias("est"))
