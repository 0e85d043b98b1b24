"""Distributed global ranking — no single-partition sort.

An unpartitioned ``Window.orderBy`` funnels every row through ONE task,
the canonical scale killer. The standard scalable alternative implemented
here: range-repartition on the sort key (each partition holds a contiguous
key range, ascending with partition id), rank rows *within* each partition,
and add the driver-computed cumulative row-count offset of the preceding
partitions. Both passes are fully parallel; the only driver-side data is
one (partition_id, count) row per shuffle partition. The range-shuffled
frame is materialized (localCheckpoint) before the stats job so both
jobs observe the SAME partition bounds — a re-executed RangePartitioner
re-samples its bounds, which would silently mis-key the offsets.

Used by diagnostics that need exact quantile buckets (decile/marginal —
reference diags.go:354-473, 592-731) with NTILE-identical assignment, so
the DuckDB oracle parity of the single-partition form is preserved.

Carry-ins
---------
The per-partition carry-ins (row offsets, prefix sums, last values) enter
the plan as ONE ``session._plan_literal`` array indexed by partition id,
``element_at(carries, _gpid + 1)``, at every partition count. The array
has an entry for every pid up to the largest, so every row's index is in
range under ANSI. Catalyst folds it into one array constant, which
generated code holds as a single reference however long it is; the lookup
is O(1) per row and no broadcast build job runs. It replaced a literal
``create_map`` (up to 64 partitions; 2P map children break codegen at
production partition counts) and a broadcast join of the carry rows
(above 64). Warm ``local[4]`` session on a 4-vCPU VM, sf0.01 lineitem
ordered by (l_orderkey, l_linenumber), the three forms interleaved (12
repeats at P=4, 6 at P=512, each form forced at both P), median CPU-s of
the engine / Spark jobs per call:

====================================  ============  ============  ============
call                                  literal       map           join
====================================  ============  ============  ============
``global_row_number``, P=4            0.78 / 7      0.70 / 7      0.81 / 8
``attach_running_ops``, P=4           1.00 / 8      1.23 / 8      1.45 / 9
``decile`` query, P=4                 1.27 / 10     1.39 / 10     1.69 / 11
``global_row_number``, P=512          11.78 / 7     12.35 / 7     11.91 / 8
``attach_running_ops``, P=512         20.53 / 8     23.19 / 8     19.05 / 9
``decile`` query, P=512               22.16 / 10    22.19 / 10    22.43 / 11
====================================  ============  ============  ============

Where the literal is slower, the gap lies inside the spread between
repeats (interquartile ranges of 0.14-0.58 CPU-s at P=4, 0.8-2.5 at
P=512), and the join always costs one job more.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from seafan_spark.session import _plan_literal

OrderKeys = list[tuple[str, bool]]  # (column, ascending)

def _order_cols(order: OrderKeys) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def global_row_number(
    df: DataFrame, order: OrderKeys, out: str = "_grn"
) -> tuple[DataFrame, int]:
    """Attach an exact 1-based global row number under ``order`` without a
    single-partition sort. Returns (df_with_rank, total_rows).

    ``order`` should be a total order (include tiebreak columns) for a
    deterministic result — same contract as any rank over ties.
    """
    cols = _order_cols(order)
    # materialize the range shuffle ONCE: the stats job and the final job
    # are separate actions on separately-planned Datasets, and a re-run
    # RangePartitioner re-samples its bounds (seeded by fresh RDD ids) —
    # rows near a boundary could land in a different _gpid than the one
    # the collected counts were keyed by, corrupting every offset.
    # Rows are sorted WITHIN partitions before the checkpoint (round-10):
    # the checkpoint then stores the order physically, and the per-
    # partition row number is plain arithmetic over
    # monotonically_increasing_id (consecutive within a partition by
    # construction) — no post-checkpoint Exchange + Sort + Window, which
    # re-shuffled and re-sorted the full relation once per consumer.
    d = (
        df.repartitionByRange(*cols)
        .sortWithinPartitions(*cols)
        .withColumn("_gpid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    d = d.withColumn("_mid", F.monotonically_increasing_id())
    stats = {
        r["_gpid"]: (r["cnt"], r["mn"])
        for r in d.groupBy("_gpid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("_mid").alias("mn"))
        .collect()
    }
    total = sum(c for c, _ in stats.values())
    if not stats:
        return df.withColumn(out, F.lit(None).cast("long")), 0
    # One fused addend per partition: global rownum = _mid + (offset of
    # earlier partitions - first _mid in this partition + 1), looked up
    # in the dense carry array (see "Carry-ins" above).
    adj: list[int | None] = [None] * (max(stats) + 1)
    acc = 0
    for pid in sorted(stats):
        cnt, mn = stats[pid]
        adj[pid] = int(acc - mn + 1)
        acc += cnt
    adj_col = F.element_at(_plan_literal(adj, "array<bigint>"), F.col("_gpid") + 1)
    d = d.withColumn(out, (F.col("_mid") + adj_col).cast("long"))
    return d.drop("_gpid", "_mid"), total


def ntile_bucket_col(rank: Column, total: int, n_buckets: int) -> Column:
    """Bucket assignment identical to SQL ``NTILE(n) OVER (ORDER BY ...)``
    given a 1-based dense global rank: the first ``total mod n`` buckets get
    ``total div n + 1`` rows, the rest ``total div n``. 1-based bucket ids.
    """
    base, rem = divmod(total, n_buckets)
    if base == 0:
        return rank.cast("int")
    cut = rem * (base + 1)
    return (
        F.when(rank <= F.lit(cut), F.floor((rank - 1) / F.lit(base + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((rank - F.lit(cut) - 1) / F.lit(base)) + 1)
        .cast("int")
    )


def ntile_exact(
    df: DataFrame, order: OrderKeys, n_buckets: int, out: str = "_ntile"
) -> tuple[DataFrame, int]:
    """NTILE with no unpartitioned window: global_row_number + closed-form
    bucket assignment. Returns (df_with_bucket, total_rows); the helper rank
    column is dropped."""
    d, total = global_row_number(df, order, "_grn_nt")
    d = d.withColumn(out, ntile_bucket_col(F.col("_grn_nt"), total, n_buckets))
    return d.drop("_grn_nt"), total


#: request kinds accepted by :func:`attach_running_ops`
RUNNING_KINDS = ("rownum", "sum", "lag")


def attach_running_ops(
    df: DataFrame, order: OrderKeys, requests: list[tuple[str, str, Column | None]]
) -> DataFrame:
    """Attach order-dependent columns under a GLOBAL row order without an
    unpartitioned window — the scale substrate for the expression
    language's row()/lag/cume*/count*/prod* when no partition keys are
    given.

    Same two-pass shape as :func:`global_row_number`: range-repartition on
    the order keys, compute every request *within* each partition in one
    shared window pass, then stitch partitions together with driver-side
    carry-ins (one collected row per partition: counts, per-request sums,
    per-request last values) attached as one literal array indexed by
    partition id (see "Carry-ins" above).

    ``requests`` entries are ``(out_name, kind, col)``:

    - ``("r", "rownum", None)`` — 1-based global row number (long).
    - ``("s", "sum", c)`` — running sum of ``c`` over rows up to and
      including the current one, with SQL semantics: NULL until the first
      non-null contribution, nulls skipped.
    - ``("l", "lag", c)`` — previous row's value of ``c`` (NULL at the
      global first row).

    All requested columns attach in ONE range shuffle + one small stats
    job; every per-row computation is within-partition."""
    for _, kind, _ in requests:
        if kind not in RUNNING_KINDS:
            raise ValueError(f"attach_running_ops: unknown kind {kind!r}")
    cols = _order_cols(order)
    # materialized once — see global_row_number: a re-executed range
    # shuffle may re-sample different partition bounds, which would break
    # every carry-in keyed by _gpid. The within-partition window columns
    # are computed BEFORE the checkpoint (round-10, second batch): a
    # localCheckpoint reports UnknownPartitioning, so windows above it
    # cost a full Exchange + Sort + Window once per consumer subtree —
    # materialized inside the checkpoint they run exactly once, and the
    # stats collect below reads stored columns.
    d = df.repartitionByRange(*cols).withColumn("_gpid", F.spark_partition_id())
    wb = Window.partitionBy("_gpid").orderBy(*cols)
    wb_run = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = d.withColumn("_lrn", F.row_number().over(wb))

    # within-partition pieces + per-partition stats, one pass each
    attach: dict[str, Column] = {}
    aggs: list[Column] = [F.count(F.lit(1)).alias("_cnt")]
    for name, kind, col in requests:
        if kind == "sum":
            attach[f"{name}__wb"] = F.sum(col).over(wb_run)
            attach[f"{name}__wbc"] = F.count(col).over(wb_run)
            aggs.append(F.sum(col).alias(f"{name}__tot"))
            aggs.append(F.count(col).alias(f"{name}__cnt"))
        elif kind == "lag":
            attach[f"{name}__wb"] = F.lag(col, 1).over(wb)
            # struct wrapper: the carried value itself may be NULL, and the
            # struct keeps max_by from conflating that with "no row"
            aggs.append(
                F.max_by(F.struct(col.alias("v")), F.col("_lrn")).alias(f"{name}__last")
            )
    if attach:
        d = d.withColumns(attach)
    d = d.localCheckpoint(eager=True)
    stats_df = d.groupBy("_gpid").agg(*aggs)
    stat_types = {f.name: f.dataType for f in stats_df.schema.fields}
    stats = {r["_gpid"]: r for r in stats_df.collect()}
    pids = sorted(stats)

    # The carry-ins, one struct per partition id (see "Carry-ins" above):
    # row offset, then per request the prefix sum and non-null count of
    # the earlier partitions (sum) or the last row's value before this
    # partition (lag). Fields are named by request position, so output
    # names never have to be valid in the literal's type string.
    fields = ["roff:bigint"]
    carry = [{"roff": None} for _ in range(max(pids, default=-1) + 1)]
    acc = 0
    for pid in pids:
        carry[pid]["roff"] = acc
        acc += stats[pid]["_cnt"]
    for i, (name, kind, _col) in enumerate(requests):
        if kind == "sum":
            fields += [f"s{i}:{stat_types[f'{name}__tot'].simpleString()}", f"c{i}:bigint"]
            s_acc, c_acc = None, 0
            for pid in pids:
                carry[pid][f"s{i}"], carry[pid][f"c{i}"] = s_acc, c_acc
                tot = stats[pid][f"{name}__tot"]
                if tot is not None:
                    s_acc = tot if s_acc is None else s_acc + tot
                c_acc += stats[pid][f"{name}__cnt"]
        elif kind == "lag":
            vtype = stat_types[f"{name}__last"]["v"].dataType
            fields.append(f"p{i}:{vtype.simpleString()}")
            prev = None
            for pid in pids:
                carry[pid][f"p{i}"] = prev
                last = stats[pid][f"{name}__last"]
                if last is not None:  # non-empty partition; structs as dicts
                    prev = last.asDict(recursive=True)["v"]
    carries = _plan_literal(carry, f"array<struct<{','.join(fields)}>>")
    d = d.withColumn("_aro_c", F.element_at(carries, F.col("_gpid") + 1))

    out_cols: dict[str, Column] = {}
    drop = ["_gpid", "_lrn", "_aro_c"]
    for i, (name, kind, col) in enumerate(requests):
        if kind == "rownum":
            out_cols[name] = (F.col("_lrn") + F.col("_aro_c.roff")).cast("long")
        elif kind == "sum":
            drop += [f"{name}__wb", f"{name}__wbc"]
            zero = F.lit(0).cast(stat_types[f"{name}__tot"].simpleString())
            seen = F.col(f"_aro_c.c{i}") + F.col(f"{name}__wbc")
            total = F.coalesce(F.col(f"_aro_c.s{i}"), zero) + F.coalesce(
                F.col(f"{name}__wb"), zero
            )
            # NULL until the first non-null contribution — SQL running-sum
            # semantics (no otherwise: WHEN without ELSE yields NULL)
            out_cols[name] = F.when(seen > 0, total)
        elif kind == "lag":
            drop.append(f"{name}__wb")
            out_cols[name] = F.when(F.col("_lrn") > 1, F.col(f"{name}__wb")).otherwise(
                F.col(f"_aro_c.p{i}")
            )
    d = d.withColumns(out_cols)
    return d.drop(*drop)


def keyed_running_scan(
    df: DataFrame,
    keys: "Sequence[str]",
    order: OrderKeys,
    val: Column | None = None,
    out_prev: str | None = None,
    out_next: str | None = None,
    rownum_out: str | None = None,
    total_out: str | None = None,
    sums: "dict[str, Column] | None" = None,
) -> DataFrame:
    """Keyed order-dependent scans with NO per-key-cell single task — the
    grouped sibling of :func:`attach_running_ops` for operators whose
    ``Window.partitionBy(keys)`` keys are low-cardinality (a handful of
    segments over a 100 TB corpus puts a corpus-fraction cell on one task).

    Range-repartition on ``(keys..., order...)`` so each key cell spans a
    contiguous RUN of partitions (never confined to one), compute each
    request within (partition, key) cells, then stitch the runs together
    through a tiny per-(partition, key) stats relation — O(shuffle
    partitions + key cells) rows — broadcast-joined back. Attachable
    columns, all under the keyed total order ``order``:

    - ``rownum_out`` — exact 1-based row number within the key cell.
    - ``total_out`` — the key cell's total row count (long).
    - ``out_prev`` — last non-null ``val`` STRICTLY BEFORE the row
      (``rowsBetween(unboundedPreceding, -1)`` semantics across the
      whole cell); ``val`` may be a struct for multi-column payloads.
    - ``out_next`` — first non-null ``val`` strictly after the row.
    - ``sums`` — {out_name: column}: running sum INCLUDING the current
      row (``rowsBetween(unboundedPreceding, 0)``) per key cell.
      Contract: the summed columns are NON-NULL (the caller's
      aggregates already coalesced) — NULLs would need the
      null-until-first-contribution bookkeeping of
      :func:`attach_running_ops`, which this fast path skips.

    The range shuffle is materialized once (``localCheckpoint``) for the
    same bounds-resampling reason as :func:`global_row_number`. The
    stats relation's own windows order partition ids per key — bounded
    by the shuffle-partition count, never by data size.
    """
    keys = list(keys)
    if not order:
        raise ValueError("keyed_running_scan: order must be non-empty")
    sums = dict(sums or {})
    requested = ({total_out, rownum_out, out_prev, out_next} | set(sums)) - {None}
    if requested & set(df.columns):
        raise ValueError("keyed_running_scan: output name collides with input")
    ocols = _order_cols(order)
    rev_ocols = [F.col(c).desc() if asc else F.col(c).asc() for c, asc in order]
    kcols = [F.col(k).asc() for k in keys]
    # Fast path (round-10): when only rownum/total are requested, sort
    # within the range partitions BEFORE the checkpoint so the order is
    # stored physically; the within-cell row number is then arithmetic
    # over monotonically_increasing_id (consecutive within a partition,
    # and a key cell's rows are contiguous because keys lead the sort)
    # minus the per-(partition, key) minimum carried by the stats
    # relation that is broadcast anyway. This removes the
    # post-checkpoint Exchange + Sort + Window over the full relation
    # that every consumer of the scan used to pay. Scans carrying
    # running sums or prev/next values still need the ordered window.
    fast = val is None and not sums
    d = df.repartitionByRange(*(kcols + ocols))
    if fast:
        d = d.sortWithinPartitions(*(kcols + ocols))
    d = d.withColumn("_gpid", F.spark_partition_id())
    if fast:
        # the slow path checkpoints AFTER its window columns (below);
        # both paths materialize the range shuffle exactly once, so the
        # bounds-resampling hazard never arises
        d = d.localCheckpoint(eager=True)
    if fast:
        d = d.withColumn("_mid", F.monotonically_increasing_id())
        stats = d.groupBy("_gpid", *keys).agg(
            F.count(F.lit(1)).alias("_cnt"), F.min("_mid").alias("_mn")
        )
        wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
        wk_asc = wk.orderBy(F.col("_gpid").asc())
        offsets = stats.select(
            "_gpid",
            *keys,
            # fused addend: rownum = _mid + (earlier-partition count of
            # this key cell - first _mid of the cell in this partition + 1)
            (
                F.coalesce(
                    F.sum("_cnt").over(
                        wk_asc.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
                - F.col("_mn")
                + F.lit(1)
            ).cast("long").alias("_krs_adj"),
            F.sum("_cnt")
            .over(
                wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
            .cast("long")
            .alias("_krs_tot"),
        )
        d = d.join(F.broadcast(offsets), ["_gpid", *keys], "left")
        fast_out: dict[str, Column] = {}
        if rownum_out:
            fast_out[rownum_out] = (F.col("_mid") + F.col("_krs_adj")).cast("long")
        if total_out:
            fast_out[total_out] = F.col("_krs_tot")
        d = d.withColumns(fast_out)
        return d.drop("_gpid", "_mid", "_krs_adj", "_krs_tot")
    wloc = Window.partitionBy("_gpid", *keys).orderBy(*ocols)
    d = d.withColumn("_lrn", F.row_number().over(wloc))
    if val is not None:
        d = d.withColumn("_krs_val", val)
    for name, col in sums.items():
        d = d.withColumn(f"_krs_sv_{name}", col)
    # Every within-partition window column is computed BEFORE the eager
    # checkpoint (round-10, second batch): a localCheckpoint reports
    # UnknownPartitioning, so windows sitting ABOVE it cost a full
    # Exchange + Sort + Window of the relation once per consumer subtree
    # (weighted quantiles paid it twice in ONE action: main branch +
    # per-cell-total branch). Materialized inside the checkpoint they are
    # computed exactly once; everything after is groupBy + broadcast join
    # + projection. The checkpoint also physically stores rows in window
    # order, so the stats sums below fold in the same sorted order the
    # running sums use.
    pre: dict[str, Column] = {}
    for name in sums:
        pre[f"_krs_run_{name}"] = F.sum(f"_krs_sv_{name}").over(
            wloc.rowsBetween(Window.unboundedPreceding, 0)
        )
    if val is not None and out_prev:
        pre["_krs_lprev"] = F.last("_krs_val", ignorenulls=True).over(
            wloc.rowsBetween(Window.unboundedPreceding, -1)
        )
    if val is not None and out_next:
        wloc_rev = Window.partitionBy("_gpid", *keys).orderBy(*rev_ocols)
        pre["_krs_lnext"] = F.last("_krs_val", ignorenulls=True).over(
            wloc_rev.rowsBetween(Window.unboundedPreceding, -1)
        )
    if pre:
        d = d.withColumns(pre)
    d = d.localCheckpoint(eager=True)
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if val is not None:
        nn_rn = F.when(F.col("_krs_val").isNotNull(), F.col("_lrn"))
        aggs += [
            F.max_by(F.col("_krs_val"), nn_rn).alias("_lastv"),
            F.min_by(F.col("_krs_val"), nn_rn).alias("_firstv"),
        ]
    for name in sums:
        # bit-equal to the running sum's value at the cell's last row:
        # the checkpoint stores rows in window order, so this fold adds
        # the same values in the same order
        aggs.append(
            F.max_by(F.col(f"_krs_run_{name}"), F.col("_lrn")).alias(f"_stot_{name}")
        )
    stats = d.groupBy("_gpid", *keys).agg(*aggs)
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    wk_asc = wk.orderBy(F.col("_gpid").asc())
    proj: dict[str, Column] = {
        "_krs_off": F.coalesce(
            F.sum("_cnt").over(wk_asc.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
        "_krs_tot": F.sum("_cnt")
        .over(wk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .cast("long"),
    }
    if val is not None:
        wk_desc = wk.orderBy(F.col("_gpid").desc())
        # carry-ins: nearest EARLIER partition's last non-null val, nearest
        # LATER partition's first non-null val (per key cell)
        proj["_krs_cprev"] = F.last("_lastv", ignorenulls=True).over(
            wk_asc.rowsBetween(Window.unboundedPreceding, -1)
        )
        proj["_krs_cnext"] = F.last("_firstv", ignorenulls=True).over(
            wk_desc.rowsBetween(Window.unboundedPreceding, -1)
        )
    for name in sums:
        proj[f"_krs_soff_{name}"] = F.sum(f"_stot_{name}").over(
            wk_asc.rowsBetween(Window.unboundedPreceding, -1)
        )
    offsets = stats.select(
        "_gpid", *keys, *[c.alias(n) for n, c in proj.items()]
    )
    d = d.join(F.broadcast(offsets), ["_gpid", *keys], "left")
    out: dict[str, Column] = {}
    drop = ["_gpid", "_lrn", "_krs_off", "_krs_tot"]
    if rownum_out:
        out[rownum_out] = (F.col("_lrn") + F.col("_krs_off")).cast("long")
    if total_out:
        out[total_out] = F.col("_krs_tot")
    for name in sums:
        run = F.col(f"_krs_run_{name}")
        off = F.col(f"_krs_soff_{name}")
        out[name] = F.when(off.isNull(), run).otherwise(run + off)
        drop += [f"_krs_sv_{name}", f"_krs_run_{name}", f"_krs_soff_{name}"]
    if val is not None:
        drop += ["_krs_val", "_krs_cprev", "_krs_cnext"]
        if out_prev:
            drop.append("_krs_lprev")
            out[out_prev] = F.coalesce(F.col("_krs_lprev"), F.col("_krs_cprev"))
        if out_next:
            drop.append("_krs_lnext")
            out[out_next] = F.coalesce(F.col("_krs_lnext"), F.col("_krs_cnext"))
    d = d.withColumns(out)
    return d.drop(*drop)


def keyed_midrank(
    df: DataFrame,
    keys: "Sequence[str]",
    val: str,
    mid_out: str | None = None,
    tie_out: str | None = None,
    rank_out: str | None = None,
    total_out: str | None = None,
) -> DataFrame:
    """Per-key rank statistics of ``val`` with NO key-cell single task —
    the drop-in replacement for the ``rank()/percent_rank() OVER
    (PARTITION BY keys ORDER BY val)`` pattern whose low-cardinality
    keys would funnel a corpus-fraction sort through one task (the
    round-10 audit's hazard class: gini/spearman/kruskal/mannwhitney/
    trimmed-mean/grouped-median all carried it).

    Built on :func:`keyed_running_scan` (range-partitioned keyed row
    number) plus ONE map-side-combinable (keys, val) groupBy joined
    back on the tie group:

    - ``rank_out``  — SQL ``rank()``: min row number over the tie group.
    - ``mid_out``   — midrank ``rank + (t-1)/2``: avg row number over
      the tie group. EXACT: rownums in a tie group are consecutive
      integers, so the average is a multiple of 0.5 (IEEE-exact), bit-
      equal to the window form ``rank() + (count_over_ties - 1)/2``.
    - ``tie_out``   — tie-group size t (double, matching the window
      count the rank-stat formulas consume).
    - ``total_out`` — rows per key cell (long).

    The tie join shuffles on the high-cardinality (keys, val) composite
    — fully parallel; ties within one (key, value) cell are the only
    concentration, which is the data's own tie structure, not the
    operator's.
    """
    need_any = mid_out or tie_out or rank_out
    d = keyed_running_scan(
        df,
        keys,
        [(val, True)],
        rownum_out="_kmr_rn",
        total_out=total_out,
    )
    if not need_any:
        return d.drop("_kmr_rn")
    keys = list(keys)
    # Tie statistics as ONE unordered window over the high-cardinality
    # (keys, val) composite (round-10; was a groupBy + null-safe
    # self-join, which re-ran the scan's full pass once per side and
    # added a corpus-sized sort-merge join). Window partitioning groups
    # NULLs exactly like groupBy did, so NULL values/keys keep their tie
    # group; avg/min/count over the tie group's consecutive integer
    # rownums are exact in doubles, bit-identical to the join form. The
    # only per-task concentration is one (key, value) tie group — the
    # data's own tie structure, same as the join's hash partitioning.
    w = Window.partitionBy(*keys, val).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    outs: dict[str, Column] = {}
    if mid_out:
        outs[mid_out] = F.avg("_kmr_rn").over(w)
    if tie_out:
        outs[tie_out] = F.count(F.lit(1)).over(w).cast("double")
    if rank_out:
        outs[rank_out] = F.min("_kmr_rn").over(w)
    return d.withColumns(outs).drop("_kmr_rn")


def ntile_from_rank(rank: Column, total: Column, n_buckets: int) -> Column:
    """Column form of :func:`ntile_bucket_col` — SQL ``NTILE(n)`` bucket
    from a 1-based rank and the (per-key) total as COLUMNS, so the cut is
    computable after :func:`keyed_running_scan` with no window at all.
    Exact integer arithmetic; identical semantics in Spark and DuckDB
    (first ``total mod n`` buckets one row larger)."""
    nb = F.lit(int(n_buckets)).cast("long")
    base = F.floor(total / nb).cast("long")
    rem = (total % nb).cast("long")
    cut = rem * (base + 1)
    return (
        F.when(base == 0, rank)
        .when(rank <= cut, F.floor((rank - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((rank - cut - 1) / base) + 1)
        .cast("int")
    )


def rrf_fuse(
    df: DataFrame,
    id_col: str,
    score_cols: "Sequence[str]",
    keys: "Sequence[str]" = (),
    k_const: int = 60,
    top: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009) of
    several score columns over one candidate relation:

        rrf(c) = Σ_s 1 / (k_const + rank_s(c))

    — the standard way to merge heterogeneous retrievers (BM25 score,
    embedding cosine, recency, clicks) without calibrating their score
    scales; k=60 is the paper's robust default. Each ranker is a column
    of ``df``; ranks are 1-based per ``keys`` group (query id, user,
    segment), descending score with ``id_col`` ASC as a deterministic
    total-order tiebreak. NULL scores rank LAST in their group (a
    retriever that didn't score a candidate shouldn't boost it).
    Returns (keys..., id, rank_<col>..., rrf), optionally only the
    ``top`` fused rows per group.

    Scale shape: with keys, one keyed window per ranker (groups rank
    independently — query-sized relations, no global order) and, when
    ``top`` is set, a WindowGroupLimit-prunable row_number over the
    fused score. With NO keys each ranker stages through
    ``global_row_number`` (range repartition + driver offsets) — never
    a corpus-sized ``partitionBy(lit(0))`` single task."""
    from pyspark.sql import Window

    if not score_cols:
        raise ValueError("rrf_fuse: need at least one score column")
    keys = list(keys)
    d = df
    rank_names = []
    for sc in score_cols:
        rn = f"rank_{sc}"
        rank_names.append(rn)
        order = [F.col(sc).desc_nulls_last(), F.col(id_col).asc()]
        if keys:
            w = Window.partitionBy(*keys).orderBy(*order)
            d = d.withColumn(rn, F.row_number().over(w))
        else:
            d, _ = global_row_number(
                d, [(sc, False), (id_col, True)], rn
            )
    rrf = None
    for rn in rank_names:
        term = F.lit(1.0) / (F.lit(float(k_const)) + F.col(rn))
        rrf = term if rrf is None else rrf + term
    out = d.select(*keys, id_col, *rank_names, rrf.alias("rrf"))
    if top is not None:
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
            if keys
            else None
        )
        if w is not None:
            out = (
                out.withColumn("_fr", F.row_number().over(w))
                .filter(F.col("_fr") <= top)
                .drop("_fr")
            )
        else:
            out = out.orderBy(F.col("rrf").desc(), F.col(id_col).asc()).limit(top)
    return out


def ranking_metrics(
    df: DataFrame,
    query_col: str,
    rank_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Ranking-quality metrics per query — the evaluation companion to
    the retrieval stack (bm25_scores / ann_*_topk / rrf_fuse): graded
    nDCG@k (Järvelin & Kekäläinen 2002), MRR@k, and precision@k over a
    (query, rank, relevance) relation, where ``rank_col`` is the
     1-based system ranking and ``rel_col`` a graded relevance (> 0 =
    relevant for MRR/precision):

        DCG@k  = Σ_{rank<=k} (2^rel − 1) / log2(rank + 1)
        nDCG@k = DCG@k / IDCG@k   (IDCG from the ideal rel-desc order)
        MRR@k  = 1 / min{rank <= k : rel > 0}        (0 if none)
        P@k    = |{rank <= k, rel > 0}| / k

    Returns (query, n, dcg, idcg, ndcg, mrr, precision) — ndcg NULL
    when the query has no relevant results (IDCG 0), rounded to 6 dp.

    Scale shape: ONE keyed window for the ideal ranks (each query's
    candidate list ranks independently — query-sized, never corpus-
    wide) and one (query) aggregation with map-side partial combine;
    every formula is pure Column math (log2/pow in-JVM), so the whole
    evaluation is a single shuffle over queries."""
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    rel = F.col(rel_col).cast("double")
    rank = F.col(rank_col).cast("bigint")
    gain = F.pow(F.lit(2.0), rel) - F.lit(1.0)
    iw = Window.partitionBy(query_col).orderBy(
        rel.desc(), rank.asc()
    )
    d = df.withColumn("_irank", F.row_number().over(iw))
    in_k = rank <= k
    dcg = F.sum(F.when(in_k, gain / F.log2(rank + F.lit(1)))).alias("_dcg")
    idcg = F.sum(
        F.when(F.col("_irank") <= k, gain / F.log2(F.col("_irank") + F.lit(1)))
    ).alias("_idcg")
    first_rel = F.min(F.when(in_k & (rel > 0.0), rank)).alias("_fr")
    hits = F.sum(F.when(in_k & (rel > 0.0), F.lit(1)).otherwise(F.lit(0))).alias(
        "_hits"
    )
    agg = d.groupBy(F.col(query_col).alias("query")).agg(
        F.count(F.lit(1)).alias("n"), dcg, idcg, first_rel, hits
    )
    ndcg = F.when(F.col("_idcg") > 0.0, F.col("_dcg") / F.col("_idcg"))
    mrr = F.when(
        F.col("_fr").isNotNull(), F.lit(1.0) / F.col("_fr")
    ).otherwise(F.lit(0.0))
    return agg.select(
        "query",
        "n",
        round_col(F.coalesce(F.col("_dcg"), F.lit(0.0)), 6).alias("dcg"),
        round_col(F.coalesce(F.col("_idcg"), F.lit(0.0)), 6).alias("idcg"),
        round_col(ndcg, 6).alias("ndcg"),
        round_col(mrr, 6).alias("mrr"),
        round_col(F.col("_hits") / F.lit(float(k)), 6).alias("precision"),
    )
