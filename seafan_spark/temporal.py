"""Temporal joins: as-of and range joins over event-time columns.

The reference engine has no temporal-join operator (its window functions,
``parser.go`` cumeBefore/lag family, cover only single-table order
dependence) — these are the north-star extensions a training-data /
event-analytics pipeline needs, built Spark-first:

- ``asof_join``: for every left row, the single right row with the
  nearest time at-or-before (``backward``) / at-or-after (``forward``)
  it, per join key. Implemented as the union + ordered-window
  ``last(ignorenulls)`` algorithm: ONE shuffle on the join key, no
  range-cross-product, no per-row search — the canonical
  scale-out as-of plan (vs. a range join that explodes before pruning).
- ``range_join``: all right rows with time in ``[left - before,
  left + after]`` per key, as a coarse-bucket equi-join + exact filter:
  each right row lands in O(span/bucket + 1) buckets, the join is an
  equi-join on (key, bucket), and Catalyst never sees an inequality-only
  join (which would fall back to BroadcastNestedLoop at scale).

Both accept plain DataFrames or Pipelines (anything with ``.df``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


from seafan_spark.pipeline import as_df as _df  # shared unwrap contract
from seafan_spark.session import _local_frame, _plan_literal


def epoch_us_col(df: DataFrame, col: str) -> Column:
    """Epoch-microseconds (bigint) from whatever form an event-time column
    arrives in — the corpus has shipped ``events.ts`` both as parquet
    TIMESTAMP(NANOS) (read as bigint nanos under
    ``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (read as TIMESTAMP_NTZ):

    - bigint/int: treated as epoch **nanoseconds**, exact integer
      floor-division to micros (epoch-nanos exceed a double's 53-bit
      mantissa, so ``/ 1000`` through float could drift ~1µs);
    - TIMESTAMP_NTZ: ``timestampdiff(MICROSECOND, epoch, ts)`` — wall
      time treated as UTC, independent of the session time zone (a
      plain ``cast`` + ``unix_micros`` would shift by the TZ offset),
      matching how DuckDB/pandas read the same file;
    - TIMESTAMP: ``unix_micros`` (an instant; TZ-free by definition).
    """
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.IntegerType):
        # a 32-bit int holds at most ~2.1 seconds of epoch-nanos, so an
        # IntegerType event time is never nanos — silently treating it as
        # such would collapse all events into period 0
        raise TypeError(
            f"epoch_us_col: {col} is 32-bit int - epoch times must be "
            "bigint nanoseconds or a timestamp type; cast explicitly"
        )
    if isinstance(dt, T.LongType):
        # FLOOR division (`div` truncates toward zero): pre-epoch nano
        # timestamps must round down, not toward 1970 — pmod is
        # non-negative, so subtracting it yields the floor multiple
        return F.expr(f"(`{col}` - pmod(`{col}`, 1000)) div 1000")
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', `{col}`)")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(F.col(col))
    raise TypeError(f"epoch_us_col: {col} has unsupported type {dt}")


def asof_join(
    left,
    right,
    on: str | Sequence[str],
    left_time: str,
    right_time: str | None = None,
    direction: str = "backward",
    tolerance: int | float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """As-of join: attach to each left row the right row whose time is
    nearest at-or-before it (``direction='backward'``) or at-or-after it
    (``'forward'``), within the same ``on`` key group. Left rows with no
    qualifying right row keep NULL right columns (left-join semantics).

    ``tolerance`` (same units as the time columns) drops matches further
    than that from the left time.

    Plan: tag both sides, union by name, one window partitioned by the
    key ordered by (time, side) with the right side sorting first at
    equal times (so an exactly-simultaneous right row matches), and take
    ``last(right_payload, ignorenulls=True)`` over the unbounded-to-
    current frame. Cost: one hash shuffle of |L|+|R| rows on the key and
    a per-key sort — no candidate explosion, skew-safe under AQE.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("asof_join: direction must be 'backward' or 'forward'")
    ldf, rdf = _df(left), _df(right)
    keys = [on] if isinstance(on, str) else list(on)
    rt = right_time or left_time

    # unify the two time columns WITHOUT losing precision: epoch-nanos
    # (~1.7e18) exceed double's 53-bit mantissa, so integral times must
    # stay integral or near-simultaneous events would collate equal
    integral = {"tinyint", "smallint", "int", "bigint"}
    ttype = (
        "bigint"
        if (
            ldf.schema[left_time].dataType.simpleString() in integral
            and rdf.schema[rt].dataType.simpleString() in integral
        )
        else "double"
    )

    # right payload = every non-key right column (incl. its time column),
    # renamed with `suffix` where it collides with a left column
    out_names: dict[str, str] = {}
    for c in rdf.columns:
        if c in keys:
            continue
        out_names[c] = c + suffix if c in ldf.columns else c

    rpay = F.struct(
        F.col(rt).cast(ttype).alias("__rt"),
        *[F.col(c).alias(n) for c, n in out_names.items()],
    )
    pay_type = rdf.select(rpay.alias("p")).schema[0].dataType

    l2 = ldf.select(
        *keys,
        F.col(left_time).cast(ttype).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*ldf.columns).alias("__lrow"),
        F.lit(None).cast(pay_type).alias("__rpay"),
    )
    lrow_type = l2.schema["__lrow"].dataType
    r2 = rdf.select(
        *keys,
        F.col(rt).cast(ttype).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(lrow_type).alias("__lrow"),
        rpay.alias("__rpay"),
    )
    u = l2.unionByName(r2)

    if direction == "backward":
        order = [F.col("__t").asc(), F.col("__side").asc()]
    else:
        order = [F.col("__t").desc(), F.col("__side").asc()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("__rpay", ignorenulls=True).over(w)

    if tolerance is not None:
        gap = (
            (F.col("__t") - matched["__rt"])
            if direction == "backward"
            else (matched["__rt"] - F.col("__t"))
        )
        tol = (
            F.lit(int(tolerance))
            if ttype == "bigint" and float(tolerance).is_integer()
            else F.lit(float(tolerance))
        )
        matched = F.when(gap <= tol, matched)

    res = (
        u.withColumn("__m", matched)
        .filter(F.col("__side") == 1)
        .select(
            F.col("__lrow.*"),
            *[F.col("__m")[n].alias(n) for n in out_names.values()],
        )
    )
    return res


def range_join(
    left,
    right,
    on: str | Sequence[str],
    left_time: str,
    right_time: str | None = None,
    before: int | float = 0,
    after: int | float = 0,
    bucket: int | float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Inner range join: every (left, right) pair sharing the ``on`` key
    with ``right_time`` in ``[left_time - before, left_time + after]``.

    Plan: quantize time into coarse buckets of width ``bucket`` (default
    ``before + after`` clamped to >= 1), explode each left row into the
    bucket range its window spans (``sequence`` — size span/bucket + 1,
    typically 2-3), equi-join on (key, bucket), then apply the exact
    range predicate. This keeps the join a hash equi-join (shuffle on
    composite key) instead of an inequality join Catalyst can only
    nested-loop; duplicate pairs from bucket overlap are impossible
    because each right row maps to exactly ONE bucket.
    """
    ldf, rdf = _df(left), _df(right)
    keys = [on] if isinstance(on, str) else list(on)
    rt = right_time or left_time
    if before < 0 or after < 0:
        raise ValueError("range_join: before/after must be >= 0")

    # same precision rule as asof_join: epoch-nanos don't fit a double,
    # so bucket math and the exact predicate stay in bigint when both
    # time columns (and the bounds) are integral
    integral = {"tinyint", "smallint", "int", "bigint"}
    ints_ok = (
        ldf.schema[left_time].dataType.simpleString() in integral
        and rdf.schema[rt].dataType.simpleString() in integral
        and float(before).is_integer()
        and float(after).is_integer()
        and (bucket is None or float(bucket).is_integer())
    )
    ttype = "bigint" if ints_ok else "double"
    raw_width = bucket if bucket is not None else max(before + after, 1)
    width = F.lit(int(raw_width) if ints_ok else float(raw_width))
    before_l = F.lit(int(before) if ints_ok else float(before))
    after_l = F.lit(int(after) if ints_ok else float(after))

    def fdiv(x: Column) -> Column:
        # exact floor division for bigint: subtract the (non-negative)
        # pmod remainder, then divide in DECIMAL — `/` on bigints is
        # DOUBLE division, inexact past 2^53 (epoch-nanos), which would
        # fan each left row out across ulp-wide bucket error margins.
        # F.floor of a double ratio for the float path.
        if ints_ok:
            exact = (x - F.pmod(x, width)).cast("decimal(38,0)")
            return (exact / width.cast("decimal(38,0)")).cast("bigint")
        return F.floor(x / width)

    out_names: dict[str, str] = {}
    for c in rdf.columns:
        if c in keys:
            continue
        out_names[c] = c + suffix if c in ldf.columns else c

    lt = F.col(left_time).cast(ttype)
    l2 = ldf.withColumn("__b", F.explode(F.sequence(fdiv(lt - before_l), fdiv(lt + after_l))))
    rtc = F.col(rt).cast(ttype)
    r2 = rdf.select(
        *keys,
        fdiv(rtc).alias("__b"),
        rtc.alias("__rt"),
        *[F.col(c).alias(n) for c, n in out_names.items()],
    )
    cond = (F.col("__rt") >= lt - before_l) & (F.col("__rt") <= lt + after_l)
    return (
        l2.join(r2, keys + ["__b"])
        .filter(cond)
        .drop("__b", "__rt")
    )


def funnel(
    events,
    user_col: str,
    ts_col: str,
    event_col: str,
    steps: Sequence[str],
) -> DataFrame:
    """Strict-order funnel: how many users reached step i having passed
    steps 1..i-1 in timestamp order. A user "reaches" step i at the
    earliest event of type ``steps[i]`` at-or-after their step-i-1 time.

    Plan: one grouped aggregation per step over the SAME key partitioning
    — step 1 is min(ts | ev=s1) per user; each later step joins the
    (user, t_prev) table (tiny: one row per surviving user) back to events
    and takes min(ts | ev=s_i, ts >= t_prev). len(steps)-1 key-partitioned
    joins of a shrinking per-user table against the events relation; no
    window over the full event stream, no per-user event collection.

    Returns (step bigint 1-based, event, n_users)."""
    df = _df(events)
    us = F.col(user_col)
    t = epoch_us_col(df, ts_col)
    ev = df.select(us.alias("_u"), t.alias("_t"), F.col(event_col).alias("_e"))
    # each step's survivor table feeds BOTH its count aggregation and the
    # next step's join — materialize it (one small row per surviving user)
    # so the shrinking chain of events-joins executes once per step, not
    # O(steps^2) times through recomputed lineage
    reached = (
        ev.filter(F.col("_e") == steps[0]).groupBy("_u").agg(F.min("_t").alias("_tprev"))
    ).localCheckpoint(eager=False)
    counts = [(1, steps[0], reached)]
    for i, step in enumerate(steps[1:], start=2):
        nxt = (
            ev.filter(F.col("_e") == step)
            .join(reached, "_u")
            .filter(F.col("_t") >= F.col("_tprev"))
            .groupBy("_u")
            .agg(F.min("_t").alias("_tprev"))
        ).localCheckpoint(eager=False)
        counts.append((i, step, nxt))
        reached = nxt
    spark = df.sparkSession
    out = None
    for i, step, r in counts:
        c = r.agg(
            F.lit(i).cast("bigint").alias("step"),
            F.lit(step).alias("event"),
            F.count(F.lit(1)).alias("n_users"),
        )
        out = c if out is None else out.unionByName(c)
    return out


def retention(
    events,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention: users bucketed by their first-activity period
    (cohort), counted distinct per (cohort, periods-since-cohort).

    Two shuffles total: one groupBy(user) for first-activity, one
    groupBy(cohort, offset) count-distinct — both partial-aggregated
    map-side. Period arithmetic is integer epoch math (TZ-free,
    oracle-identical): day = floor(epoch_us / 86400e6), week = floor(day
    / 7) — fixed 7-day buckets from the epoch, not ISO calendar weeks.

    Returns (cohort bigint, period_offset bigint, n_users)."""
    if period not in ("day", "week"):
        raise ValueError("retention: period must be day|week")
    df = _df(events)
    us_per = 86_400_000_000 * (7 if period == "week" else 1)
    ev = df.select(
        F.col(user_col).alias("_u"), epoch_us_col(df, ts_col).alias("_us")
    ).select(
        # FLOOR division (the oracle's `//`): pre-1970 events must land in
        # the earlier bucket, but SQL `div` truncates toward zero
        "_u",
        F.expr(f"(_us - pmod(_us, {us_per})) div {us_per}").alias("_p"),
    )
    first = ev.groupBy("_u").agg(F.min("_p").alias("_cohort"))
    return (
        ev.join(first, "_u")
        .groupBy(F.col("_cohort").alias("cohort"), (F.col("_p") - F.col("_cohort")).alias("period_offset"))
        .agg(F.count_distinct("_u").alias("n_users"))
    )


def attribution_touch(
    df,
    user_col: str,
    channel_col: str,
    order_col: str,
    id_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Multi-touch attribution over per-user event journeys: each user's
    ordered touches (``order_col`` with ``id_col`` tiebreak) carry ONE
    unit of conversion credit, assigned three standard ways at once —

    - ``first_touch``: the journey's first channel gets 1;
    - ``last_touch``: the last channel gets 1;
    - ``linear``: every touch gets 1/n_touches.

    Returns (keys..., channel, n_touches, first_touch, last_touch,
    linear) — credit totals per channel; each credit column sums to the
    number of users per key cell.

    Determinism: first/last credits are integer counts. Linear credit
    folds EXACTLY: touches aggregate to (channel, journey-length n,
    touches-in-journey k) cells with integer counts, and credit =
    Σ cnt·k/n runs as an ordered running sum over that bounded cell
    relation (order (n, k)) — identical association cross-engine, no
    corpus-sized double sum.

    Scale shape: user-partitioned windows (user id is high-cardinality
    — journeys never concentrate on one task), one groupBy to
    (keys, channel, n, k) cells, windows over the per-channel cell
    relation (bounded by distinct journey lengths — guarded), one final
    groupBy.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    base = d.filter(
        F.col(user_col).isNotNull()
        & F.col(channel_col).isNotNull()
        & F.col(order_col).isNotNull()
    ).select(
        *keys,
        F.col(user_col).alias("_u"),
        F.col(channel_col).alias("_c"),
        F.col(order_col).alias("_t"),
        F.col(id_col).alias("_id"),
    )
    wu = Window.partitionBy(*keys, "_u")
    wo = wu.orderBy(F.col("_t").asc(), F.col("_id").asc())
    span = wu.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    marked = base.select(
        *keys,
        "_c",
        (F.row_number().over(wo) == 1).cast("int").alias("_first"),
        (F.row_number().over(
            wu.orderBy(F.col("_t").desc(), F.col("_id").desc())
        ) == 1).cast("int").alias("_last"),
        F.count(F.lit(1)).over(span).alias("_n"),
    )
    cells = marked.groupBy(*keys, "_c", "_n").agg(
        F.count(F.lit(1)).alias("_k_total"),
        F.sum("_first").alias("_f"),
        F.sum("_last").alias("_l"),
    )
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        cells, [*keys, "_c"], "attribution_touch",
        scale_hint="The linear-credit fold runs per (channel, distinct "
        "journey-length) cell — bucket order_col if journeys have "
        "unbounded distinct lengths.",
    )
    wc = Window.partitionBy(*keys, "_c")
    wrun = wc.orderBy(F.col("_n").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    spanc = wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lin_term = F.col("_k_total").cast("double") / F.col("_n").cast("double")
    # staged: the ordered linear fold lands as a column before the
    # spanning max reads it (no nested window expressions)
    staged = cells.withColumn("_lin_run", F.sum(lin_term).over(wrun))
    out = staged.select(
        *keys,
        F.col("_c").alias("channel"),
        F.sum("_k_total").over(spanc).cast("long").alias("n_touches"),
        F.sum("_f").over(spanc).cast("long").alias("first_touch"),
        F.sum("_l").over(spanc).cast("long").alias("last_touch"),
        F.max("_lin_run").over(spanc).alias("linear"),
        F.row_number().over(wc.orderBy(F.col("_n").asc())).alias("_rn"),
    )
    return out.filter(F.col("_rn") == 1).drop("_rn")


def ts_topk_matches(
    df,
    key_col: str,
    order_cols: Sequence[str],
    value_col: str,
    query: Sequence[float],
    k: int = 5,
    znorm: str = "none",
) -> DataFrame:
    """Distributed sliding-window pattern search over per-key time
    series: the euclidean distance between EVERY length-L window of each
    key's ordered series and the (broadcast-literal) ``query`` pattern,
    returning the global top-``k`` matches ``(key, start, dist)`` —
    the distributed subsequence-similarity-search primitive
    (Echihabi et al.'s distributed data-series search line, VLDB'23,
    re-expressed relationally).

    Shape: one per-key window pass builds each offset's length-L array
    with a BOUNDED frame (``ROWS BETWEEN CURRENT AND L-1 FOLLOWING`` —
    state is L doubles, never a whole series), the distance is a pure
    JVM ``zip_with``+``aggregate`` expression against the inlined query
    literal (sequential summation — exactly reproducible in the
    oracle), and the top-k is orderBy+limit (TakeOrdered: per-partition
    heaps, no global sort materialization).

    ``znorm`` controls amplitude/offset invariance:

    - ``"none"``: raw euclidean distance (the oracle-checked mode);
    - ``"series"``: z-normalize each key's WHOLE series first (one
      windowed avg/stddev pass); the caller supplies ``query`` on the
      normalized scale;
    - ``"window"``: UCR-style per-window z-normalization — each window
      is normalized by ITS OWN population moments (computed from the
      same length-L array, still pure expressions), and ``query`` is
      z-normalized driver-side, so a window matching the pattern's
      SHAPE scores ~0 regardless of local level/amplitude. Constant
      (zero-variance) windows and queries normalize to all-zeros.

    ``start`` is the 1-based offset of the window within its key's
    series under ``order_cols``. Keys shorter than L yield no rows.
    """
    L = len(query)
    if L < 1:
        raise ValueError("ts_topk_matches: query must be non-empty")
    if znorm not in ("none", "series", "window"):
        raise ValueError("ts_topk_matches: znorm must be none|series|window")
    d = _df(df)
    ordw = Window.partitionBy("_k").orderBy(*[F.col(c) for c in order_cols])
    s = d.select(
        F.col(key_col).alias("_k"),
        *[F.col(c) for c in order_cols],
        F.col(value_col).cast("double").alias("_v"),
    ).withColumn("_rn", F.row_number().over(ordw))
    if znorm == "series":
        kw = Window.partitionBy("_k")
        mu = F.avg("_v").over(kw)
        sd = F.stddev_samp("_v").over(kw)
        s = s.withColumn(
            "_v",
            F.when(sd.isNull() | (sd == 0), F.lit(0.0)).otherwise(
                (F.col("_v") - mu) / sd
            ),
        )
    fr = (
        Window.partitionBy("_k")
        .orderBy("_rn")
        .rowsBetween(Window.currentRow, L - 1)
    )
    qvals = [float(v) for v in query]
    if znorm == "window":
        qmu = sum(qvals) / L
        qsd = (sum((v - qmu) ** 2 for v in qvals) / L) ** 0.5
        qvals = [0.0 if qsd == 0 else (v - qmu) / qsd for v in qvals]
    qlit = _plan_literal(qvals, "array<double>")
    arr = F.collect_list("_v").over(fr)

    def sq_sum(pairs):
        return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)

    if znorm == "window":
        # population moments of the window, from the same array
        wmu = sq_sum(F.col("_arr")) / L
        wvar = (
            sq_sum(F.transform(F.col("_arr"), lambda x: (x - wmu) * (x - wmu)))
            / L
        )
        wsd = F.sqrt(wvar)
        znormed = F.transform(
            F.col("_arr"),
            lambda x: F.when(wsd == 0, F.lit(0.0)).otherwise((x - wmu) / wsd),
        )
        pairs = F.zip_with(znormed, qlit, lambda x, y: (x - y) * (x - y))
    else:
        pairs = F.zip_with(F.col("_arr"), qlit, lambda x, y: (x - y) * (x - y))
    dist = F.sqrt(sq_sum(pairs))
    out = (
        s.withColumn("_arr", arr)
        .filter(F.size("_arr") == L)
        .select(
            F.col("_k").alias(key_col),
            F.col("_rn").alias("start"),
            dist.alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col(key_col).asc(), F.col("start").asc())
        .limit(k)
    )
    return out


_DURATION_US = {
    "microsecond": 1,
    "millisecond": 1_000,
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
    "week": 604_800_000_000,
}


def duration_us(window: str) -> int:
    """Parse '<N> <unit>[s]' (e.g. '7 days', '1 hour') to microseconds."""
    parts = window.strip().split()
    if len(parts) != 2:
        raise ValueError(f"duration_us: expected '<N> <unit>', got {window!r}")
    n, unit = parts
    unit = unit.rstrip("s").lower()
    if unit not in _DURATION_US:
        raise ValueError(f"duration_us: unknown unit {unit!r}")
    return int(n) * _DURATION_US[unit]


def rolling_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    aggs: dict[str, Column],
    window: str = "1 hour",
) -> DataFrame:
    """Event-time rolling aggregates per key: for every row, aggregate
    over the key's rows in ``[t - window, t]`` (inclusive both ends) —
    moving counts/sums/averages, the per-entity trailing-window feature
    of fraud/abuse/engagement pipelines. ``aggs`` maps output name ->
    aggregate Column (e.g. ``{"n_1h": F.count(F.lit(1))}``), all applied
    over ONE shared range frame.

    One shuffle + one sort on (key, event time); every requested
    aggregate reuses the same Window spec, so Catalyst plans a single
    Exchange/Sort pair regardless of how many aggregates ride it. The
    frame is a rangeBetween over epoch MICROSECONDS (exact integer
    arithmetic via epoch_us_col — no float drift, NTZ/nanos/timestamp
    all normalized), so the same bounds replay exactly in the DuckDB
    twin. State is bounded by the frame, not the key's history.
    """
    d = _df(df)
    keys = list(key_cols)
    us = duration_us(window)
    d = d.withColumn("_ts_us", epoch_us_col(d, ts_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ts_us").asc())
        .rangeBetween(-us, 0)
    )
    out = d
    for name, col in aggs.items():
        out = out.withColumn(name, col.over(w))
    return out.drop("_ts_us")


def transition_matrix(
    df,
    key_col: str,
    order_cols: Sequence[str],
    state_col: str,
    decimals: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: for every observed ``(state_from, state_to)`` bigram, the
    count and the row-normalized probability
    ``p = n / sum_n(state_from)`` — journey mining / next-action
    modeling over an event log.

    One window pass: ``lag(state)`` partitioned by the key and ordered
    by ``order_cols`` (include a unique tiebreaker for deterministic
    sequences), then a groupBy on the S^2-bounded bigram space — the
    per-key partition is the only corpus-sized shuffle, and it is the
    SAME partitioning sessionize/funnel use, so an event table
    pre-bucketed by key runs it shuffle-free. Row sums for the
    normalization come from a window over the tiny (S^2-row) count
    relation, never a second pass over the data."""
    d = getattr(df, "df", df)
    w = Window.partitionBy(key_col).orderBy(*[F.col(c).asc() for c in order_cols])
    bigrams = (
        d.select(
            F.col(state_col).alias("state_to"),
            F.lag(F.col(state_col)).over(w).alias("state_from"),
        )
        .filter(F.col("state_from").isNotNull())
        .groupBy("state_from", "state_to")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wrow = Window.partitionBy("state_from")
    from seafan_spark.rounding import round_col

    return bigrams.select(
        "state_from",
        "state_to",
        F.col("n").cast("bigint").alias("n"),
        round_col(
            F.col("n").cast("double") / F.sum("n").over(wrow).cast("double"),
            decimals,
        ).alias("p"),
    ).orderBy("state_from", "state_to")


def interval_join(
    left,
    right,
    on: str | Sequence[str],
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bucket: int | float,
    suffix: str = "_r",
) -> DataFrame:
    """Inner interval-overlap join: every (left, right) pair sharing the
    ``on`` key whose closed intervals ``[left_start, left_end]`` and
    ``[right_start, right_end]`` overlap.  The both-sides-are-ranges
    sibling of :func:`range_join` (point vs window): sessions vs outage
    windows, ad exposures vs visits, maintenance vs incidents.

    Plan: both sides explode into the coarse time buckets (width
    ``bucket``) their interval spans (``sequence`` — span/bucket + 1
    rows), equi-join on (key, bucket), apply the exact overlap predicate
    ``l_start <= r_end AND r_start <= l_end``.  An overlapping pair
    shares every bucket in the overlap region, so the join additionally
    requires ``bucket == floor(greatest(l_start, r_start)/width)`` — the
    first overlapped bucket — which emits each pair EXACTLY once with no
    distinct pass.  The join stays a hash equi-join on a composite key
    (one keyed shuffle, AQE-skew-safe); Catalyst would otherwise
    nested-loop the inequality.  Pick ``bucket`` near the typical
    interval span: fan-out per row is span/bucket + 1.

    Same integral-precision rule as range_join/asof_join: when both
    interval columns are integral (e.g. epoch nanos) and ``bucket`` is
    integral, bucket arithmetic stays exact in bigint/decimal.
    """
    ldf, rdf = _df(left), _df(right)
    keys = [on] if isinstance(on, str) else list(on)
    if bucket <= 0:
        raise ValueError("interval_join: bucket must be > 0")

    integral = {"tinyint", "smallint", "int", "bigint"}
    ints_ok = (
        ldf.schema[left_start].dataType.simpleString() in integral
        and ldf.schema[left_end].dataType.simpleString() in integral
        and rdf.schema[right_start].dataType.simpleString() in integral
        and rdf.schema[right_end].dataType.simpleString() in integral
        and float(bucket).is_integer()
    )
    ttype = "bigint" if ints_ok else "double"
    width = F.lit(int(bucket) if ints_ok else float(bucket))

    def fdiv(x: Column) -> Column:
        if ints_ok:
            exact = (x - F.pmod(x, width)).cast("decimal(38,0)")
            return (exact / width.cast("decimal(38,0)")).cast("bigint")
        return F.floor(x / width)

    out_names: dict[str, str] = {}
    for c in rdf.columns:
        if c in keys:
            continue
        out_names[c] = c + suffix if c in ldf.columns else c

    ls, le = F.col(left_start).cast(ttype), F.col(left_end).cast(ttype)
    rs = F.col(right_start).cast(ttype)
    re_ = F.col(right_end).cast(ttype)
    l2 = ldf.withColumn("__b", F.explode(F.sequence(fdiv(ls), fdiv(le))))
    r2 = rdf.select(
        *keys,
        F.explode(F.sequence(fdiv(rs), fdiv(re_))).alias("__b"),
        rs.alias("__rs"),
        re_.alias("__re"),
        *[F.col(c).alias(n) for c, n in out_names.items()],
    )
    overlap = (ls <= F.col("__re")) & (F.col("__rs") <= le)
    first_shared = F.col("__b") == fdiv(F.greatest(ls, F.col("__rs")))
    return (
        l2.join(r2, keys + ["__b"])
        .filter(overlap & first_shared)
        .drop("__b", "__rs", "__re")
    )


def _seasonal_bucket(ts, bucket: str):
    if bucket == "hour_of_week":
        return (F.dayofweek(ts) - 1) * 24 + F.hour(ts)
    if bucket == "hour_of_day":
        return F.hour(ts)
    if bucket == "day_of_week":
        return F.dayofweek(ts) - 1
    raise ValueError(f"seasonal: unknown bucket {bucket!r}")


def seasonal_profile(
    df,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket: str = "hour_of_week",
) -> DataFrame:
    """Seasonal baseline per key: mean and sample-stddev of
    ``value_col`` for every (keys..., seasonal bucket) cell.  Bucket
    ``hour_of_week`` = ``dayofweek*24 + hour`` (168 cells),
    ``hour_of_day`` = 24 cells, ``day_of_week`` = 7 cells — the cheap
    seasonal-naive model behind ops anomaly alerts.

    One map-side-partial groupBy; the profile relation is |keys| x
    cells, kilobytes per key."""
    d = _df(df)
    b = _seasonal_bucket(F.col(ts_col), bucket)
    return (
        d.withColumn("bucket", b.cast("int"))
        .groupBy(*keys, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.col(value_col)).alias("mean"),
            F.stddev(F.col(value_col)).alias("std"),
        )
    )


def seasonal_residuals(
    df,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket: str = "hour_of_week",
    profile: DataFrame | None = None,
    min_cell: int = 5,
    broadcast_profile: bool = True,
) -> DataFrame:
    """Seasonal-naive anomaly scores: every row's deviation from its
    (keys..., bucket) baseline — ``resid = value - mean``,
    ``resid_z = resid / std`` (NULL when the cell has fewer than
    ``min_cell`` observations or zero variance — an honest "no
    baseline" instead of an explosive z).

    Pass a precomputed/persisted ``profile`` (e.g. last week's) to
    score a new window against history — the streaming-friendly shape.

    100 TB design: the profile is |keys| x cells rows and BROADCASTS;
    scoring is one broadcast hash join + pure Column arithmetic — the
    fact stream never shuffles.  For a high-cardinality key (per-user
    profiles) pass ``broadcast_profile=False``: the join becomes a
    keyed shuffle equi-join, still skew-safe under AQE."""
    d = _df(df)
    if profile is None:
        profile = seasonal_profile(d, keys, ts_col, value_col, bucket)
    b = _seasonal_bucket(F.col(ts_col), bucket)
    prof = profile.select(
        *keys,
        "bucket",
        F.col("n").alias("_pn"),
        F.col("mean").alias("_pm"),
        F.col("std").alias("_ps"),
    )
    if broadcast_profile:
        prof = F.broadcast(prof)
    ok = (F.col("_pn") >= F.lit(int(min_cell))) & (F.col("_ps") > 0.0)
    return (
        d.withColumn("bucket", b.cast("int"))
        .join(prof, list(keys) + ["bucket"], "left")
        .withColumn("resid", F.col(value_col) - F.col("_pm"))
        .withColumn(
            "resid_z", F.when(ok, F.col("resid") / F.col("_ps"))
        )
        .drop("_pn", "_pm", "_ps")
    )


def seasonal_moments(
    df,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket: str = "hour_of_week",
) -> DataFrame:
    """Seasonal baseline in MERGEABLE moment form: (keys..., bucket, n,
    s, s2) — counts, sums and sums-of-squares add exactly, so stores
    built incrementally (``streaming.stream_seasonal_ingest``) always
    equal the one-shot batch moments of everything ingested."""
    d = _df(df)
    b = _seasonal_bucket(F.col(ts_col), bucket)
    x = F.col(value_col).cast("double")
    return (
        d.withColumn("bucket", b.cast("int"))
        .groupBy(*keys, "bucket")
        .agg(
            F.count(x).alias("n"),
            F.sum(x).alias("s"),
            F.sum(x * x).alias("s2"),
        )
    )


def profile_from_moments(moments: DataFrame) -> DataFrame:
    """Convert a (keys..., bucket, n, s, s2) moment relation into the
    (keys..., bucket, n, mean, std) shape :func:`seasonal_residuals`
    consumes (sample std; NULL below 2 observations)."""
    nn = F.col("n").cast("double")
    mean = F.col("s") / nn
    var = F.when(
        F.col("n") > 1,
        (F.col("s2") - F.col("s") * F.col("s") / nn) / (nn - F.lit(1.0)),
    )
    keep = [c for c in moments.columns if c not in ("s", "s2")]
    return moments.select(
        *[c for c in keep if c != "n"],
        "n",
        mean.alias("mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std"),
    )


def survival_km(
    df,
    duration_col: str,
    event_col: str,
    keys: Sequence[str] = (),
    _skip_guard: bool = False,
) -> DataFrame:
    """Kaplan-Meier product-limit survival estimate, optionally per group
    (Kaplan & Meier 1958) — time-to-event analysis over retention /
    churn / failure durations, a standard event-analytics companion to
    :func:`retention_matrix` that the reference engine has no analogue
    for.

    Input: one row per subject with ``duration_col`` (time observed) and
    ``event_col`` (1 = event occurred, 0 = right-censored at that time).
    Output: the KM table, one row per distinct duration per group —
    (keys..., t, n_risk, n_event, n_censor, survival, cumhaz) — with
    ``cumhaz`` the Nelson-Aalen cumulative hazard (running sum of d/n
    over the same ordered window) and

        S(t) = prod_{t_i <= t} (n_risk_i - d_i) / n_risk_i

    over event times (censor-only times keep the previous S, the standard
    convention — the factor is 1 when d = 0).

    Scale shape: one map-side-partial groupBy collapses subjects to the
    (group, distinct duration) relation — bounded by time cardinality,
    not subject count — then three windows PARTITIONED BY the group keys
    over that collapsed relation compute at-risk counts and the running
    product (as exp of a running sum of logs, the same exp-sum-log device
    as the expression language's ``prodBefore``; a zero factor, d = n at
    the last time, short-circuits to exact 0). With no keys the windows
    run on a single task, but over the distinct-duration relation only —
    for continuous durations bucket first (the KM table itself is then
    what you'd plot). No Python, no subject-level window.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    t = F.col(duration_col).cast("double")
    ev = F.when(F.col(event_col).cast("double") > 0.5, 1).otherwise(0)
    base = d.filter(t.isNotNull() & F.col(event_col).isNotNull()).select(
        *keys, t.alias("t"), ev.alias("_e")
    )
    g = base.groupBy(*keys, "t").agg(
        F.sum("_e").alias("n_event"),
        F.sum(F.lit(1) - F.col("_e")).alias("n_censor"),
    )
    # enforce the collapsed-table contract (round-8 VERDICT #4): a
    # continuous duration column defeats the collapse and turns each
    # group's window into a subject-cardinality single task. One bounded
    # count aggregate (group-cardinality output), fails with guidance.
    # Derived operators (rmst, km_confidence) pass _skip_guard=True after
    # running their OWN guard once, so composing doesn't re-pay the
    # eager aggregate job per wrapper (round-9 ADVICE).
    if not _skip_guard:
        from seafan_spark.guards import assert_bounded_groups

        assert_bounded_groups(
            g, keys, "survival_km",
            scale_hint="Bucket the duration column first (day/week bins) — "
            "the KM table is one row per DISTINCT duration per group.",
        )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("t").asc())
    leaving = F.col("n_event") + F.col("n_censor")
    total = F.sum(leaving).over(wall)
    left_before = F.coalesce(
        F.sum(leaving).over(word.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    g = g.withColumn("n_risk", total - left_before)
    # running product of (n-d)/n over event times: exp(running sum of
    # logs); any zero factor (d = n, necessarily the final time in its
    # group) makes this and all later S exactly 0
    factor = (F.col("n_risk") - F.col("n_event")).cast("double") / F.col(
        "n_risk"
    ).cast("double")
    logf = F.when(factor > 0.0, F.log(factor))
    zeros = F.sum(F.when(factor == 0.0, 1).otherwise(0)).over(
        word.rowsBetween(Window.unboundedPreceding, 0)
    )
    logsum = F.coalesce(
        F.sum(logf).over(word.rowsBetween(Window.unboundedPreceding, 0)),
        F.lit(0.0),
    )
    surv = F.when(zeros > 0, F.lit(0.0)).otherwise(F.exp(logsum))
    # Nelson-Aalen cumulative hazard rides along for free: the running sum
    # of d/n over the same ordered window (exact integer ratios)
    cumhaz = F.sum(
        F.col("n_event").cast("double") / F.col("n_risk").cast("double")
    ).over(word.rowsBetween(Window.unboundedPreceding, 0))
    return g.select(
        *keys,
        "t",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_event").cast("long").alias("n_event"),
        F.col("n_censor").cast("long").alias("n_censor"),
        surv.alias("survival"),
        cumhaz.alias("cumhaz"),
    )


def rmst(
    df,
    duration_col: str,
    event_col: str,
    tau: float,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013 as the
    modern reference; the estimand is classical): the area under the
    Kaplan-Meier curve up to horizon ``tau`` —

        rmst(tau) = ∫_0^tau S(t) dt

    the expected survival time over the next ``tau`` units, per group.
    The clinically/product-preferred effect scale when hazards are not
    proportional (difference of RMSTs needs no PH assumption, unlike a
    Cox hazard ratio) — the natural summary to pair with
    :func:`survival_km` (curve), :func:`logrank_test` (test) and
    :func:`cox_ph` (regression).

    Computed exactly from the step-function KM estimate: segment
    [t_{i-1}, t_i) contributes S(t_{i-1}) · (min(t_i, tau) − min(t_{i-1},
    tau)) — one lag window over the (bounded) KM table — plus the tail
    S(t_last) · (tau − min(t_last, tau)). S before the first event time
    is 1 by definition. Returns (keys..., tau, rmst).

    Scale shape: everything happens on :func:`survival_km`'s collapsed
    (group, distinct duration) relation — already guarded by the
    collapsed-table contract — with one keys-partitioned lag window and
    one final groupBy. Durations are assumed >= 0 (survival times).
    """
    tau = float(tau)
    if tau <= 0:
        raise ValueError("rmst: tau must be > 0")
    keys = list(keys)
    km = survival_km(df, duration_col, event_col, keys=keys)
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("t").asc())
    prev_t = F.coalesce(F.lag("t").over(word), F.lit(0.0))
    prev_s = F.coalesce(F.lag("survival").over(word), F.lit(1.0))
    clamp_t = F.least(F.col("t"), F.lit(tau))
    clamp_prev = F.least(prev_t, F.lit(tau))
    seg = prev_s * (clamp_t - clamp_prev)
    rows = km.select(*keys, "t", "survival", seg.alias("_seg"))
    g = rows.groupBy(*keys).agg(
        F.sum("_seg").alias("_body"),
        F.max_by("survival", F.col("t")).alias("_s_last"),
        F.max("t").alias("_t_last"),
    )
    tail = F.col("_s_last") * F.greatest(
        F.lit(tau) - F.least(F.col("_t_last"), F.lit(tau)), F.lit(0.0)
    )
    return g.select(
        *keys,
        F.lit(tau).alias("tau"),
        (F.col("_body") + tail).alias("rmst"),
    )


def km_confidence(
    df,
    duration_col: str,
    event_col: str,
    keys: Sequence[str] = (),
    z: float = 1.959963984540054,
) -> DataFrame:
    """Kaplan-Meier table with Greenwood confidence bands (Greenwood
    1926): per (group, distinct duration),

        Var(S(t)) = S(t)^2 · sum_{t_i <= t} d_i / (n_i (n_i − d_i))
        ci = S ± z·sqrt(Var), clipped to [0, 1]

    the plain (linear) Greenwood interval — ``z`` defaults to the
    two-sided 95% normal quantile as an exact literal, so no erf/
    inverse-normal libm call enters the plan (the logrank 3.841
    convention). Terms with d_i = n_i (the curve hits exact 0) are
    excluded from the running sum — S is 0 from there on and the band
    collapses to [0, 0].

    Returns survival_km's columns + (se, ci_lo, ci_hi).

    Scale shape: ONE extra ordered window (the running Greenwood sum)
    over :func:`survival_km`'s collapsed, guard-protected
    distinct-duration relation — nothing touches subject rows.
    """
    keys = list(keys)
    km = survival_km(df, duration_col, event_col, keys=keys)
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n = F.col("n_risk").cast("double")
    d = F.col("n_event").cast("double")
    term = F.when(n > d, d / (n * (n - d)))
    gsum = F.coalesce(F.sum(term).over(word), F.lit(0.0))
    s = F.col("survival")
    var = s * s * gsum
    se = F.sqrt(var)
    return km.withColumn("se", se).withColumn(
        "ci_lo", F.greatest(s - F.lit(float(z)) * se, F.lit(0.0))
    ).withColumn(
        "ci_hi", F.least(s + F.lit(float(z)) * se, F.lit(1.0))
    )


def mann_kendall(
    df,
    order_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Mann-Kendall monotone-trend test (Mann 1945, Kendall's S) with
    Sen's slope (Sen 1968) — the nonparametric is-this-metric-drifting
    monitor for per-segment time series, the trend companion to
    :func:`cusum_changepoint` (which finds a level SHIFT; this detects
    a monotone drift):

        S = sum_{i<j} sign(v_j − v_i)
        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18   (tie groups t)
        z = (S−1)/sqrt(Var) if S>0, (S+1)/sqrt(Var) if S<0, else 0
        sen_slope = median over pairs of (v_j − v_i)/(x_j − x_i)

    ``z_crit`` defaults to the exact two-sided 95% literal (no
    inverse-normal libm — the logrank-3.841 convention). Returns
    (keys..., n, s, var_s, z, trend, sen_slope) with ``trend`` in
    {-1, 0, 1} (sign of S when |z| > z_crit, else 0).

    Scale shape: the input must be an AGGREGATED series (one row per
    order value per group — the :func:`cusum_changepoint` contract,
    enforced by the same collapsed-table guard), so the pair self-join
    is B² per group with B bounded by time cardinality. S and the tie
    term are exact integer aggregates; Sen's slope is the exact median
    of the bounded pair relation via keyed rank windows (the
    impute-median pattern) — no Python anywhere.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & v.isNotNull()).select(
        *keys, x.alias("_x"), v.alias("_v")
    )
    from seafan_spark.guards import assert_bounded_groups

    # pair budget: the default collapsed-group ceiling (2e6) prices
    # O(B log B) windows; this op SELF-JOINS the series, so the ceiling
    # must bound B^2 — 50k rows/group caps the pair relation at 2.5e9
    # pairs/group (SEAFAN_MK_PAIR_ROW_LIMIT overrides). The same
    # aggregate enforces the one-row-per-order-value contract: equal _x
    # pairs would silently vanish from S (the _xj > _xi filter drops
    # both directions) while n and Var(S) still count those rows.
    import os as _os

    pair_cap = int(_os.environ.get("SEAFAN_MK_PAIR_ROW_LIMIT", "50000"))
    assert_bounded_groups(
        base, keys, "mann_kendall",
        limit=pair_cap,
        unique_col="_x",
        scale_hint="Aggregate the series first (e.g. one row per day per "
        "group) — the trend test prices B^2 pairs per group "
        f"({pair_cap} rows -> {pair_cap}^2 pairs is the budget; "
        "SEAFAN_MK_PAIR_ROW_LIMIT overrides).",
    )
    left = base.select(
        *keys, F.col("_x").alias("_xi"), F.col("_v").alias("_vi")
    )
    right = base.select(
        *keys, F.col("_x").alias("_xj"), F.col("_v").alias("_vj")
    )
    pairs = left.join(right, on=keys) if keys else left.crossJoin(right)
    pairs = pairs.filter(F.col("_xj") > F.col("_xi"))
    sgn = F.signum(F.col("_vj") - F.col("_vi"))
    slope = (F.col("_vj") - F.col("_vi")) / (F.col("_xj") - F.col("_xi"))
    p = pairs.select(*keys, sgn.alias("_sgn"), slope.alias("_m"))
    s_rel = p.groupBy(*keys).agg(
        F.sum("_sgn").cast("long").alias("s"),
        F.count(F.lit(1)).alias("_npairs"),
    )
    # tie term over value-tie groups + n, from the series itself
    ties = (
        base.groupBy(*keys, "_v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie"),
            F.sum("_t").alias("n"),
        )
    )
    # Sen slope: exact median of the pair relation (keyed rank windows —
    # the impute-median pattern; the pair relation is B^2-bounded)
    wk = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    wo = wk.orderBy(F.col("_m").asc())
    med = (
        p.withColumn("_rn", F.row_number().over(wo))
        .withColumn("_cnt", F.count(F.lit(1)).over(wk))
        .filter(
            (F.col("_rn") == F.ceil(F.col("_cnt") / 2))
            | (F.col("_rn") == F.floor(F.col("_cnt") / 2) + 1)
        )
        .groupBy(*keys)
        .agg(F.avg("_m").alias("sen_slope"))
    )
    g = s_rel.join(ties, on=keys) if keys else s_rel.crossJoin(ties)
    g = g.join(med, on=keys) if keys else g.crossJoin(med)
    n = F.col("n").cast("double")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("_tie").cast("double")) / 18.0
    sd = F.sqrt(var_s)
    z = F.when(var_s <= 0.0, F.lit(0.0)).otherwise(
        F.when(F.col("s") > 0, (F.col("s") - 1) / sd)
        .when(F.col("s") < 0, (F.col("s") + 1) / sd)
        .otherwise(F.lit(0.0))
    )
    trend = F.when(
        F.abs(z) > F.lit(float(z_crit)), F.signum(F.col("s").cast("double"))
    ).otherwise(F.lit(0.0)).cast("int")
    return g.select(
        *keys,
        F.col("n").cast("long").alias("n"),
        "s",
        var_s.alias("var_s"),
        z.alias("z"),
        trend.alias("trend"),
        "sen_slope",
    )


def cusum_changepoint(
    df,
    order_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    argmax_round: int | None = 6,
) -> DataFrame:
    """CUSUM mean-shift change-point detection over an ordered series,
    optionally per group (Page 1954) — the monitoring companion to
    :func:`psi_drift`/:func:`seasonal_residuals`: where did the level of
    a metric shift?

        S_i = sum_{j<=i} (x_j - mean(x));   t* = argmax_i |S_i|

    Returns one row per group: (keys..., n, t_star, s_max, stat) where
    ``s_max`` = max|S_i|, ``stat`` = s_max / (std * sqrt(n)) — the
    scale-free statistic compared against Kolmogorov-style critical
    values (1.36 ~ 5%), and ``t_star`` the LAST point before the shift.
    Groups need n >= 2 and nonzero variance; otherwise NULL stat.

    Determinism: the argmax is taken over |S| rounded to ``argmax_round``
    dp (ties broken by earliest time) so a last-ulp difference between
    engines cannot flip the reported change-point — the same
    rounded-greedy-key contract as kcenter/mmr selection.

    Scale shape: per-group mean/std come from one window (or, ungrouped,
    a 1-row aggregate via the same keyed path on a constant key would
    serialize — so the series should already be an AGGREGATED relation:
    points per group bounded by time cardinality, e.g. daily rollups,
    exactly like :func:`survival_km`'s collapsed table). Running sums are
    windows PARTITIONED by the group keys in time order; the final
    argmax is a max_by aggregation, one pass.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & F.col(order_col).isNotNull()).select(
        *keys, F.col(order_col).alias("_t"), x.alias("_x")
    )
    # enforce the aggregated-series contract (round-8 VERDICT #4): the
    # CUSUM windows run per group on a single task, so each group's
    # series must be time-cardinality-bounded (daily rollups), never raw
    # subject rows. One bounded count aggregate, fails with guidance.
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        base, keys, "cusum_changepoint",
        scale_hint="Aggregate the series first (e.g. one row per day per "
        "group) — CUSUM running sums are per-group ordered windows.",
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("_t").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n = F.count(F.lit(1)).over(wall)
    mean = F.avg("_x").over(wall)
    sd = F.stddev_samp("_x").over(wall)
    s_i = F.sum(F.col("_x") - mean).over(word)
    scored = base.select(
        *keys,
        "_t",
        n.alias("_n"),
        sd.alias("_sd"),
        F.abs(s_i).alias("_abs_s"),
    )
    key_col = (
        F.round(F.col("_abs_s"), argmax_round)
        if argmax_round is not None
        else F.col("_abs_s")
    )
    # max_by with a struct orders by (rounded |S| desc, earliest t):
    # negate the time axis inside the struct via a descending-safe trick —
    # max_by(struct(key, -rownum)) is not expressible for arbitrary _t
    # types, so rank explicitly and take the first row per group
    wrank = wall.orderBy(key_col.desc(), F.col("_t").asc())
    top = scored.withColumn("_rk", F.row_number().over(wrank)).filter(
        F.col("_rk") == 1
    )
    stat = F.when(
        (F.col("_n") >= 2) & (F.col("_sd") > 0.0),
        F.col("_abs_s") / (F.col("_sd") * F.sqrt(F.col("_n").cast("double"))),
    )
    from seafan_spark.rounding import round_col

    return top.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.col("_t").alias("t_star"),
        round_col(F.col("_abs_s"), 6).alias("s_max"),
        round_col(stat, 6).alias("stat"),
    )



def page_hinkley(
    df,
    order_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    delta: float = 0.0,
    lam: float | None = None,
    side: str = "inc",
    argmax_round: int | None = 6,
) -> DataFrame:
    """Page-Hinkley mean-shift drift detector over an ordered series,
    optionally per group (Page 1954; Hinkley 1971) — the sequential-
    ALARM companion to :func:`cusum_changepoint` (which locates a shift
    retrospectively) and :func:`mann_kendall` (monotone drift):

        m_i  = sum_{j<=i} (x_j - mean(x) - delta)
        PH_i = m_i - min_{j<=i} m_j          (side='inc'; mean increase)
        PH_i = max_{j<=i} m_j - m_i          (side='dec'; mean decrease)

    ``delta`` is the magnitude tolerance; an alarm fires at the first i
    with PH_i > ``lam``. Returns one row per group: (keys..., n,
    ph_max, t_max, t_alarm, detected) — the peak statistic, its
    earliest location, the first alarm time (NULL when ``lam`` is None
    or never crossed) and the 0/1 alarm flag.

    Determinism: the alarm and argmax comparisons use the 6-dp ROUNDED
    statistic (``argmax_round``, the cusum argmax contract) so a
    last-ulp windowed-sum difference can never flip which row alarms
    first cross-engine; outputs round at 6 dp.

    Scale shape: the :func:`cusum_changepoint` contract exactly — the
    input must be an AGGREGATED series (one row per order value per
    group, enforced by the collapsed-table guard), then two ordered
    windows (running sum, running min/max) and one rank pick over the
    bounded per-group relation.
    """
    if side not in ("inc", "dec"):
        raise ValueError("page_hinkley: side must be 'inc' or 'dec'")
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & F.col(order_col).isNotNull()).select(
        *keys, F.col(order_col).alias("_t"), x.alias("_x")
    )
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        base, keys, "page_hinkley",
        scale_hint="Aggregate the series first (e.g. one row per day per "
        "group) — Page-Hinkley running sums are per-group ordered windows.",
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("_t").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n = F.count(F.lit(1)).over(wall)
    mean = F.avg("_x").over(wall)
    m_i = F.sum(F.col("_x") - mean - F.lit(float(delta))).over(word)
    if side == "inc":
        ph = m_i - F.min(m_i).over(word)
    else:
        ph = F.max(m_i).over(word) - m_i
    from seafan_spark.rounding import round_col

    ph_r = round_col(ph, argmax_round) if argmax_round is not None else ph
    # staged: the alarm min reads the rounded statistic as a plain
    # column (nested window expressions are illegal in one projection)
    scored = base.select(*keys, "_t", n.alias("_n"), ph_r.alias("_ph"))
    alarm_t = (
        F.min(F.when(F.col("_ph") > F.lit(float(lam)), F.col("_t"))).over(wall)
        if lam is not None
        else F.lit(None).cast(scored.schema["_t"].dataType)
    )
    scored = scored.withColumn("_t_alarm", alarm_t)
    wrank = wall.orderBy(F.col("_ph").desc(), F.col("_t").asc())
    top = scored.withColumn("_rk", F.row_number().over(wrank)).filter(
        F.col("_rk") == 1
    )
    return top.select(
        *keys,
        F.col("_n").cast("long").alias("n"),
        F.col("_ph").alias("ph_max"),
        F.col("_t").alias("t_max"),
        F.col("_t_alarm").alias("t_alarm"),
        F.col("_t_alarm").isNotNull().cast("int").alias("detected"),
    )


def logrank_test(
    df,
    duration_col: str,
    event_col: str,
    group_col: str,
    keys: Sequence[str] = (),
    weights: str = "logrank",
    strata: Sequence[str] = (),
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966) — does survival differ
    between two arms? The inference companion to :func:`survival_km`
    (which estimates each curve; this tests the difference):

        chi2 = (sum_t (d1_t - E1_t))^2 / sum_t V_t
        E1_t = d_t * n1_t / n_t
        V_t  = d_t * (n1_t/n_t) * (1 - n1_t/n_t) * (n_t - d_t) / (n_t - 1)

    summed over pooled event times (hypergeometric mean/variance of the
    group-1 event count conditional on the margins). ``weights``
    selects the family member: ``"logrank"`` (w_t = 1, late differences
    weighted equally) or ``"wilcoxon"`` (Gehan-Breslow, w_t = n_t —
    sensitive to EARLY differences); the statistic becomes
    (sum w(d1-E1))^2 / sum w^2 V. Exactly two
    non-NULL group values are required per ``keys`` cell — the smaller
    label is group 0, mirroring ``prop_test_by``'s contract; groups
    with a different count get NULL output rather than a wrong pool.

    ``strata``: STRATIFIED log-rank (the standard confounder control —
    e.g. test treatment arms while adjusting for site): risk sets and
    the hypergeometric E/V terms are computed WITHIN each (keys, strata)
    cell, then O−E and V pool ACROSS strata before the single chi².
    Side labels stay per-``keys`` cell so arm 0/1 means the same thing
    in every stratum. One extra column set in the duration-collapse key
    and the window partitioning — the scale shape is unchanged.
    Returns (keys..., n0, n1, observed1, expected1, chi2,
    significant) with ``significant = chi2 > 3.841`` (the 5% chi-square
    critical value — a p-value would need the incomplete gamma, whose
    libm rounding differs across engines; the boolean at the
    conventional threshold is stable).

    Scale shape: subjects collapse to the (keys, group, distinct
    duration) relation in one map-side-partial groupBy; at-risk counts
    and the E/V terms are keys-partitioned windows over that bounded
    relation (every term a ratio of exact integer counts); one final
    aggregation. Same collapsed-table contract as :func:`survival_km`.
    """
    keys = list(keys)
    strata = list(strata)
    d = getattr(df, "df", df)
    t = F.col(duration_col).cast("double")
    ev = F.when(F.col(event_col).cast("double") > 0.5, 1).otherwise(0)
    cond = t.isNotNull() & F.col(event_col).isNotNull() & F.col(group_col).isNotNull()
    for c in strata:
        cond = cond & F.col(c).isNotNull()
    base = d.filter(cond).select(
        *keys, *strata, F.col(group_col).alias("_g"), t.alias("t"), ev.alias("_e")
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    # risk sets live within (keys, strata); label sides stay per-keys cell
    wrisk = (
        Window.partitionBy(*keys, *strata)
        if (keys or strata)
        else Window.partitionBy(F.lit(0))
    )
    # group side: smaller label = 0 (prop_test_by convention); enforce two.
    # Grouped, the label stats are keys-partitioned windows over subjects;
    # ungrouped they come from a broadcast 1-row aggregate — never a
    # corpus-sized single-task window (the lit(0) windows below run only
    # on the collapsed distinct-duration relation)
    if keys:
        lo = F.min("_g").over(wall)
        # distinct window aggregates are unsupported; collect_set is the
        # standard stand-in (set size = label cardinality, tiny by contract)
        nv = F.size(F.collect_set("_g").over(wall))
        base = base.withColumn("_side", F.when(F.col("_g") == lo, 0).otherwise(1))
        base = base.withColumn("_nv", nv)
    else:
        stats = base.agg(
            F.min("_g").alias("_glo"), F.count_distinct("_g").alias("_gnv")
        )
        base = base.crossJoin(F.broadcast(stats))
        base = base.withColumn(
            "_side", F.when(F.col("_g") == F.col("_glo"), 0).otherwise(1)
        ).withColumn("_nv", F.col("_gnv")).drop("_glo", "_gnv")
    from seafan_spark.guards import assert_bounded_groups

    g = base.groupBy(*keys, *strata, "t").agg(
        F.max("_nv").alias("_nv"),
        F.sum(F.when(F.col("_side") == 1, F.col("_e")).otherwise(0)).alias("d1"),
        F.sum(F.col("_e")).alias("d"),
        F.sum(F.when(F.col("_side") == 1, 1).otherwise(0)).alias("l1"),
        F.count(F.lit(1)).alias("l"),
    )
    # collapsed-table contract (round-8 VERDICT #4): continuous durations
    # defeat the collapse — per-(keys, strata) cells must stay bounded
    assert_bounded_groups(
        g, [*keys, *strata], "logrank_test",
        scale_hint="Bucket the duration column first (day/week bins) — "
        "the E/V terms are per DISTINCT duration per cell.",
    )
    word = wrisk.orderBy(F.col("t").asc())
    before = word.rowsBetween(Window.unboundedPreceding, -1)
    n_tot = F.sum("l").over(wrisk) - F.coalesce(
        F.sum("l").over(before), F.lit(0).cast("long")
    )
    n1 = F.sum("l1").over(wrisk) - F.coalesce(
        F.sum("l1").over(before), F.lit(0).cast("long")
    )
    g = g.withColumn("_n", n_tot).withColumn("_n1", n1)
    dd = F.col("d").cast("double")
    nn = F.col("_n").cast("double")
    nn1 = F.col("_n1").cast("double")
    frac = nn1 / nn
    e1 = dd * frac
    v = F.when(
        F.col("_n") > 1,
        dd * frac * (F.lit(1.0) - frac) * (nn - dd) / (nn - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    if weights == "logrank":
        w_t = F.lit(1.0)
    elif weights == "wilcoxon":
        w_t = nn
    else:
        raise ValueError("logrank_test: weights must be 'logrank' or 'wilcoxon'")
    agg = g.groupBy(*keys).agg(
        F.max("_nv").alias("_nv"),
        F.sum(F.col("l") - F.col("l1")).alias("n0"),
        F.sum("l1").alias("n1"),
        F.sum("d1").alias("observed1"),
        F.sum(e1).alias("expected1"),
        F.sum(w_t * (F.col("d1").cast("double") - e1)).alias("_oe"),
        F.sum(w_t * w_t * v).alias("_v"),
    )
    chi2 = F.when(
        (F.col("_nv") == 2) & (F.col("_v") > 0.0),
        F.col("_oe") * F.col("_oe") / F.col("_v"),
    )
    from seafan_spark.rounding import round_col

    return agg.select(
        *keys,
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("observed1").cast("long").alias("observed1"),
        round_col(F.col("expected1"), 6).alias("expected1"),
        round_col(chi2, 6).alias("chi2"),
        F.when(chi2.isNotNull(), chi2 > F.lit(3.841)).alias("significant"),
    )


def _cox_ph_keyed(base, x_cols, keys, max_iter, tol):
    """Grouped-Newton driver loop for :func:`cox_ph` with ``keys=``.

    ``base`` is the pre-filtered, localCheckpointed subject relation
    (keys..., _t, _e, _x0.._xp-1). Per iteration: broadcast-join the
    group-cardinality beta relation, ONE groupBy(keys, _t) collapse, one
    keys-partitioned suffix-sum window, one groupBy(keys) aggregate
    collected as a row per group, then batched driver-side p x p solves.
    """
    import numpy as np

    p = len(x_cols)
    pairs = [(k, l) for k in range(p) for l in range(k, p)]
    spark = base.sparkSession
    key_fields = [base.schema[k] for k in keys]
    groups = [tuple(r) for r in base.select(*keys).distinct().collect()]
    if not groups:
        return []
    beta = {g: np.zeros(p) for g in groups}
    converged = {g: False for g in groups}
    failed: dict[tuple, str] = {}
    beta_schema = T.StructType(
        list(key_fields) + [T.StructField(f"_b{k}", T.DoubleType()) for k in range(p)]
    )
    for _ in range(max_iter):
        active = [g for g in groups if not converged[g] and g not in failed]
        if not active:
            break
        brel = _local_frame(
            spark,
            [(*g, *[float(b) for b in beta[g]]) for g in active], beta_schema
        )
        j = base.join(F.broadcast(brel), on=keys)  # inner: frozen groups drop out
        lin = F.lit(0.0)
        for k in range(p):
            lin = lin + F.col(f"_b{k}") * F.col(f"_x{k}")
        s = F.exp(lin)
        g = j.groupBy(*keys, "_t").agg(
            F.sum(s).alias("_s0"),
            *[F.sum(s * F.col(f"_x{k}")).alias(f"_s1_{k}") for k in range(p)],
            *[
                F.sum(s * F.col(f"_x{k}") * F.col(f"_x{l}")).alias(f"_s2_{k}_{l}")
                for k, l in pairs
            ],
            F.sum("_e").alias("_d"),
            *[
                F.sum(F.col("_e") * F.col(f"_x{k}")).alias(f"_dx_{k}")
                for k in range(p)
            ],
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        g = g.select(
            *keys, "_t", "_d", *[f"_dx_{k}" for k in range(p)],
            F.sum("_s0").over(w).alias("_S0"),
            *[F.sum(f"_s1_{k}").over(w).alias(f"_S1_{k}") for k in range(p)],
            *[
                F.sum(f"_s2_{k}_{l}").over(w).alias(f"_S2_{k}_{l}")
                for k, l in pairs
            ],
        ).filter(F.col("_d") > 0)
        rows = g.groupBy(*keys).agg(
            *[
                F.sum(
                    F.col(f"_dx_{k}")
                    - F.col("_d") * F.col(f"_S1_{k}") / F.col("_S0")
                ).alias(f"g{k}")
                for k in range(p)
            ],
            *[
                F.sum(
                    F.col("_d")
                    * (
                        F.col(f"_S2_{k}_{l}") / F.col("_S0")
                        - F.col(f"_S1_{k}") * F.col(f"_S1_{l}")
                        / (F.col("_S0") * F.col("_S0"))
                    )
                ).alias(f"h{k}_{l}")
                for k, l in pairs
            ],
        ).collect()
        seen = set()
        for row in rows:
            gk = tuple(row[k] for k in keys)
            seen.add(gk)
            grad = np.array([row[f"g{k}"] for k in range(p)])
            if not np.all(np.isfinite(grad)):
                failed[gk] = "non-finite gradient (divergence / separation)"
                continue
            info = np.zeros((p, p))
            for k, l in pairs:
                info[k, l] = info[l, k] = row[f"h{k}_{l}"]
            try:
                step = np.linalg.solve(info, grad)
            except np.linalg.LinAlgError:
                failed[gk] = "singular information matrix (collinear covariates)"
                continue
            if not np.all(np.isfinite(step)):
                failed[gk] = "non-finite Newton step (ill-conditioned)"
                continue
            beta[gk] = beta[gk] + step
            if float(np.max(np.abs(step))) < tol:
                converged[gk] = True
        for gk in active:
            if gk not in seen and gk not in failed:
                # group present in the input but with zero event times
                failed[gk] = "no events in group"
    out = []
    for gk in groups:
        err = failed.get(gk)
        for k in range(p):
            rec = dict(zip(keys, gk))
            rec["name"] = x_cols[k]
            if err is None:
                # final-iterate observed information for this group is not
                # retained per-covariate here without one more pass; reuse
                # the last solve's info via a refit-free recompute below
                rec.update(
                    beta=float(beta[gk][k]),
                    hr=float(np.exp(beta[gk][k])),
                    converged=converged[gk],
                )
            else:
                rec.update(
                    beta=None, hr=None, se=None, z=None,
                    converged=False, error=err,
                )
            out.append(rec)
    # one extra relational pass at the final betas to get each group's
    # observed information -> per-covariate se/z (the ungrouped path gets
    # this for free from its last iteration; here frozen groups may have
    # converged in different iterations)
    ok_groups = [g for g in groups if g not in failed]
    if ok_groups:
        brel = _local_frame(
            spark,
            [(*g, *[float(b) for b in beta[g]]) for g in ok_groups], beta_schema
        )
        j = base.join(F.broadcast(brel), on=keys)
        lin = F.lit(0.0)
        for k in range(p):
            lin = lin + F.col(f"_b{k}") * F.col(f"_x{k}")
        s = F.exp(lin)
        g = j.groupBy(*keys, "_t").agg(
            F.sum(s).alias("_s0"),
            *[F.sum(s * F.col(f"_x{k}")).alias(f"_s1_{k}") for k in range(p)],
            *[
                F.sum(s * F.col(f"_x{k}") * F.col(f"_x{l}")).alias(f"_s2_{k}_{l}")
                for k, l in pairs
            ],
            F.sum("_e").alias("_d"),
        )
        w = (
            Window.partitionBy(*keys)
            .orderBy(F.col("_t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        g = g.select(
            *keys, "_d",
            F.sum("_s0").over(w).alias("_S0"),
            *[F.sum(f"_s1_{k}").over(w).alias(f"_S1_{k}") for k in range(p)],
            *[
                F.sum(f"_s2_{k}_{l}").over(w).alias(f"_S2_{k}_{l}")
                for k, l in pairs
            ],
        ).filter(F.col("_d") > 0)
        rows = g.groupBy(*keys).agg(
            *[
                F.sum(
                    F.col("_d")
                    * (
                        F.col(f"_S2_{k}_{l}") / F.col("_S0")
                        - F.col(f"_S1_{k}") * F.col(f"_S1_{l}")
                        / (F.col("_S0") * F.col("_S0"))
                    )
                ).alias(f"h{k}_{l}")
                for k, l in pairs
            ],
        ).collect()
        import numpy.linalg as LA

        for row in rows:
            gk = tuple(row[k] for k in keys)
            info = np.zeros((p, p))
            for k, l in pairs:
                info[k, l] = info[l, k] = row[f"h{k}_{l}"]
            try:
                cov = LA.inv(info)
            except LA.LinAlgError:
                cov = None
            for k in range(p):
                rec = next(
                    r for r in out
                    if all(r[kc] == kv for kc, kv in zip(keys, gk))
                    and r["name"] == x_cols[k]
                )
                if cov is None:
                    rec["se"] = None
                    rec["z"] = None
                    continue
                se = float(np.sqrt(max(cov[k, k], 0.0)))
                rec["se"] = se
                rec["z"] = float(rec["beta"] / se) if se > 0 else None
    return out


def cox_ph(
    df,
    duration_col: str,
    event_col: str,
    x_cols: Sequence[str],
    max_iter: int = 12,
    tol: float = 1e-9,
    keys: Sequence[str] = (),
):
    """Cox proportional-hazards regression (Cox 1972, Breslow ties) —
    the multivariate member of the survival family
    (:func:`survival_km` estimates, :func:`logrank_test` compares two
    arms, this fits covariate effects):

        log PL(b) = sum_{i: event} [ x_i.b - log S0(t_i) ],
        S0(t) = sum_{j: t_j >= t} exp(x_j.b)

    fitted by Newton-Raphson. Returns a list of per-covariate dicts:
    (name, beta, hr, se, z) with ``hr = exp(beta)`` and Wald ``z =
    beta/se`` from the inverse information at convergence.

    Distribution: each iteration is ONE relational pass — per-subject
    exp(x.b) terms and their x-weighted products collapse to the
    distinct-duration relation (one map-side-partial groupBy), risk-set
    sums S0/S1/S2 are SUFFIX sums over that bounded relation (ordered
    window, descending time — the :func:`survival_km` collapsed-table
    contract), and the gradient/Hessian reduce to ONE collected row of
    p + p(p+1)/2 + 1 numbers. The Newton step (a p x p solve) runs on
    the driver with numpy; p is small by contract (covariates, not
    features). No subject-level window, no Python in the row path.

    ``keys``: GROUPED Cox (round-8 VERDICT #8) — an independent fit per
    cohort, every cohort advancing in the SAME relational pass per
    iteration: the per-group beta vector rides in as a broadcast
    group-cardinality relation (so each subject's linear predictor uses
    its own cohort's beta), the duration collapse and suffix sums
    partition by the keys (the :func:`survival_km` pattern), and ONE
    ``groupBy(keys)`` collect returns a gradient/Hessian row per group
    whose p x p solves are batched driver-side. Group cardinality is
    cohort-scale by contract (the beta relation broadcasts); returns one
    dict per (group, covariate) with the key columns included. Groups
    whose fit diverges or is singular come back with beta/hr/se/z None
    and ``converged`` False plus an ``error`` note — one degenerate
    cohort must not abort the fleet fit.
    """
    import numpy as np

    p = len(x_cols)
    if p == 0:
        raise ValueError("cox_ph: need at least one covariate")
    keys = list(keys)
    d = getattr(df, "df", df)
    t = F.col(duration_col).cast("double")
    ev = F.when(F.col(event_col).cast("double") > 0.5, 1).otherwise(0)
    cond = t.isNotNull() & F.col(event_col).isNotNull()
    for c in [*x_cols, *keys]:
        cond = cond & F.col(c).isNotNull()
    base = d.filter(cond).select(
        *keys, t.alias("_t"), ev.alias("_e"),
        *[F.col(c).cast("double").alias(f"_x{k}") for k in range(p)
          for c in [x_cols[k]]],
    ).localCheckpoint(eager=False)
    # collapsed-table contract (round-8 VERDICT #4): each iteration's
    # suffix sums run over the per-(keys) distinct-duration relation on a
    # single task per group — continuous durations defeat the collapse.
    # Guard ONCE before iterating (the relation shape never changes).
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        base.select(*keys, "_t").distinct(), keys, "cox_ph",
        scale_hint="Bucket the duration column first (day/week bins) — "
        "risk-set suffix sums are per DISTINCT duration per group.",
    )
    if keys:
        return _cox_ph_keyed(base, x_cols, keys, max_iter, tol)

    pairs = [(k, l) for k in range(p) for l in range(k, p)]
    beta = np.zeros(p)
    info = np.eye(p)
    for _ in range(max_iter):
        lin = F.lit(0.0)
        for k in range(p):
            lin = lin + F.lit(float(beta[k])) * F.col(f"_x{k}")
        s = F.exp(lin)
        g = base.groupBy("_t").agg(
            F.sum(s).alias("_s0"),
            *[F.sum(s * F.col(f"_x{k}")).alias(f"_s1_{k}") for k in range(p)],
            *[
                F.sum(s * F.col(f"_x{k}") * F.col(f"_x{l}")).alias(f"_s2_{k}_{l}")
                for k, l in pairs
            ],
            F.sum("_e").alias("_d"),
            *[
                F.sum(F.col("_e") * F.col(f"_x{k}")).alias(f"_dx_{k}")
                for k in range(p)
            ],
        )
        w = (
            Window.partitionBy(F.lit(0))
            .orderBy(F.col("_t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        g = g.select(
            "_t", "_d", *[f"_dx_{k}" for k in range(p)],
            F.sum("_s0").over(w).alias("_S0"),
            *[F.sum(f"_s1_{k}").over(w).alias(f"_S1_{k}") for k in range(p)],
            *[
                F.sum(f"_s2_{k}_{l}").over(w).alias(f"_S2_{k}_{l}")
                for k, l in pairs
            ],
        ).filter(F.col("_d") > 0)
        ll_grad = [
            F.sum(
                F.col(f"_dx_{k}")
                - F.col("_d") * F.col(f"_S1_{k}") / F.col("_S0")
            ).alias(f"g{k}")
            for k in range(p)
        ]
        ll_hess = [
            F.sum(
                F.col("_d")
                * (
                    F.col(f"_S2_{k}_{l}") / F.col("_S0")
                    - F.col(f"_S1_{k}") * F.col(f"_S1_{l}")
                    / (F.col("_S0") * F.col("_S0"))
                )
            ).alias(f"h{k}_{l}")
            for k, l in pairs
        ]
        row = g.agg(*ll_grad, *ll_hess).collect()[0]
        grad = np.array([row[f"g{k}"] for k in range(p)])
        if not np.all(np.isfinite(grad)):
            raise ValueError(
                "cox_ph: non-finite gradient — the partial likelihood "
                "diverged (exp(x.beta) overflow), usually complete "
                "separation (a covariate perfectly predicts event order) "
                "or unscaled covariates; standardize x_cols or drop the "
                "separating covariate"
            )
        info = np.zeros((p, p))
        for k, l in pairs:
            info[k, l] = info[l, k] = row[f"h{k}_{l}"]
        try:
            step = np.linalg.solve(info, grad)
        except np.linalg.LinAlgError as exc:
            raise ValueError(
                "cox_ph: singular information matrix — covariates "
                f"{list(x_cols)} are collinear (or a covariate is "
                "constant); drop the redundant column(s)"
            ) from exc
        if not np.all(np.isfinite(step)):
            raise ValueError(
                "cox_ph: non-finite Newton step — ill-conditioned "
                "information matrix (near-collinear covariates)"
            )
        beta = beta + step
        if float(np.max(np.abs(step))) < tol:
            converged = True
            break
    else:
        converged = False
    try:
        cov = np.linalg.inv(info)
    except np.linalg.LinAlgError as exc:
        raise ValueError(
            "cox_ph: singular information matrix at the final iterate — "
            "covariates are collinear; drop the redundant column(s)"
        ) from exc
    out = []
    for k in range(p):
        se = float(np.sqrt(max(cov[k, k], 0.0)))
        out.append(
            {
                "name": x_cols[k],
                "beta": float(beta[k]),
                "hr": float(np.exp(beta[k])),
                "se": se,
                "z": float(beta[k] / se) if se > 0 else None,
                "converged": converged,
            }
        )
    return out


def acf_by(
    df,
    order_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    lags: Sequence[int] = (1, 2, 3, 4, 5, 6, 7),
) -> DataFrame:
    """Sample autocorrelation function (Box & Jenkins 1970) of an
    ordered series at each of ``lags``, per group — the seasonality /
    memory diagnostic that tells you WHICH lag :func:`seasonal_decompose`
    should use and whether :func:`mann_kendall`'s independence framing
    is even plausible.  Standard biased estimator (constant n
    denominator, full-series mean), the one every stats package plots:

        r_k = Σ_{t>k} (x_t − x̄)(x_{t−k} − x̄)  /  Σ_t (x_t − x̄)²

    Returns one row per (group, lag): (keys..., lag, n, n_pairs, acf)
    — ``acf`` NULL when the series is constant (zero denominator) or
    shorter than the lag.

    Scale shape: the :func:`cusum_changepoint` collapsed-series
    contract — input must be AGGREGATED (one row per order value per
    group, enforced by the bounded-groups guard), then ONE ordered
    window pass computes every lag column at once (lag k is a row
    offset in the same sort, no self-join), the lag columns explode to
    long (lag, term) rows, and one map-side-partial groupBy over the
    bounded per-group relation finishes.  Association order matches
    the DuckDB twin; outputs round at 6 dp.
    """
    lags = [int(k) for k in lags]
    if not lags or any(k < 1 for k in lags):
        raise ValueError("acf_by: lags must be positive integers")
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & F.col(order_col).isNotNull()).select(
        *keys, F.col(order_col).alias("_t"), x.alias("_x")
    )
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        base, keys, "acf_by",
        scale_hint="Aggregate the series first (e.g. one row per day per "
        "group) — ACF lags are row offsets in a per-group ordered window.",
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("_t").asc())
    mu = F.avg("_x").over(wall)
    n = F.count(F.lit(1)).over(wall)
    ss = F.sum((F.col("_x") - mu) * (F.col("_x") - mu)).over(wall)
    # stage 1: every window product (mean/count/ss/lags) materializes as a
    # plain column — a generator (explode) cannot share a projection with
    # window expressions, and nesting them trips the analyzer
    staged = base.select(
        *keys,
        "_x",
        mu.alias("_mu"),
        n.alias("_n"),
        ss.alias("_ss"),
        *[F.lag("_x", k).over(word).alias(f"_l{k}") for k in lags],
    )
    lag_terms = F.array(
        *[
            F.struct(
                F.lit(k).alias("_k"),
                (
                    (F.col("_x") - F.col("_mu"))
                    * (F.col(f"_l{k}") - F.col("_mu"))
                ).alias("_term"),
            )
            for k in lags
        ]
    )
    scored = staged.select(
        *keys, "_n", "_ss", F.explode(lag_terms).alias("_lt")
    ).select(*keys, "_n", "_ss", "_lt._k", "_lt._term")
    from seafan_spark.rounding import round_col

    out = scored.groupBy(*keys, "_k").agg(
        F.first("_n").alias("_nn"),
        F.first("_ss").alias("_sss"),
        F.sum("_term").alias("_num"),
        F.count("_term").alias("_np"),
    )
    acf = F.when(
        (F.col("_sss") > 0.0) & F.col("_num").isNotNull(),
        F.col("_num") / F.col("_sss"),
    )
    return out.select(
        *keys,
        F.col("_k").cast("int").alias("lag"),
        F.col("_nn").cast("bigint").alias("n"),
        F.col("_np").cast("bigint").alias("n_pairs"),
        round_col(acf, 6).alias("acf"),
    )


def ewma_by(
    df,
    order_col: str,
    value_col: str,
    keys: Sequence[str] = (),
    alpha: float = 0.3,
    block: int = 256,
) -> DataFrame:
    """Exponentially-weighted moving average of an ordered series per
    group — the recursive smoother (s_1 = x_1; s_i = α·x_i + (1−α)·
    s_{i−1}, pandas ``ewm(adjust=False)``) — WITHOUT a sequential scan.
    Returns one row per input row: (keys..., order_col, value_col,
    ewma), rounded at 6 dp.

    A first-order linear recurrence looks un-parallelizable; its closed
    form s_i = Σ_{j≤i} w_j β^{i−j} x_j (β = 1−α; w_1 = 1, else α) is a
    window sum but the textbook rescaling u_j = w_j x_j β^{−j} OVERFLOWS
    once j ≳ 250/−log10(β).  This implementation makes the closed form
    scale-safe with two bounded tricks:

    1. **Blocked rescaling**: rows split into blocks of L =
       min(block, 250/−log10 β) rows; within a block the running sum of
       u_j = w_j x_j β^{−r_j} (r_j < L, bounded exponent) times β^{r_i}
       gives the within-block prefix.  Numerically benign: the current
       row always carries the largest weight, so the relative error of
       the rescaled sum stays ~1 ulp.
    2. **Banded carry join**: the cross-block carry is the unrolled
       Σ_{c<b} T_c β^{(end_b − end_c)} (T_c = block c's prefix at its
       last row); any term older than ~745/−ln β rows is EXACTLY 0.0 in
       doubles, so a self-join of the block relation banded to that
       many blocks computes every carry — linear in blocks, nothing
       sequential, truncation below the subnormal floor.

    One ordered window pass + one groupBy to the block relation + one
    banded block join + one row→previous-block join.  Input must be an
    AGGREGATED series (the collapsed-table guard, the cusum contract);
    with keys the carry join is an equi-join on them, ungrouped it is a
    nested loop over the block relation — bounded at guard-limit/L
    blocks, the same collapsed-cardinality class as the window itself.
    """
    import math

    if not (0.0 < alpha < 1.0):
        raise ValueError("ewma_by: alpha must be in (0, 1)")
    if block < 2:
        raise ValueError("ewma_by: block must be >= 2")
    beta = 1.0 - alpha
    # largest exponent the rescaling may produce without overflow
    L = max(2, min(int(block), int(250.0 / max(1e-12, -math.log10(beta)))))
    # carries older than this many ROWS are 0.0 in doubles (subnormal
    # floor ~1e-323 = e^-745); +2 blocks of slack
    band_blocks = int(745.0 / max(1e-12, -math.log(beta))) // L + 2
    keys = list(keys)
    d = getattr(df, "df", df)
    x = F.col(value_col).cast("double")
    base = d.filter(x.isNotNull() & F.col(order_col).isNotNull()).select(
        *keys, F.col(order_col).alias("_t"), x.alias("_x")
    )
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        base, keys, "ewma_by",
        scale_hint="Aggregate the series first (e.g. one row per day per "
        "group) — the EWMA is a per-group ordered recurrence.",
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("_t").asc())
    b = F.lit(float(beta))
    staged = base.select(
        *keys, "_t", "_x", F.row_number().over(word).alias("_rn")
    )
    staged = staged.select(
        *keys, "_t", "_x", "_rn",
        ((F.col("_rn") - 1) / L).cast("long").alias("_blk"),
        ((F.col("_rn") - 1) % L).cast("double").alias("_r"),
        F.when(F.col("_rn") == 1, F.lit(1.0))
        .otherwise(F.lit(float(alpha)))
        .alias("_w"),
    )
    wblk = Window.partitionBy(*keys, "_blk").orderBy(F.col("_rn").asc())
    u = F.col("_w") * F.col("_x") * F.pow(b, -F.col("_r"))
    part = F.pow(b, F.col("_r")) * F.sum(u).over(
        wblk.rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = staged.withColumn("_part", part)
    blocks = rows.groupBy(*keys, "_blk").agg(
        F.max_by("_part", "_rn").alias("_T"),
        F.max("_rn").cast("double").alias("_end"),
    )
    # banded unrolled carry: C_b = sum_{c<=b} T_c * beta^(end_b - end_c)
    # (exponent always >= 0; omitted older terms are exactly 0.0)
    lhs = blocks.select(
        *[F.col(k).alias(f"_lk{i}") for i, k in enumerate(keys)],
        F.col("_blk").alias("_lb"),
        F.col("_end").alias("_lend"),
    )
    rhs = blocks.select(
        *[F.col(k).alias(f"_rk{i}") for i, k in enumerate(keys)],
        F.col("_blk").alias("_rb"),
        F.col("_T").alias("_rT"),
        F.col("_end").alias("_rend"),
    )
    cond = (F.col("_rb") <= F.col("_lb")) & (
        F.col("_rb") >= F.col("_lb") - F.lit(band_blocks)
    )
    for i in range(len(keys)):
        cond = cond & (F.col(f"_lk{i}") == F.col(f"_rk{i}"))
    carries = (
        lhs.join(rhs, on=cond)
        .groupBy(*[F.col(f"_lk{i}") for i in range(len(keys))], "_lb")
        .agg(
            F.sum(
                F.col("_rT") * F.pow(b, F.col("_lend") - F.col("_rend"))
            ).alias("_C"),
            F.first("_lend").alias("_cend"),
        )
        .select(
            *[
                F.col(f"_lk{i}").alias(keys[i])
                for i in range(len(keys))
            ],
            (F.col("_lb") + 1).alias("_blk"),  # keyed to the NEXT block
            "_C",
            "_cend",
        )
    )
    joined = rows.join(carries, on=[*keys, "_blk"], how="left")
    s = F.col("_part") + F.when(
        F.col("_C").isNotNull(),
        F.pow(b, F.col("_rn").cast("double") - F.col("_cend")) * F.col("_C"),
    ).otherwise(F.lit(0.0))
    from seafan_spark.rounding import round_col

    return joined.select(
        *keys,
        F.col("_t").alias(order_col),
        F.col("_x").alias(value_col),
        round_col(s, 6).alias("ewma"),
    )


def durbin_watson_by(
    df,
    order_col: str,
    resid_col: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Durbin-Watson statistic (Durbin & Watson 1950) of an ordered
    residual series per group — the lag-1 serial-correlation screen for
    regression residuals (`ols_by`/`ols_multi_by` leftovers) and the
    scalar companion to :func:`acf_by`'s full curve:

        DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ_t e_t²      ∈ [0, 4]

    ≈ 2(1 − r_1): 2 means no lag-1 autocorrelation, →0 positive, →4
    negative.  Returns (keys..., n, dw) — NULL when the series is all
    zeros.  Same collapsed-series contract and shape as :func:`acf_by`:
    one guarded ordered window (the lag), one map-side-partial groupBy.
    """
    keys = list(keys)
    d = getattr(df, "df", df)
    e = F.col(resid_col).cast("double")
    base = d.filter(e.isNotNull() & F.col(order_col).isNotNull()).select(
        *keys, F.col(order_col).alias("_t"), e.alias("_e")
    )
    from seafan_spark.guards import assert_bounded_groups

    assert_bounded_groups(
        base, keys, "durbin_watson_by",
        scale_hint="Aggregate or residualize the series first — DW is a "
        "per-group ordered lag window.",
    )
    wall = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    word = wall.orderBy(F.col("_t").asc())
    lag = F.lag("_e", 1).over(word)
    scored = base.select(
        *keys, "_e", ((F.col("_e") - lag) * (F.col("_e") - lag)).alias("_d2")
    )
    from seafan_spark.rounding import round_col

    out = scored.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_d2").alias("_num"),
        F.sum(F.col("_e") * F.col("_e")).alias("_den"),
    )
    dw = F.when(F.col("_den") > 0.0, F.col("_num") / F.col("_den"))
    return out.select(
        *keys,
        F.col("_n").cast("bigint").alias("n"),
        round_col(dw, 6).alias("dw"),
    )
