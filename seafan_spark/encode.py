"""Encoding stage: continuous normalization, categorical dictionary codes,
one-hot — the reference's AppendC/AppendD/MakeOneHot/UpdateFts/ReInit
(gdata.go:80-272, 555-608, 1078-1120) rebuilt as *derived Column
expressions* over the raw DataFrame columns.

Design: raw values stay the DataFrame's native columns; encodings are
computed on demand from FType parameters ("GetRaw" becomes a no-op,
"ReInit" = re-running the fit). This keeps every encode lazy and lets
Catalyst prune unused encodings entirely.

Semantic contracts preserved:
- category codes assigned by **sorted unique value order** (ByPtr,
  data.go:703-715) — stable across runs, not frequency-ordered;
- unseen values map to the Default level's code (gdata.go:186-196);
- float categorical keys rejected (gdata.go:175-177);
- zero-variance normalize is an error (gdata.go:110-112).

Scale notes: fitting a dictionary is one distinct+collect (small result by
assumption — categorical cardinality, not row count); code lookup compiles
to a literal map (JVM-side, no Python) for <= ``_MAP_LITERAL_MAX`` levels
and a broadcast join above that.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seafan_spark.ftypes import FParam, FRole, FType, FTypes
from seafan_spark.pipeline import Pipeline
from seafan_spark.session import _local_frame

_MAP_LITERAL_MAX = 10_000


class EncodeError(ValueError):
    pass


def fit_normalize(pipe: Pipeline, field: str) -> FParam:
    """Fit z-score location/scale (AppendC, gdata.go:103-116)."""
    row = pipe.df.agg(
        F.avg(field).alias("m"), F.stddev_samp(field).alias("s")
    ).collect()[0]
    if row["s"] is None or row["s"] == 0.0:
        raise EncodeError(f"normalize: field {field} has zero variance")
    return FParam(location=float(row["m"]), scale=float(row["s"]))


#: ceiling on category-dictionary cardinality: the dictionary contract is
#: inherently driver-side (sorted codes, FType JSON round-trip), so a
#: runaway-cardinality categorical must ERROR, not OOM the driver
_LEVELS_MAX = 1_000_000


def fit_levels(
    pipe: Pipeline, field: str, default: Any = None, max_levels: int = _LEVELS_MAX
) -> FParam:
    """Fit the category dictionary: sorted unique values -> codes 0..n-1
    (AppendD, gdata.go:156-228; ByPtr, data.go:703-715).

    Collects at most ``max_levels + 1`` distincts (limit pushed into the
    distinct aggregation) and raises EncodeError above the cap — a
    categorical that exceeds it isn't a dictionary-encodable feature;
    join-based encodings (join_cat_codes handles the >10k lookup side
    already) or feature hashing are the scale tools."""
    dtype = pipe.df.schema[field].dataType
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        raise EncodeError(f"categorical field {field} cannot be float (gdata.go:175-177)")
    rows = (
        pipe.df.select(field)
        .where(F.col(field).isNotNull())  # NULL is not a level; don't count it
        .distinct()
        .limit(max_levels + 1)
        .collect()
    )
    if len(rows) > max_levels:
        raise EncodeError(
            f"categorical field {field} has more than {max_levels} distinct "
            "levels; a driver-side dictionary cannot hold it - raise "
            "max_levels explicitly or use a join/hash encoding"
        )
    vals = [r[0] for r in rows]
    levels = {v: i for i, v in enumerate(sorted(vals))}
    if default is not None and default not in levels:
        raise EncodeError(f"default {default!r} not among levels of {field}")
    return FParam(levels=levels, default=default)


def cat_code_col(ft: FType, col: Column | None = None) -> Column:
    """Compile value -> int32 code lookup from the FType dictionary.

    Unseen values coalesce to the Default level's code (gdata.go:186-196),
    else null.
    """
    if ft.fp.levels is None:
        raise EncodeError(f"field {ft.name} has no fitted levels")
    col = col if col is not None else F.col(ft.name)
    levels = ft.fp.levels
    if len(levels) <= _MAP_LITERAL_MAX:
        pairs: list[Column] = []
        for v, code in levels.items():
            pairs += [F.lit(v), F.lit(code)]
        lookup = F.element_at(F.create_map(*pairs), col)
    else:
        # beyond literal-map size, callers should use join_cat_codes()
        raise EncodeError(
            f"field {ft.name}: {len(levels)} levels exceeds literal-map limit; "
            "use join_cat_codes() for high-cardinality dictionaries"
        )
    if ft.fp.default is not None:
        lookup = F.coalesce(lookup, F.lit(levels[ft.fp.default]))
    return lookup.cast("int")


def join_cat_codes(pipe: Pipeline, ft: FType, out_name: str) -> Pipeline:
    """High-cardinality dictionary lookup via broadcast join (scale path)."""
    if ft.fp.levels is None:
        raise EncodeError(f"field {ft.name} has no fitted levels")
    spark = pipe.spark
    dict_df = _local_frame(
        spark,
        [(k, v) for k, v in ft.fp.levels.items()], schema=[ft.name, out_name]
    )
    joined = pipe.df.join(F.broadcast(dict_df), on=ft.name, how="left")
    if ft.fp.default is not None:
        joined = joined.withColumn(
            out_name, F.coalesce(F.col(out_name), F.lit(ft.fp.levels[ft.fp.default]))
        )
    return pipe._derive(joined)


def normalized_col(ft: FType, col: Column | None = None) -> Column:
    """(x - location) / scale (gdata.go:109-116)."""
    col = col if col is not None else F.col(ft.name)
    return (col.cast("double") - F.lit(ft.fp.location)) / F.lit(ft.fp.scale)


def un_normalize_col(ft: FType, col: Column | None = None) -> Column:
    """x * scale + location (UnNormalize, diags.go:19-28)."""
    col = col if col is not None else F.col(ft.name)
    return col.cast("double") * F.lit(ft.fp.scale) + F.lit(ft.fp.location)


def append_cts(
    pipe: Pipeline,
    name: str,
    col: Column | None = None,
    normalize: bool = False,
    fp: FParam | None = None,
) -> Pipeline:
    """Add a continuous field (AppendC, gdata.go:80-153). With
    ``normalize``, z-score using supplied ``fp`` or freshly fitted params."""
    col = col if col is not None else F.col(name)
    d = pipe.df.withColumn(name, col.cast("double"))
    out = pipe._derive(d)
    ft = FType(name=name, role=FRole.CTS, normalized=normalize)
    if normalize:
        ft.fp = fp if fp is not None else fit_normalize(out, name)
        out.df = out.df.withColumn(name, normalized_col(ft))
    elif fp is not None:
        ft.fp = fp
    fts = out.fts.copy()
    fts.add(ft)
    out.fts = fts
    return out


def append_cat(
    pipe: Pipeline,
    name: str,
    col: Column | None = None,
    fp: FParam | None = None,
    materialize_code: bool = False,
) -> Pipeline:
    """Add a categorical field (AppendD, gdata.go:156-228): fit (or reuse)
    the sorted-unique dictionary; optionally materialize the int32 code
    column as ``{name}__code``."""
    if col is not None:
        pipe = pipe._derive(pipe.df.withColumn(name, col))
    ft = FType(name=name, role=FRole.CAT)
    ft.fp = fp if fp is not None else fit_levels(pipe, name)
    ft.cats = len(ft.fp.levels or {})
    fts = pipe.fts.copy()
    fts.add(ft)
    out = pipe._derive(pipe.df, fts=fts)
    if materialize_code:
        if len(ft.fp.levels or {}) <= _MAP_LITERAL_MAX:
            out.df = out.df.withColumn(f"{name}__code", cat_code_col(ft))
        else:
            # above the literal-map limit the documented mid-cardinality
            # path is the broadcast dictionary join
            out.df = join_cat_codes(out, ft, f"{name}__code").df
        if not pipe.keep_raw:
            # keep_raw=False: raw storage is released once the encoding
            # exists (reference keepRaw, pipeline.go:83-94); the dictionary
            # lives on in the FType for decode/UpdateFts
            out.df = out.df.drop(name)
    return out


def make_one_hot(pipe: Pipeline, from_field: str, name: str) -> Pipeline:
    """One-hot a fitted categorical into an array<double> column
    (MakeOneHot, gdata.go:231-272 — there a dense rows*cats slab; here an
    array column, columnar in parquet/Arrow, sliceable by index)."""
    src = pipe.fts.get(from_field)
    if src is None or src.role != FRole.CAT or src.fp.levels is None:
        raise EncodeError(f"one-hot source {from_field} must be a fitted categorical")
    code = cat_code_col(src)
    ncat = len(src.fp.levels)
    arr = F.array(*[(code == F.lit(i)).cast("double") for i in range(ncat)])
    d = pipe.df.withColumn(name, arr)
    if not pipe.keep_raw:
        # keep_raw=False drops the raw categorical once encoded
        # (reference keepRaw, pipeline.go:83-94)
        d = d.drop(from_field)
    fts = pipe.fts.copy()
    fts.add(FType(name=name, role=FRole.ONE_HOT, cats=ncat, from_field=from_field))
    return pipe._derive(d, fts=fts)


def update_fts(pipe: Pipeline, new_fts: FTypes) -> Pipeline:
    """Re-encode under supplied FTypes — scoring-time alignment to
    training-time encodings (UpdateFts, gdata.go:555-608). Raw columns are
    untouched; encodings recompile from the new parameters."""
    merged = pipe.fts.copy()
    for ft in new_fts:
        if ft.name in pipe.df.columns or ft.role in (FRole.ONE_HOT, FRole.EMBED):
            merged.add(ft)
    out = pipe._derive(pipe.df, fts=merged)
    for ft in new_fts:
        if ft.role in (FRole.ONE_HOT, FRole.EMBED) and ft.from_field in pipe.df.columns:
            if ft.name not in out.df.columns:
                out = make_one_hot(out, ft.from_field, ft.name)
    return out


def reinit(pipe: Pipeline, fts: FTypes | None = None) -> Pipeline:
    """Re-derive encodings from raw, re-fitting unless params are supplied
    (ReInit, gdata.go:1078-1120)."""
    if fts is not None:
        return update_fts(pipe, fts)
    new = FTypes()
    for ft in pipe.fts:
        if ft.role == FRole.CAT and ft.name in pipe.df.columns:
            fp = fit_levels(pipe, ft.name, default=ft.fp.default)
            new.add(FType(name=ft.name, role=FRole.CAT, cats=len(fp.levels or {}), fp=fp))
        elif ft.role == FRole.CTS and ft.normalized and ft.name in pipe.df.columns:
            fp = fit_normalize(pipe, ft.name)
            new.add(FType(name=ft.name, role=FRole.CTS, normalized=True, fp=fp))
        else:
            new.add(ft)
    return pipe._derive(pipe.df, fts=new)


def winsorize(
    pipe: Pipeline,
    field: str,
    lower: float = 0.01,
    upper: float = 0.99,
    name: str | None = None,
    approx: bool = False,
) -> Pipeline:
    """Clip a continuous field to its [lower, upper] quantiles
    (outlier-robust normalization prep).

    Clipping is a pure projection over driver-fetched cutoffs.
    ``approx=False`` (default) computes EXACT linearly-interpolated
    cutoffs via ``agg.exact_quantiles`` — distributed rank, two parallel
    jobs, no unbounded ``percentile`` value buffer, so the exact path is
    itself corpus-scale-safe; ``approx=True`` trades exactness for a
    single pass with a KB-sized merge-able sketch
    (``percentile_approx``)."""
    from pyspark.sql import functions as F

    out = name or f"{field}_wins"
    if approx:
        cuts = pipe.df.agg(
            F.expr(f"percentile_approx(`{field}`, {lower!r})").alias("lo"),
            F.expr(f"percentile_approx(`{field}`, {upper!r})").alias("hi"),
        ).first()
        lo, hi = float(cuts["lo"]), float(cuts["hi"])
    else:
        from seafan_spark.agg import exact_quantiles

        _, qs = exact_quantiles(pipe.df, field, [lower, upper])
        lo, hi = float(qs[lower]), float(qs[upper])
    # greatest/least SKIP null arguments (SQL semantics), which would
    # silently clip NULL field values to the lower cutoff — pass them
    # through instead
    clip = F.least(F.greatest(F.col(field).cast("double"), F.lit(lo)), F.lit(hi))
    d = pipe.df.withColumn(
        out, F.when(F.col(field).isNull(), F.lit(None).cast("double")).otherwise(clip)
    )
    return pipe._derive(d)


def target_encode(
    pipe: Pipeline,
    field: str,
    target: str,
    name: str | None = None,
    smoothing: float = 20.0,
    out_of_fold: bool = False,
) -> Pipeline:
    """Smoothed target (mean) encoding of a categorical field — the
    classic high-cardinality alternative to one-hot that the reference's
    encoding layer (AppendD/MakeOneHot, gdata.go:156-228) stops short of:

        enc(level) = (sum_y(level) + smoothing * prior) / (n(level) + smoothing)

    where ``prior`` is the global target mean (Micci-Barreca 2001, "A
    preprocessing scheme for high-cardinality categorical attributes").
    With ``out_of_fold=True`` the row's own target is excluded
    (leave-one-out: ``(sum_y - y) / (n - 1)`` smoothed), the standard
    leakage guard when the encoding feeds a model trained on the same
    rows; a level seen once collapses to the prior exactly.

    Scale: one map-side-partial groupBy produces the level table
    (categorical-cardinality rows, NOT row count), broadcast-joined back;
    the prior is a 1-row aggregate cross-joined in. Zero Python, zero
    extra shuffle over the fact table. Determinism: with an integral
    target, sums and counts are exact and every division is a single
    IEEE-754 operation, so encodings are bit-identical cross-engine.

    NULL handling: NULL ``field`` rows form their own level (groupBy
    treats NULL as a key); NULL ``target`` rows contribute to neither
    numerator nor denominator (SQL aggregate semantics) and receive the
    level's encoding like any other row.
    """
    out = name or f"{field}_te"
    y = F.col(target).cast("double")
    stats = pipe.df.groupBy(F.col(field).alias("_te_key")).agg(
        F.sum(y).alias("_te_sum"), F.count(y).alias("_te_cnt")
    )
    prior = pipe.df.agg(
        (F.sum(y) / F.count(y)).alias("_te_prior")
    )
    m = F.lit(float(smoothing))
    # null-safe equality: a NULL field value is its own level (groupBy
    # already keyed it); a plain equi-join would silently drop it to the
    # prior
    d = (
        pipe.df.join(
            F.broadcast(stats),
            on=F.col(field).eqNullSafe(F.col("_te_key")),
            how="left",
        )
        .drop("_te_key")
        .crossJoin(F.broadcast(prior))
    )
    if out_of_fold:
        # leave-one-out: subtract the row's own contribution; NULL target
        # rows subtract nothing (they were never counted)
        num = F.col("_te_sum") - F.coalesce(y, F.lit(0.0))
        den = F.col("_te_cnt") - F.when(y.isNotNull(), F.lit(1)).otherwise(F.lit(0))
    else:
        num = F.col("_te_sum")
        den = F.col("_te_cnt")
    # NULL the denominator when it is 0 (possible only with smoothing=0 on
    # a level with no observed targets) — ANSI mode would error the divide
    den_safe = F.when((den + m) > 0, den + m)
    enc = (num + m * F.col("_te_prior")) / den_safe
    # a level with no observed target at all (all-NULL) has NULL _te_sum:
    # fall back to the prior rather than propagating NULL
    enc = F.coalesce(enc, F.col("_te_prior"))
    d = d.withColumn(out, enc).drop("_te_sum", "_te_cnt", "_te_prior")
    return pipe._derive(d)


def impute(
    pipe: Pipeline,
    field: str,
    strategy: str = "mean",
    keys: "list[str] | tuple[str, ...]" = (),
    value: Any = None,
    name: str | None = None,
) -> Pipeline:
    """Missing-value imputation — the repair step between the quality
    scanners (profile/quality_rules flag the NULL rates) and the encode
    stage (AppendC rejects NULL-heavy continuous fields):

    - ``mean``   per-group mean (exact: one sum + one count, single
      IEEE division);
    - ``median`` exact median — grouped via keyed rank windows (avg of
      the middle one/two order statistics), ungrouped through
      ``agg.exact_quantiles`` (distributed rank, never an unbounded
      percentile buffer);
    - ``mode``   most frequent value with SMALLEST-value tiebreak (the
      deterministic ``agg.mode_by`` contract, not Spark's arbitrary
      ``F.mode``);
    - ``constant`` the supplied ``value``.

    Groups with NO observed values fall back to the global statistic
    (mean/mode) — a group of all-NULLs should not stay NULL. Output
    column ``name`` (default ``{field}_imp``) is double for
    mean/median, the field's own type otherwise.

    Scale shape: every statistic comes from a map-side-partial groupBy
    collapsed to group (or group x distinct-value) cardinality and is
    broadcast-joined back; the corpus shuffles at most once and never
    sorts globally. Grouped medians rank within keys-partitioned
    windows (each group independent).
    """
    out = name or f"{field}_imp"
    keys = list(keys)
    d = pipe.df
    x = F.col(field)

    if strategy == "constant":
        if value is None:
            raise EncodeError("impute: strategy='constant' needs value=")
        return pipe._derive(d.withColumn(out, F.coalesce(x, F.lit(value))))

    if strategy == "mean":
        xd = x.cast("double")
        glob = d.agg((F.sum(xd) / F.count(xd)).alias("_imp_g"))
        if keys:
            stats = d.groupBy(*keys).agg(
                (F.sum(xd) / F.count(xd)).alias("_imp_v")
            )
            j = d.join(F.broadcast(stats), on=keys, how="left").crossJoin(
                F.broadcast(glob)
            )
        else:
            j = d.crossJoin(F.broadcast(glob)).withColumn(
                "_imp_v", F.col("_imp_g")
            )
        filled = F.coalesce(xd, F.col("_imp_v"), F.col("_imp_g"))
        return pipe._derive(
            j.withColumn(out, filled).drop("_imp_v", "_imp_g")
        )

    if strategy == "median":
        from pyspark.sql import Window

        xd = x.cast("double")
        if keys:
            from seafan_spark.rank import keyed_running_scan

            base = d.filter(xd.isNotNull()).select(*keys, xd.alias("_mx"))
            # round-10: keyed rank via the range-partitioned scan — the
            # keyed window form put each low-cardinality key cell's
            # corpus-fraction sort on one task
            med = (
                keyed_running_scan(
                    base, keys, [("_mx", True)],
                    rownum_out="_rn", total_out="_cnt",
                )
                .filter(
                    # lower middle (rn = ceil(cnt/2)) and upper middle
                    # (rn = floor(cnt/2) + 1) — the same row when cnt is
                    # odd, the two middles when even; avg is the median
                    (F.col("_rn") == F.ceil(F.col("_cnt") / 2))
                    | (F.col("_rn") == F.floor(F.col("_cnt") / 2) + 1)
                )
                .groupBy(*keys)
                .agg(F.avg("_mx").alias("_imp_v"))
            )
            j = d.join(F.broadcast(med), on=keys, how="left")
            # global fallback for all-NULL groups: median of group medians
            # would be biased; use the exact global median instead
            from seafan_spark.agg import exact_quantiles

            _, qs = exact_quantiles(d.filter(xd.isNotNull()), field, [0.5])
            if qs.get(0.5) is None:
                raise EncodeError(
                    f"impute(median): column {field!r} has no observed "
                    "(non-NULL) values — nothing to impute from"
                )
            gmed = float(qs[0.5])
            filled = F.coalesce(xd, F.col("_imp_v"), F.lit(gmed))
            return pipe._derive(j.withColumn(out, filled).drop("_imp_v"))
        from seafan_spark.agg import exact_quantiles

        _, qs = exact_quantiles(d.filter(xd.isNotNull()), field, [0.5])
        if qs.get(0.5) is None:
            raise EncodeError(
                f"impute(median): column {field!r} has no observed "
                "(non-NULL) values — nothing to impute from"
            )
        gmed = float(qs[0.5])
        return pipe._derive(d.withColumn(out, F.coalesce(xd, F.lit(gmed))))

    if strategy == "mode":
        from pyspark.sql import Window

        base = d.filter(x.isNotNull())
        counts = base.groupBy(*keys, x.alias("_mv")).agg(
            F.count(F.lit(1)).alias("_mc")
        )
        wk = (
            Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
        ).orderBy(F.col("_mc").desc(), F.col("_mv").asc())
        modes = counts.withColumn("_mr", F.row_number().over(wk)).filter(
            F.col("_mr") == 1
        )
        # The global mode is a single scalar: collect it (1 row, bounded)
        # and inject via F.lit rather than crossJoin — a crossJoin with an
        # EMPTY 1-row relation (all-NULL column) would silently drop every
        # input row. Raise a clear error instead.
        gmode_rows = (
            base.groupBy(x.alias("_gv"))
            .agg(F.count(F.lit(1)).alias("_gc"))
            .orderBy(F.col("_gc").desc(), F.col("_gv").asc())
            .limit(1)
            .select("_gv")
            .collect()
        )
        if not gmode_rows:
            raise EncodeError(
                f"impute(mode): column {field!r} has no observed "
                "(non-NULL) values — nothing to impute from"
            )
        gmode_val = gmode_rows[0][0]
        if keys:
            j = d.join(
                F.broadcast(modes.select(*keys, "_mv")), on=keys, how="left"
            )
            filled = F.coalesce(x, F.col("_mv"), F.lit(gmode_val))
            return pipe._derive(j.withColumn(out, filled).drop("_mv"))
        # ungrouped: the per-corpus mode IS the global mode
        return pipe._derive(
            d.withColumn(out, F.coalesce(x, F.lit(gmode_val)))
        )

    raise EncodeError(
        f"impute: unknown strategy {strategy!r} "
        "(mean | median | mode | constant)"
    )
