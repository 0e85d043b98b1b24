"""Data-quality expectations — the validation gate before training.

A rule set compiles to ONE aggregation pass over the table (every
row-predicate rule is a ``sum(case when violation then 1 end)``;
uniqueness rules add ``count(*) - count(distinct col)``), then the
single result row unpivots to a (rule, violations, passed) report —
kilobytes of output regardless of table width, no per-rule rescans.
At 100 TB this is the cheapest possible shape: one scan with map-side
partial aggregation and a one-row shuffle; adding a ``unique`` rule
keeps the single scan but routes it through a keyed partial aggregate
on the distinct column (one extra data-sized shuffle — the unavoidable
cost of an exact distinct count; use the HLL sketch surface when an
approximate uniqueness check is enough).

The reference engine has no validation surface (its strict mode raises
on the first bad value); this is a north-star extension in the deequ /
dbt-tests tradition, kept fully declarative so every report is
SQL-twinnable and hash-checkable.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from seafan_spark.session import _plan_literal


@dataclass(frozen=True)
class Rule:
    """A named data-quality expectation. ``violation`` is a boolean
    Column marking each offending row (None for table-level rules, which
    instead provide ``table_violations`` — an aggregate Column counting
    offenses)."""

    name: str
    violation: Column | None = None
    table_violations: Column | None = None

    def __post_init__(self) -> None:
        if (self.violation is None) == (self.table_violations is None):
            raise ValueError(
                f"rule {self.name!r}: exactly one of violation / "
                "table_violations must be set"
            )


def not_null(col: str) -> Rule:
    return Rule(name=f"not_null({col})", violation=F.col(col).isNull())


def in_range(col: str, lo: float, hi: float) -> Rule:
    """Non-null values must lie in [lo, hi]; NULLs pass (pair with
    not_null to forbid them)."""
    c = F.col(col)
    return Rule(
        name=f"in_range({col},{lo},{hi})",
        violation=c.isNotNull() & ((c < F.lit(lo)) | (c > F.lit(hi))),
    )


def accepted_values(col: str, values: Sequence) -> Rule:
    """Non-null values must be one of ``values``; NULLs pass."""
    c = F.col(col)
    vals = ",".join(str(v) for v in values)
    return Rule(
        name=f"accepted_values({col},[{vals}])",
        violation=c.isNotNull() & ~c.isin(list(values)),
    )


def matches(col: str, pattern: str) -> Rule:
    """Non-null values must fully match the regex; NULLs pass.

    Anchored with ``\\A(?:pat)\\z``, not ``^...$``: Java's ``$`` also
    matches just before a trailing newline, so ``'F\\n'`` would pass a
    ``^[FO]$`` rule — looser than "fully match" and than the DuckDB
    ``regexp_full_match`` oracle twin. ``\\A``/``\\z`` are true
    string-boundary anchors."""
    c = F.col(col)
    return Rule(
        name=f"matches({col})",
        violation=c.isNotNull() & ~c.rlike(f"\\A(?:{pattern})\\z"),
    )


def unique(col: str) -> Rule:
    """Every non-null value appears once: violations = count(col) -
    count(distinct col). Table-level (needs a distinct aggregate)."""
    return Rule(
        name=f"unique({col})",
        table_violations=F.count(F.col(col)) - F.count_distinct(F.col(col)),
    )


def check_rules(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Evaluate every rule in ONE aggregation pass and return the report:
    (rule string, violations bigint, passed boolean), one row per rule in
    the given order."""
    if not rules:
        raise ValueError("check_rules: empty rule list")
    aggs = []
    for i, r in enumerate(rules):
        if r.violation is not None:
            agg = F.sum(F.when(r.violation, 1).otherwise(0))
        else:
            agg = r.table_violations
        aggs.append(F.coalesce(agg.cast("bigint"), F.lit(0)).alias(f"_v{i}"))
    row = df.agg(*aggs)
    report = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.col(f"_v{i}").alias("violations"),
                )
                for i, r in enumerate(rules)
            ]
        )
    ).alias("r")
    return row.select(report).select(
        F.col("r.rule").alias("rule"),
        F.col("r.violations").alias("violations"),
        (F.col("r.violations") == 0).alias("passed"),
    )


def benford_report(df, value_col: str, keys=()):
    """Benford first-significant-digit screen (Newcomb 1881 / Benford
    1938; the standard forensic data-quality test for fabricated or
    unit-mangled numeric columns): per group, the observed share of each
    leading digit 1-9 against the Benford expectation
    ``log10(1 + 1/d)``, plus the group's Pearson chi-square statistic
    (8 degrees of freedom) riding on every row.

    Only finite positive values participate (Benford applies to
    scale-spanning magnitudes).  Returns one row per (keys..., digit)
    for ALL nine digits — a digit with zero occurrences (the strongest
    Benford violation) still gets its row and contributes its full
    ``n * ben_d`` term to chi2 (round-5 ADVICE: the observed-only
    version silently understated the 8-dof statistic).

    Scale shape: the first digit is pure Column arithmetic
    (``floor(x / 10^floor(log10 x))`` — replayable double math, no
    string formatting), so the corpus contributes one
    map-side-partial groupBy over (keys, digit); densification joins
    the group-sized skeleton (groups x 9 literal digits), and shares
    and chi-square are window sums over the 9-rows-per-group
    relation."""
    import math

    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    d = getattr(df, "df", df)
    keys = list(keys)
    x = F.col(value_col).cast("double")
    ok = x.isNotNull() & (x > 0.0) & ~F.isnan(x) & (x != float("inf"))
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    counts = (
        d.filter(ok)
        .withColumn("digit", digit)
        .groupBy(*keys, "digit")
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    # densify to all 9 digits per group: zero-count digits must appear
    # (and contribute n*ben_d to chi2). The skeleton is group-sized x 9.
    all_digits = F.explode(_plan_literal(list(range(1, 10)), "array<int>")).alias("digit")
    if keys:
        skeleton = counts.select(*keys).distinct().select(*keys, all_digits)
    else:
        skeleton = d.sparkSession.range(1).select(all_digits)
    counts = skeleton.join(counts, [*keys, "digit"], "left").fillna(0, subset=["n_d"])
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(0))
    ben = F.element_at(
        _plan_literal([math.log10(1 + 1 / dd) for dd in range(1, 10)], "array<double>"),
        F.col("digit"),
    )
    n = F.sum("n_d").over(w)
    share = F.col("n_d") / n
    dev = (share - ben) * (share - ben) / ben
    # empty ungrouped input: the literal skeleton still has 9 rows but
    # n = 0 — drop them instead of dividing by zero under ANSI mode
    counts = counts.withColumn("_n", n).filter(F.col("_n") > 0).drop("_n")
    return counts.select(
        *keys,
        "digit",
        "n_d",
        round_col(share, 6).alias("share"),
        round_col(ben, 6).alias("benford"),
        round_col(F.sum(dev).over(w) * n, 6).alias("chi2"),
    )


def k_anonymity(
    df: DataFrame, qi_cols: Sequence[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over quasi-identifier columns:
    every row should share its QI combination with at least k−1 others,
    or it is re-identifiable. The training-data governance counterpart
    of the PII scanner — PII detection finds direct identifiers, this
    measures how identifying the INDIRECT attributes are in combination.

    Returns ONE row: (k, n_rows, n_classes, min_class_size,
    violating_classes, violating_rows) where a class is a distinct QI
    combination and "violating" means class size < k. NULL QI values
    form their own class (SQL group-by semantics — a shared-missing
    attribute is itself identifying).

    100 TB design: one map-side-combining groupBy on the QI key (the
    only shuffle, carrying just the key + a count), then one scalar
    aggregation over the class relation. The per-class detail, when
    needed, is the groupBy itself — this summary never materializes it
    driver-side.
    """
    if not qi_cols:
        raise ValueError("k_anonymity: need at least one quasi-identifier")
    if k < 1:
        raise ValueError("k_anonymity: k must be >= 1")
    cls = df.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    return cls.agg(
        F.sum("_cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("_cnt").cast("bigint").alias("min_class_size"),
        F.sum(F.when(F.col("_cnt") < k, 1).otherwise(0))
        .cast("bigint")
        .alias("violating_classes"),
        F.sum(F.when(F.col("_cnt") < k, F.col("_cnt")).otherwise(0))
        .cast("bigint")
        .alias("violating_rows"),
    ).select(F.lit(int(k)).cast("bigint").alias("k"), "*")


def l_diversity(
    df: DataFrame, qi_cols: Sequence[str], sensitive_col: str, l: int = 2
) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007), the companion to
    :func:`k_anonymity`: a QI equivalence class that is k-anonymous can
    still leak the sensitive attribute if everyone in it SHARES that
    attribute — each class should contain at least ``l`` distinct
    sensitive values.

    Returns ONE row: (l, n_rows, n_classes, min_distinct_sensitive,
    violating_classes, violating_rows) where "violating" means a class
    with fewer than ``l`` distinct non-NULL sensitive values. NULL
    sensitive values count toward rows but never toward diversity.

    100 TB design: one map-side-combining groupBy on (QI key, sensitive)
    — the widest relation is distinct combinations, not rows — then a
    second groupBy up to the QI class and one scalar aggregation.
    """
    if not qi_cols:
        raise ValueError("l_diversity: need at least one quasi-identifier")
    if l < 1:
        raise ValueError("l_diversity: l must be >= 1")
    combo = df.groupBy(
        *[F.col(c) for c in qi_cols], F.col(sensitive_col).alias("_sv")
    ).agg(F.count(F.lit(1)).alias("_cnt"))
    cls = combo.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.sum("_cnt").alias("_rows"),
        F.sum(F.when(F.col("_sv").isNotNull(), 1).otherwise(0)).alias("_div"),
    )
    return cls.agg(
        F.sum("_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("_div").cast("bigint").alias("min_distinct_sensitive"),
        F.sum(F.when(F.col("_div") < l, 1).otherwise(0))
        .cast("bigint")
        .alias("violating_classes"),
        F.sum(F.when(F.col("_div") < l, F.col("_rows")).otherwise(0))
        .cast("bigint")
        .alias("violating_rows"),
    ).select(F.lit(int(l)).cast("bigint").alias("l"), "*")


def t_closeness(
    df: DataFrame,
    qi_cols: Sequence[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007), completing
    the :func:`k_anonymity` / :func:`l_diversity` trio: a class can be
    k-anonymous AND l-diverse yet still leak — if its sensitive-value
    DISTRIBUTION differs sharply from the corpus-wide one, observing
    the class updates an attacker's belief.  Each QI equivalence class
    should have distance ≤ ``t`` from the global distribution; for a
    categorical sensitive attribute the paper's EMD with uniform ground
    distance IS the total-variation distance, computed here without
    densifying via the positive-part identity

        TVD(P_class, P_global) = Σ_v max(0, P_class(v) − P_global(v))

    — only values PRESENT in the class can contribute a positive term,
    so absent (class, value) cells never need materializing (the same
    missing-mass trick as token_divergence_by's Jensen-Shannon).

    Returns ONE row: (t, n_rows, n_classes, max_tvd, violating_classes,
    violating_rows) where "violating" means a class whose 6-dp ROUNDED
    TVD exceeds ``t`` (the rounded-compare contract — a last-ulp sum
    difference can never flip a verdict cross-engine).  Rows with NULL
    sensitive values are excluded from both distributions (NULL QI
    values form their own class, SQL group-by semantics).

    100 TB design: one map-side-combining groupBy to the (QI class,
    value) cell relation — the only fact-table shuffle — then window
    totals per class, a broadcast join of the value-cardinality global
    relation, one class-level aggregate, one scalar aggregate.
    """
    if not qi_cols:
        raise ValueError("t_closeness: need at least one quasi-identifier")
    if not (0.0 <= t <= 1.0):
        raise ValueError("t_closeness: t must be in [0, 1]")
    from pyspark.sql import Window

    from seafan_spark.rounding import round_col

    cell = (
        df.filter(F.col(sensitive_col).isNotNull())
        .groupBy(*[F.col(c) for c in qi_cols], F.col(sensitive_col).alias("_sv"))
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
    )
    crows = F.sum("_cnt").over(Window.partitionBy(*[F.col(c) for c in qi_cols]))
    gv = cell.groupBy("_sv").agg(F.sum("_cnt").alias("_gcnt"))
    gtot = gv.agg(F.sum("_gcnt").alias("_gtot"))
    cells = (
        cell.withColumn("_crows", crows)
        .join(F.broadcast(gv), on="_sv")
        .crossJoin(F.broadcast(gtot))
    )
    pos = F.greatest(
        F.col("_cnt") / F.col("_crows") - F.col("_gcnt") / F.col("_gtot"),
        F.lit(0.0),
    )
    cls = cells.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.first("_crows").alias("_rows"),
        round_col(F.sum(pos), 6).alias("_tvd"),
    )
    return cls.agg(
        F.sum("_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.max("_tvd").alias("max_tvd"),
        F.sum(F.when(F.col("_tvd") > F.lit(float(t)), 1).otherwise(0))
        .cast("bigint")
        .alias("violating_classes"),
        F.sum(F.when(F.col("_tvd") > F.lit(float(t)), F.col("_rows")).otherwise(0.0))
        .cast("bigint")
        .alias("violating_rows"),
    ).select(F.lit(float(t)).alias("t"), "*")
