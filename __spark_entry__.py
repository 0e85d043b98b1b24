"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — one entry per implemented operator family (SURVEY.md §2),
each built through the seafan_spark engine API (Pipeline / expression
language / encode / agg), not raw Spark SQL — so the correctness gate
exercises the engine itself.
``oracle_sql()`` — DuckDB twins. Aggregate outputs are rounded (2dp money,
6dp ratios) on BOTH sides so order-of-accumulation float noise cannot flip
the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seafan_spark.agg import group_by, top_k
from seafan_spark.encode import append_cat, cat_code_col, fit_levels, fit_normalize, normalized_col
from seafan_spark.exprlang import add_to_pipe
from seafan_spark.ftypes import FParam, FType, FRole
from seafan_spark.pipeline import Pipeline
from seafan_spark.rounding import round_col
from seafan_spark.session import _local_frame
from seafan_spark.sources import parquet_to_pipe


def _pipe(spark: SparkSession, sf_dir: str, table: str, order_cols=None) -> Pipeline:
    return parquet_to_pipe(spark, f"{sf_dir}/{table}.parquet", order_cols=order_cols)


# --------------------------------------------------------------------------
# queries — each (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------


def q_where_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline.where + keep (gdata.go:897-969, 633-649)."""
    p = _pipe(spark, sf_dir, "lineitem")
    p = p.where("l_returnflag", ["A", "R"]).keep(
        ["l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"]
    )
    return p.df.select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (agg.group_by)."""
    p = _pipe(spark, sf_dir, "lineitem")
    p = add_to_pipe(p, "l_extendedprice*(1-l_discount)", "disc_price")
    out = group_by(
        p,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": round_col(F.sum("l_quantity"), 2),
            "sum_base_price": round_col(F.sum("l_extendedprice"), 2),
            "sum_disc_price": round_col(F.sum("disc_price"), 2),
            "avg_disc": round_col(F.avg("l_discount"), 6),
            "count_order": F.count(F.lit(1)),
        },
    )
    return out


def q_expr_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression language: if / comparison 0-1 semantics / arithmetic."""
    p = _pipe(spark, sf_dir, "lineitem")
    p = add_to_pipe(
        p, "if(l_discount>0.05, l_extendedprice*(1-l_discount), l_extendedprice)", "net_price"
    )
    p = add_to_pipe(p, "(l_quantity>25) + (l_tax>=0.04)", "flags")
    return p.df.select(
        "l_orderkey",
        "l_linenumber",
        round_col("net_price", 4).alias("net_price"),
        F.col("flags").cast("double").alias("flags"),
    )


def q_expr_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-column summary functions (EvalSFunction, parser.go:726-792)."""
    p = _pipe(spark, sf_dir, "lineitem")
    for expr, name in [
        ("sum(l_quantity)", "sum_qty"),
        ("mean(l_extendedprice)", "mean_price"),
        ("std(l_discount)", "std_disc"),
        ("max(l_shipdate)", "max_ship"),
        ("count(l_orderkey)", "n"),
    ]:
        p = add_to_pipe(p, expr, name)
    return (
        p.df.select(
            round_col("sum_qty", 2).alias("sum_qty"),
            round_col("mean_price", 4).alias("mean_price"),
            round_col("std_disc", 6).alias("std_disc"),
            F.col("max_ship").alias("max_ship"),
            F.col("n").cast("bigint").alias("n"),
        )
        .limit(1)
    )


def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key inner join, left-wins semantics (gdata.go:1168-1296)."""
    orders = _pipe(spark, sf_dir, "orders")
    cust = _pipe(spark, sf_dir, "customer").rename({"c_custkey": "o_custkey"})
    j = orders.join(cust, "o_custkey", "inner", broadcast_right=True)
    return j.df.select(
        "o_orderkey",
        "o_custkey",
        "c_mktsegment",
        round_col("o_totalprice", 2).alias("o_totalprice"),
    )


def q_join_left_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join with seafan default-fill: missing side gets defaults, not
    NULLs (getMiss, gdata.go:1322-1344)."""
    cust = _pipe(spark, sf_dir, "customer")
    orders = _pipe(spark, sf_dir, "orders").rename({"o_custkey": "c_custkey"})
    j = cust.join(orders.keep(["c_custkey", "o_totalprice", "o_orderstatus"]), "c_custkey", "left")
    out = j.df.select(
        "c_custkey",
        "c_name",
        round_col("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )
    return out


def q_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region ⋈ nation ⋈ customer rollup (broadcast dims)."""
    region = _pipe(spark, sf_dir, "region").rename({"r_regionkey": "n_regionkey"})
    nation = _pipe(spark, sf_dir, "nation")
    cust = _pipe(spark, sf_dir, "customer").rename({"c_nationkey": "n_nationkey"})
    n_r = nation.join(region, "n_regionkey", "inner", broadcast_right=True)
    c_n_r = cust.join(n_r, "n_nationkey", "inner", broadcast_right=True)
    return group_by(
        c_n_r,
        ["r_name"],
        {"n_cust": F.count(F.lit(1)), "acctbal": round_col(F.sum("c_acctbal"), 2)},
    )


def q_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertical union by name (Append, pipeline.go:429-464)."""
    li = _pipe(spark, sf_dir, "lineitem")
    a = li.where("l_returnflag", ["A"]).keep(["l_orderkey", "l_linenumber", "l_quantity"])
    r = li.where("l_returnflag", ["R"]).keep(["l_orderkey", "l_linenumber", "l_quantity"])
    return a.append(r).df.select("l_orderkey", "l_linenumber", "l_quantity")


def q_expr_datefns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date functions: year/month/day, dateAdd, dateDiff, month boundaries."""
    p = _pipe(spark, sf_dir, "orders")
    for expr, name in [
        ("year(o_orderdate)", "yr"),
        ("month(o_orderdate)", "mo"),
        ("day(o_orderdate)", "dy"),
        ("dateAdd(o_orderdate, 3)", "plus3m"),
        ("dateDiff(toLastDayOfMonth(o_orderdate), toFirstDayOfMonth(o_orderdate), 'day')", "mdays"),
    ]:
        p = add_to_pipe(p, expr, name)
    return p.df.select(
        "o_orderkey",
        F.col("yr").cast("bigint").alias("yr"),
        F.col("mo").cast("bigint").alias("mo"),
        F.col("dy").cast("bigint").alias("dy"),
        F.col("plus3m").cast("date").alias("plus3m"),
        F.col("mdays").cast("bigint").alias("mdays"),
    )


def q_expr_strfns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: strLen, substr, strPos, strCount."""
    p = _pipe(spark, sf_dir, "customer")
    for expr, name in [
        ("strLen(c_name)", "name_len"),
        ("substr(c_name, 1, 8)", "name_head"),
        ("strPos(c_name, '1')", "pos1"),
        ("strCount(c_name, '0')", "zeros"),
    ]:
        p = add_to_pipe(p, expr, name)
    return p.df.select(
        "c_custkey",
        F.col("name_len").cast("bigint").alias("name_len"),
        "name_head",
        F.col("pos1").cast("bigint").alias("pos1"),
        F.col("zeros").cast("bigint").alias("zeros"),
    )


def q_window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-dependent functions over an explicit order (SURVEY §2.7):
    per-user running sums/lags over events ordered by (ts, event_id) —
    partition_by is the scale generalization of seafan's global order."""
    p = _pipe(spark, sf_dir, "events", order_cols=["ts", "event_id"])
    p = add_to_pipe(p, "cumeBefore(value)", "run_sum", partition_by=["user_id"])
    p = add_to_pipe(p, "lag(value, 0)", "prev_value", partition_by=["user_id"])
    p = add_to_pipe(p, "countBefore(value)", "seq", partition_by=["user_id"])
    return p.df.select(
        "event_id",
        "user_id",
        round_col("run_sum", 4).alias("run_sum"),
        round_col("prev_value", 4).alias("prev_value"),
        F.col("seq").cast("bigint").alias("seq"),
    )


def q_encode_cat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical dictionary encoding, sorted-unique code order
    (AppendD/ByPtr, gdata.go:156-228, data.go:703-715)."""
    p = _pipe(spark, sf_dir, "customer")
    p = append_cat(p, "c_mktsegment", materialize_code=True)
    return p.df.select(
        "c_custkey", F.col("c_mktsegment__code").cast("int").alias("seg_code")
    )


def q_encode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score normalization with fitted params (AppendC, gdata.go:103-116)."""
    p = _pipe(spark, sf_dir, "lineitem")
    fp = fit_normalize(p, "l_quantity")
    ft = FType(name="l_quantity", role=FRole.CTS, normalized=True, fp=fp)
    return p.df.select(
        "l_orderkey",
        "l_linenumber",
        round_col(normalized_col(ft), 6).alias("q_z"),
    )


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k levels by count (Levels.TopK, data.go:815-837)."""
    p = _pipe(spark, sf_dir, "events")
    return top_k(p, "event_type", 3)


def q_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + positional row() (gdata.go:470-493; parser row function)."""
    p = _pipe(spark, sf_dir, "customer", order_cols=["c_acctbal", "c_custkey"])
    p = p.sort("c_acctbal", ascending=True)
    p = add_to_pipe(p, "row(c_custkey)", "rank0")
    return p.df.select("c_custkey", F.col("rank0").cast("bigint").alias("rank0"))


def q_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile diagnostic (Decile, diags.go:354-473) as a table."""
    from seafan_spark.diags import decile_table

    p = _pipe(spark, sf_dir, "lineitem")
    p = p.with_column("obs", (F.col("l_quantity") > 25).cast("double"))
    t = decile_table(p, "l_extendedprice", "obs", tiebreak=["l_orderkey", "l_linenumber"])
    return t.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        round_col("mean_fit", 4).alias("mean_fit"),
        round_col("mean_obs", 6).alias("mean_obs"),
        F.col("n").cast("bigint").alias("n"),
    )


def q_assess_r2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assess + R2 diagnostics (diags.go:476-529, 734-754) — one lazy
    aggregation pass, one output row."""
    from seafan_spark.diags import assess_r2_df

    p = _pipe(spark, sf_dir, "lineitem")
    p = p.with_column("obs", (F.col("l_quantity") > 25).cast("double"))
    p = p.with_column("fit", F.col("l_quantity") / F.lit(50.0))
    t = assess_r2_df(p, "fit", "obs", cutoff=0.5)
    return t.select(
        F.col("n"),
        round_col("precision", 6).alias("prec"),
        round_col("recall", 6).alias("recall"),
        round_col("accuracy", 6).alias("accuracy"),
        round_col("r2", 4).alias("r2"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token count, char count, punct ratio, avg token len
    (llmops.text — pure JVM expressions)."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    t = F.col("text")
    return p.df.select(
        "doc_id",
        tx.token_count_col(t).cast("bigint").alias("n_tokens"),
        tx.char_count_col(t).cast("bigint").alias("n_chars2"),
        round_col(tx.punct_ratio_col(t), 6, expensive=True).alias("punct_ratio"),
        round_col(tx.avg_token_len_col(t), 6, expensive=True).alias("avg_tok_len"),
    )


def q_text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + stopword language-ID heuristic (llmops.text)."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    d = tx.add_text_features(p.df, "text")
    return d.select("doc_id", "quality", "pred_lang")


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-estimate token counts per document
    (llmops.text.bpe_token_estimate_col — GPT-2 pre-tokenizer regexp,
    pure JVM regexp_count; oracled against DuckDB regexp_extract_all)."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    return p.df.select(
        "doc_id",
        tx.bpe_token_estimate_col(F.col("text")).alias("bpe_tokens"),
    )


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (SIGMOD'03) per document: fingerprint-set
    size and min fingerprint (llmops.text.winnow_fingerprints_col).
    Portable 60-bit md5 gram hashes — hash-checked against a DuckDB twin
    of the window-min winnowing."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    fps = tx.winnow_fingerprints_col(F.col("text"), portable=True)
    return p.df.select(
        "doc_id",
        F.size(fps).cast("bigint").alias("n_fps"),
        F.array_min(fps).alias("min_fp"),
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab (agg.pivot_table): per user-id-bucket sum of value
    by event_type, explicit level list (no discovery scan)."""
    from seafan_spark.agg import pivot_table

    p = _pipe(spark, sf_dir, "events")
    p = p._derive(p.df.withColumn("user_bucket", (F.col("user_id") % 10).cast("int")))
    out = pivot_table(
        p,
        "user_bucket",
        "event_type",
        round_col(F.sum("value"), 4),
        values=["click", "error", "purchase", "signup", "view"],
    )
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(f"sum_{c}") for c in
          ("click", "error", "purchase", "signup", "view")],
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigating salted join (skew.salted_join): events (hot keys:
    5 event_types) x a tiny type-dim replicated per salt — result
    identical to the plain join, which is the oracle."""
    from seafan_spark.skew import salted_join

    ev = _pipe(spark, sf_dir, "events").df.select("event_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "type_code",
            F.conv(F.substring(F.md5("event_type"), 1, 8), 16, 10).cast("bigint"),
        )
    )
    j = salted_join(ev, dim, "event_type", salt=8)
    return j.select("event_id", "event_type", "type_code")


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the skewed event_type key
    (skew.salted_groupby) — algebraic partials re-merge losslessly, so
    the plain GROUP BY is the oracle."""
    from seafan_spark.skew import salted_groupby

    ev = _pipe(spark, sf_dir, "events").df
    out = salted_groupby(
        ev,
        "event_type",
        {"n": ("count", "value"), "sum_v": ("sum", "value"),
         "max_v": ("max", "value"), "avg_v": ("avg", "value")},
        salt=16,
    )
    return out.select(
        "event_type", "n", round_col("sum_v", 4).alias("sum_v"),
        "max_v", round_col("avg_v", 6).alias("avg_v"),
    )


def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection of embeddings to 8 dims with driver-generated
    ±1 sign weights inlined as literals
    (llmops.similarity.random_projection_col) plus L2 norms before/after
    — all JVM-side, no UDF, no shuffle. The literal weight table makes
    this hash-checkable against a DuckDB twin using the same weights
    (jl_sign_weights)."""
    from seafan_spark.llmops.similarity import (
        l2_normalize_col,
        random_projection_col,
    )

    p = _pipe(spark, sf_dir, "embeddings")
    proj = random_projection_col(F.col("embedding"), 64, 8)
    # Materialize the 8-component projection ONCE in its own projection
    # (a non-cheap alias referenced 9x is never collapsed back inline):
    # extracting proj[j] per output plus the norm fold re-evaluated the
    # whole O(in_dim x out_dim) interpreted HOF contraction twice per
    # row. The second select reads the computed array — same values,
    # same fold order, bit-identical outputs.
    d = p.df.select(
        "vec_id",
        proj.alias("_pa"),
        round_col(
            F.sqrt(
                F.aggregate(
                    l2_normalize_col(F.col("embedding")),
                    F.lit(0.0),
                    lambda a, x: a + x * x,
                )
            ),
            6,
        ).alias("unit_norm"),
    )
    return d.select(
        "vec_id",
        *[round_col(F.col("_pa")[j], 6).alias(f"p{j}") for j in range(8)],
        round_col(
            F.sqrt(F.aggregate(F.col("_pa"), F.lit(0.0), lambda a, x: a + x * x)),
            6,
        ).alias("proj_norm"),
        "unit_norm",
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen (llmops.dedup.contamination_check):
    docs sharing >= 1 distinct 8-gram with a small benchmark set (here
    doc_id < 5). Benchmark grams broadcast — the corpus never shuffles."""
    from seafan_spark.llmops.dedup import contamination_check

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    bench = p.df.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_check(p, bench, n=8)


def _annotations_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic annotation table derived from `documents`:
    3 annotators label every doc; ~70% of votes hit the doc's "true"
    class (doc_id % 3), the rest land on a per-annotator deterministic
    alternative — pure integer arithmetic so the DuckDB twin replays it
    exactly."""
    p = _pipe(spark, sf_dir, "documents")
    did, ann = F.col("item_id"), F.col("annotator")
    return (
        p.df.select(F.col("doc_id").alias("item_id"))
        .select(
            "item_id",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("annotator"),
        )
        .withColumn(
            "label",
            F.when((did * 31 + ann * 17) % 10 < 7, did % 3).otherwise(
                (did * 7 + ann * 13) % 3
            ),
        )
    )


_ANNOTATIONS_SQL = """
        SELECT doc_id AS item_id, a.ann AS annotator,
               CASE WHEN (doc_id*31 + a.ann*17) % 10 < 7 THEN doc_id % 3
                    ELSE (doc_id*7 + a.ann*13) % 3 END AS label
        FROM documents, (VALUES (0), (1), (2)) AS a(ann)
"""


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information + NMI between event_type and a derived user
    cohort per weekday (agg.mutual_info_by): one (keys, x, y) count
    pass; marginals/totals are window sums over the tiny counts
    relation — observed cells only, the X*Y space never densifies."""
    from seafan_spark.agg import mutual_info_by

    p = _pipe(spark, sf_dir, "events")
    d = p.df.select(
        F.dayofweek("ts").alias("dow"),
        F.col("event_type"),
        (F.col("user_id") % 4).alias("cohort"),
    )
    return mutual_info_by(d, "event_type", "cohort", keys=["dow"]).orderBy("dow")


def q_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exact-balance k-fold assignment (sampling.kfold_split
    exact mode): rank within (stratum, md5-bucket) cells + prefix
    offsets from the tiny counts relation — ±1 fold balance per
    event_type with no task ever seeing more than ~1e-6 of a stratum.
    Default mode (hash % k) is the shuffle-free corpus-scale path."""
    from seafan_spark.sampling import kfold_split

    p = _pipe(spark, sf_dir, "events")
    out = kfold_split(
        p.df.select("event_id", "event_type"),
        "event_id",
        5,
        stratify_by="event_type",
        salt="cv",
        exact=True,
    )
    return out.select("event_id", "event_type", "fold")


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions over per-user event sequences
    (temporal.transition_matrix): one lag window on the same per-key
    partitioning sessionize/funnel use, then a groupBy on the
    S^2-bounded bigram space; row normalization windows over the tiny
    count relation, never the corpus."""
    from seafan_spark.temporal import transition_matrix

    p = _pipe(spark, sf_dir, "events")
    return transition_matrix(p, "user_id", ["ts", "event_id"], "event_type")


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column census (agg.profile_table): null/distinct/min/max
    for five `orders` columns from ONE aggregation over ONE scan,
    unpivoted by an inline array-of-structs explode. exact_distinct for
    the oracle; production default is HLL++ approx (the only choice at
    100 TB). Doubles excluded here only because engines format them
    differently as strings."""
    from seafan_spark.agg import profile_table

    p = _pipe(spark, sf_dir, "orders")
    return profile_table(
        p,
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            "o_orderpriority",
        ],
        exact_distinct=True,
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (jsonops.flatten_json): infer the
    schema of `events.props` from a deterministic content-hash sample
    (driver-side statistic, like the PQ codebooks), from_json-flatten it
    to typed columns, and aggregate the extracted field per event_type —
    the whole row path is JVM json parsing, no UDF."""
    from seafan_spark.jsonops import flatten_json

    p = _pipe(spark, sf_dir, "events")
    flat = flatten_json(p.df, "props", prefix="p_")
    return (
        flat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("p_k").cast("bigint").alias("sum_k"),
            round_col(F.avg("p_k"), 6).alias("avg_k"),
            F.sum(F.col("p_k").isNull().cast("bigint")).alias("null_k"),
        )
        .orderBy("event_type")
    )


def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Cohen's kappa over a synthetic 3-annotator labeling of
    `documents` (llmops.labels.annotator_agreement): one item-keyed
    self-join, then all statistics over per-(pair, label) aggregates —
    A^2*L rows, broadcast-sized for any real annotator pool."""
    from seafan_spark.llmops.labels import annotator_agreement

    return annotator_agreement(_annotations_df(spark, sf_dir))


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over the same synthetic annotations
    (llmops.labels.fleiss_kappa): two (item,label)-count aggregation
    passes with map-side combine; p_bar folds to one exact-integer-sum
    division so the double bit-matches the DuckDB twin."""
    from seafan_spark.llmops.labels import fleiss_kappa

    return fleiss_kappa(_annotations_df(spark, sf_dir))


def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered contamination screen
    (llmops.dedup.contamination_check_bloom): the benchmark gram set is
    compressed to a ~16-bit/gram Bloom bitmap broadcast as ONE row; the
    corpus gram stream is cut map-side (xxhash64+getbit inside codegen)
    before the exact verify join, so results are identical to
    `contamination` — the oracle SQL is shared verbatim — while the
    string join sees only the surviving sliver. At 100 TB this replaces
    a GB-scale gram-table broadcast with a MB-scale bitmap."""
    from seafan_spark.llmops.dedup import contamination_check_bloom

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    bench = p.df.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_check_bloom(p, bench, n=8)


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (llmops.text.tfidf_top_terms):
    explode -> tf -> vocab df -> term join -> broadcast N -> window
    top-k; sklearn-style smooth idf."""
    from seafan_spark.llmops.text import tfidf_top_terms

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    return tfidf_top_terms(p, "doc_id", "text", k=3)


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-15 for the 3-term query {hash, join, vector}
    (llmops.text.bm25_scores, Robertson TREC-3 Okapi / Lucene idf):
    the lexical ranked-retrieval scorer for hard-negative mining and
    contamination triage. Corpus scanned twice column-pruned; the only
    shuffle carries (doc, query-term) hits (isin filter in the explode
    stage); df-per-term and (N, avgdl) ride as broadcasts; dl travels
    in the groupBy key; top-k is ORDER-BY-LIMIT ranked over the
    ROUNDED score (cross-engine-stable ordering)."""
    from seafan_spark.llmops.text import bm25_scores

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    return bm25_scores(p, ["hash", "join", "vector"], "doc_id", "text", k=15)


def q_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation (rank.ranking_metrics, Järvelin &
    Kekäläinen 2002): graded nDCG@10, MRR@10, precision@10 per query —
    the evaluation companion to the bm25/ann/rrf retrieval stack.
    Rankings: events of user_id < 200 ranked per event_type by rounded
    value DESC (event_id tiebreak — deterministic in both engines);
    graded relevance = user_id % 4. One keyed window for ideal ranks +
    one (query) aggregation; all-Column math (pow/log2 in-JVM)."""
    from pyspark.sql import Window

    from seafan_spark.rank import ranking_metrics

    ev = _pipe(spark, sf_dir, "events").df.filter(F.col("user_id") < 200)
    w = Window.partitionBy("event_type").orderBy(
        round_col(F.col("value"), 6).desc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "event_type",
        F.row_number().over(w).alias("rank"),
        (F.col("user_id") % 4).cast("int").alias("rel"),
    )
    return ranking_metrics(ranked, "event_type", "rank", "rel", k=10)


def q_pii_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection counts + duplicate-3-gram repetition ratio
    (llmops.text.pii_count_col / repetition_ratio_col) — all vectorized
    JVM regexp/array ops, no UDF."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    t = F.col("text")
    return p.df.select(
        "doc_id",
        tx.pii_count_col(t, "email").alias("n_email"),
        tx.pii_count_col(t, "ipv4").alias("n_ipv4"),
        tx.pii_count_col(t, "ssn").alias("n_ssn"),
        round_col(tx.repetition_ratio_col(t, 3), 6, expensive=True).alias("rep3"),
    )


def q_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap
    (llmops.text.chunk_documents): every chunk boundary and substring is
    hash-checked against a DuckDB twin using the same arithmetic."""
    from seafan_spark.llmops.text import chunk_documents

    p = _pipe(spark, sf_dir, "documents")
    return chunk_documents(p, "doc_id", "text", size=512, overlap=64)


def q_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup: new batch (doc_id % 5 == 0) against a
    persisted signature store of the rest
    (llmops.dedup.minhash_pairs_incremental) — the corpus side is never
    re-shingled, only its stored signatures are banded."""
    from seafan_spark.llmops.dedup import minhash_pairs_incremental, minhash_signatures

    p = _pipe(spark, sf_dir, "documents")
    old = p.df.filter(F.col("doc_id") % 5 != 0)
    new = p._derive(p.df.filter(F.col("doc_id") % 5 == 0))
    # materialize the store once — it stands in for a PERSISTED parquet
    # signature table (the incremental contract), and unmaterialized it
    # would re-run the corpus signature pipeline for every consumer inside
    # minhash_pairs_incremental (check_store scan + the union checkpoint)
    store = minhash_signatures(
        old, "doc_id", "text", num_hashes=32, portable=True
    ).localCheckpoint(eager=True)
    return minhash_pairs_incremental(
        new, store, "doc_id", "text", num_hashes=32, bands=4, threshold=0.5,
        portable=True,
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint + group size + keeper flag
    (llmops.dedup.exact_dedup)."""
    from seafan_spark.llmops.dedup import exact_dedup

    p = _pipe(spark, sf_dir, "documents")
    d = exact_dedup(p, "text", "doc_id")
    return d.df.select(
        "doc_id", "fp", F.col("dup_count").cast("bigint").alias("dup_count"), "is_dup"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 5
    (llmops.similarity.ann_brute_topk)."""
    from seafan_spark.llmops.similarity import ann_brute_topk

    p = _pipe(spark, sf_dir, "embeddings")
    q = p.df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ann_brute_topk(p, "vec_id", "embedding", queries=q, k=5)


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (temporal.asof_join): each purchase event matched to
    the same user's most recent click at-or-before it. Union+window
    plan — one shuffle, no range explosion; oracled against DuckDB's
    native ASOF LEFT JOIN. Times projected as epoch-micros
    (temporal.epoch_us_col adapts to nanos-bigint / NTZ / timestamp
    forms of ts, always landing in DuckDB's us domain)."""
    from seafan_spark.temporal import asof_join, epoch_us_col

    ev = _pipe(spark, sf_dir, "events").df
    us = epoch_us_col(ev, "ts")
    l = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("ts_us")
    )
    r = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("click_ts_us"),
    )
    return asof_join(l, r, on="user_id", left_time="ts_us", right_time="click_ts_us")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (temporal.range_join): clicks within the hour before
    each purchase by the same user, aggregated per purchase. Bucketed
    equi-join — Catalyst never sees an inequality-only join."""
    from seafan_spark.temporal import epoch_us_col, range_join

    ev = _pipe(spark, sf_dir, "events").df
    hour_us = 3_600 * 1_000_000
    # us-domain times for exact parity with the DuckDB oracle (see q_asof)
    us = epoch_us_col(ev, "ts")
    l = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("ts_us")
    )
    r = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("click_ts_us"),
        F.col("value").alias("click_value"),
    )
    j = range_join(l, r, on="user_id", left_time="ts_us", right_time="click_ts_us",
                   before=hour_us, after=0)
    return (
        j.groupBy("event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            round_col(F.sum("click_value"), 4).alias("click_value_sum"),
        )
    )


#: q_mix mixture spec: uneven weights over four sources, the rest dropped
_MIX_WEIGHTS = {"src0": 3.0, "src1": 1.0, "src2": 1.0, "src3": 1.0}
_MIX_BUDGET = 10_000


def q_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted source mixing (sampling.mix_sources): per-source keep
    fractions from the target mixture + a size budget, applied as a
    deterministic md5-bucket filter — hash-checked against a DuckDB twin
    computing the identical fractions."""
    from seafan_spark.sampling import mix_sources

    p = _pipe(spark, sf_dir, "documents")
    out = mix_sources(
        p.df, "doc_id", "source", "n_chars", _MIX_WEIGHTS, _MIX_BUDGET
    )
    return out.select("doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars"))


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis table (skew.skew_report): heaviest keys with
    row share and uniform-key ratio."""
    from seafan_spark.skew import skew_report

    p = _pipe(spark, sf_dir, "events")
    return skew_report(p.df, "event_type", top=5)


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling + train/val/test split
    (sampling.deterministic_sample / train_val_test_split): md5-bucket
    keyed on doc_id — reproducible across engines, partitionings, and
    task retries; pure filter, no shuffle."""
    from seafan_spark.sampling import deterministic_sample, train_val_test_split

    p = _pipe(spark, sf_dir, "documents")
    s = deterministic_sample(p.df, "doc_id", 0.5, salt="demo")
    return train_val_test_split(s, "doc_id", weights=(0.8, 0.1, 0.1), salt="sp").select(
        "doc_id", "split"
    )


def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sequence packing (sampling.pack_sequences): shard by
    key hash, windowed running-sum binning at a 4000-char budget — one
    shuffle on the shard key; per-task state is corpus/shards."""
    from seafan_spark.sampling import pack_sequences

    p = _pipe(spark, sf_dir, "documents")
    d = p.df.select("doc_id", F.length("text").alias("sz"))
    return pack_sequences(d, "doc_id", "sz", budget=4000, shards=8).select(
        "doc_id", F.col("sz").cast("bigint").alias("sz"), "shard", "bin"
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 with every cell probed (n_probe == n_centroids):
    exact by construction regardless of the KMeans fit, so it shares the
    brute-force SQL oracle; partial-probe recall is pytest-covered
    (llmops.similarity.ann_ivf_topk)."""
    from seafan_spark.llmops.similarity import ann_ivf_topk

    p = _pipe(spark, sf_dir, "embeddings")
    q = p.df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ann_ivf_topk(
        p, "vec_id", "embedding", queries=q, k=5,
        n_centroids=8, n_probe=8, max_iter=3,
    )


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (llmops.dedup.minhash_pairs),
    exact-verified: banding generates candidates, TRUE shingle jaccard
    verifies each (precision 1.0). Banding is 4 bands x 8 rows
    (s* ~ 0.84): this corpus has unusually high background similarity
    (mean pair jaccard ~0.17 from a shared template vocabulary), and
    r=8 keeps background band collisions ~1e-6 where r=4 would admit
    ~2% of ALL pairs as candidates — the banding precision knob, not
    the threshold, is what bounds candidate cost at scale. Portable
    md5-based shingle hashes + literal 2^61-1 mixer constants — the
    DuckDB twin reproduces signatures, banding, candidates, and the
    verified jaccard exactly."""
    from seafan_spark.llmops.dedup import minhash_pairs

    p = _pipe(spark, sf_dir, "documents")
    return minhash_pairs(
        p, "doc_id", "text", num_hashes=32, bands=4, threshold=0.5, portable=True
    )


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-calibration audit
    (llmops.dedup.minhash_calibration): TRUE shingle jaccard vs the
    signature-agreement estimate over all pairs of a 64-doc
    deterministic sample — the statistical audit that exposed the
    fixed-constant position-correlation bias in round 3. Portable mode:
    the DuckDB twin reproduces the sample, grams, signatures, and both
    statistics exactly."""
    from seafan_spark.llmops.dedup import minhash_calibration

    p = _pipe(spark, sf_dir, "documents")
    return minhash_calibration(
        p, "doc_id", "text", num_hashes=32, sample_docs=64, portable=True
    )


def q_minhash_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs on the PRODUCTION hash path:
    default xxhash64 base hash (one JVM intrinsic per shingle) instead of
    the md5-based portable mode the oracle twin requires. Same mixers,
    banding, and verification; rows-only check (xxhash64 has no DuckDB
    twin) — pair-set equivalence of the two modes on planted duplicates
    is pytest-proven (test_portable_and_fast_hash_modes_agree). This is
    the benchmark's view of what the dedup family costs at 100 TB."""
    from seafan_spark.llmops.dedup import minhash_pairs

    p = _pipe(spark, sf_dir, "documents")
    return minhash_pairs(
        p, "doc_id", "text", num_hashes=32, bands=4, threshold=0.5, portable=False
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (llmops.dedup.simhash_pairs).
    Portable 60-bit md5 base hashes — bit-identical signatures in the
    DuckDB twin (majority votes, chunk join, bit_count hamming)."""
    from seafan_spark.llmops.dedup import simhash_pairs

    p = _pipe(spark, sf_dir, "documents")
    # 60-bit sig, 4 chunks of 15 bits: pigeonhole-complete for hamming<=3
    # with 32k-value band keys (no coarse-bucket candidate blowup)
    return simhash_pairs(
        p, "doc_id", "text", bits=60, chunks=4, max_hamming=3, portable=True
    )


def q_simhash_pairs_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs on the PRODUCTION hash path (default xxhash64 base —
    no DuckDB twin, rows-only): same votes/chunk-join/hamming machinery
    as q_simhash_pairs; this is the benchmark's view of what simhash
    dedup costs at 100 TB (the md5 portable mode exists for oracle
    reproducibility only)."""
    from seafan_spark.llmops.dedup import simhash_pairs

    p = _pipe(spark, sf_dir, "documents")
    return simhash_pairs(
        p, "doc_id", "text", bits=60, chunks=4, max_hamming=3, portable=False
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem with
    date predicates through the expression language; dims broadcast, the
    orders⋈lineitem join left to AQE."""
    cust = _pipe(spark, sf_dir, "customer").where("c_mktsegment", ["BUILDING"]).rename(
        {"c_custkey": "o_custkey"}
    )
    orders = _pipe(spark, sf_dir, "orders")
    orders = add_to_pipe(orders, "o_orderdate < '19980101'", "_df")
    orders = orders.filter(F.col("_df") > 0).drop("_df")
    oc = orders.join(cust.keep(["o_custkey", "c_mktsegment"]), "o_custkey", "inner",
                     broadcast_right=True).rename({"o_orderkey": "l_orderkey"})
    li = _pipe(spark, sf_dir, "lineitem")
    li = add_to_pipe(li, "l_shipdate > '19980101'", "_sf")
    li = li.filter(F.col("_sf") > 0).drop("_sf")
    j = li.join(oc.keep(["l_orderkey", "o_orderdate"]), "l_orderkey", "inner")
    j = add_to_pipe(j, "l_extendedprice*(1-l_discount)", "rev")
    out = group_by(
        j,
        ["l_orderkey", "o_orderdate"],
        # decimal accumulation: 2dp rounding is exact, immune to float
        # summation-order noise across 15k+ groups
        {"revenue": F.round(F.sum(F.col("rev").cast("decimal(18,6)")), 2).cast("double")},
    )
    return out.select(
        "l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "revenue"
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, same-nation customer+supplier,
    revenue by nation. All dims broadcast; one shuffle join on orderkey."""
    region = _pipe(spark, sf_dir, "region").where("r_name", ["ASIA"]).rename(
        {"r_regionkey": "n_regionkey"}
    )
    nation = _pipe(spark, sf_dir, "nation").join(region, "n_regionkey", "inner",
                                                 broadcast_right=True)
    cust = _pipe(spark, sf_dir, "customer").rename({"c_nationkey": "n_nationkey"}).join(
        nation.keep(["n_nationkey", "n_name"]), "n_nationkey", "inner", broadcast_right=True
    ).rename({"c_custkey": "o_custkey"})
    orders = _pipe(spark, sf_dir, "orders")
    orders = add_to_pipe(
        orders, "o_orderdate >= '19970101' && o_orderdate < '19980101'", "_df"
    )
    orders = orders.filter(F.col("_df") > 0).drop("_df")
    oc = orders.join(
        cust.keep(["o_custkey", "n_nationkey", "n_name"]), "o_custkey", "inner",
        broadcast_right=True,
    ).rename({"o_orderkey": "l_orderkey"})
    supp = _pipe(spark, sf_dir, "supplier").rename({"s_suppkey": "l_suppkey"})
    li = _pipe(spark, sf_dir, "lineitem").join(
        supp.keep(["l_suppkey", "s_nationkey"]), "l_suppkey", "inner", broadcast_right=True
    )
    j = li.join(oc.keep(["l_orderkey", "n_nationkey", "n_name"]), "l_orderkey", "inner")
    j = j.filter(F.col("s_nationkey") == F.col("n_nationkey"))
    j = add_to_pipe(j, "l_extendedprice*(1-l_discount)", "rev")
    return group_by(j, ["n_name"], {"revenue": round_col(F.sum("rev"), 2)})


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (streaming.tumbling_agg — the SAME plan
    serves readStream; see tests/test_streaming.py for the stream run)."""
    from seafan_spark.sources import read_parquet
    from seafan_spark.streaming import tumbling_agg

    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    return tumbling_agg(
        df,
        {"n": F.count(F.lit(1)), "sum_value": round_col(F.sum("value"), 4)},
        window="1 hour",
        keys=["event_type"],
    )


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (streaming.stream_join): purchases x
    same-user clicks within the preceding hour. The SAME plan runs as a
    watermarked stream-stream join (tests/test_streaming.py proves
    batch==stream); here the batch mode is oracle-checked."""
    from seafan_spark.sources import read_parquet
    from seafan_spark.streaming import stream_join

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    l = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    r = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    j = stream_join(l, r, on="user_id", before="1 hour", after="0 seconds")
    return j.select("event_id", "user_id", "click_id")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user, 30-minute gap (streaming.sessionize)."""
    from seafan_spark.sources import read_parquet
    from seafan_spark.streaming import sessionize

    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    return sessionize(
        df,
        {"n": F.count(F.lit(1)), "sum_value": round_col(F.sum("value"), 4)},
        gap="30 minutes",
        keys=["user_id"],
    )


def q_npv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order NPV of line amounts at 0.1%/period (npv summary function
    with partition_by — parser.go:553-569 generalized to groups)."""
    p = _pipe(
        spark, sf_dir, "lineitem",
        order_cols=["l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    p = add_to_pipe(p, "npv(0.001, l_extendedprice)", "order_npv", partition_by=["l_orderkey"])
    return (
        p.df.select("l_orderkey", "order_npv")
        .distinct()
        .select("l_orderkey", round_col("order_npv", 2).alias("order_npv"))
    )


def q_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loop construct (parser.go:1776-1804): 3 iterations of
    bal <- bal*1.05 + 10 over customer balances."""
    from seafan_spark.exprlang import loop

    p = _pipe(spark, sf_dir, "customer")
    p = add_to_pipe(p, "c_acctbal", "bal")
    p = loop(p, "x", 0, 3, [("bal*1.05 + 10", "bal")])
    return p.df.select("c_custkey", round_col("bal", 4).alias("bal"))


def q_expr_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maxE/minE, exist fallback, casts, power operator (SURVEY §2.8)."""
    p = _pipe(spark, sf_dir, "lineitem")
    for expr, name in [
        ("maxE(l_quantity, 25)", "qcap"),
        ("minE(l_tax, l_discount)", "mintd"),
        ("exist(no_such_field, l_tax)", "tax2"),
        ("toString(l_quantity)", "qstr"),
        ("toInt(l_discount*100)", "disc_pct"),
        ("l_quantity^2", "qsq"),
    ]:
        p = add_to_pipe(p, expr, name)
    return p.df.select(
        "l_orderkey",
        "l_linenumber",
        round_col("qcap", 2).alias("qcap"),
        round_col("mintd", 6).alias("mintd"),
        round_col("tax2", 6).alias("tax2"),
        "qstr",
        F.col("disc_pct").cast("bigint").alias("disc_pct"),
        round_col("qsq", 2).alias("qsq"),
    )


def q_window_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse cumulatives + running product + lag-with-miss (SURVEY §2.7)
    per order, ordered by line number."""
    p = _pipe(
        spark, sf_dir, "lineitem",
        order_cols=["l_orderkey", "l_linenumber", "l_extendedprice"],
    )
    for expr, name in [
        ("cumeAfter(l_quantity)", "qty_after"),
        ("countAfter(l_quantity)", "n_after"),
        ("prodBefore(1 + l_discount)", "disc_prod"),
        ("lag(l_quantity, 0-1)", "prev_qty"),
    ]:
        p = add_to_pipe(p, expr, name, partition_by=["l_orderkey"])
    return p.df.select(
        "l_orderkey",
        "l_linenumber",
        round_col("qty_after", 2).alias("qty_after"),
        F.col("n_after").cast("bigint").alias("n_after"),
        round_col("disc_prod", 6).alias("disc_prod"),
        round_col("prev_qty", 2).alias("prev_qty"),
    )


def q_subset_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional Subset (gdata.go:852-895) against an explicit order."""
    p = _pipe(spark, sf_dir, "customer", order_cols=["c_custkey"])
    p = p.subset(list(range(10)) + [100, 200, 300])
    return p.df.select("c_custkey", round_col("c_acctbal", 2).alias("c_acctbal"))


def q_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Desc stats with exact interpolated quantiles (data.go:154-168)."""
    from seafan_spark.agg import describe_df

    p = _pipe(spark, sf_dir, "lineitem")
    d = describe_df(p, "l_extendedprice")
    return d.select(
        F.col("n").cast("bigint").alias("n"),
        round_col("mean", 4).alias("mean"),
        round_col("std", 4).alias("std"),
        *[round_col(f"q{q}", 4).alias(f"q{q}") for q in (0, 10, 25, 50, 75, 90, 100)],
    )


def q_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment mean observed vs bias-corrected fit (SegPlot,
    diags.go:230-346) as a lazy aggregation."""
    from seafan_spark.diags import seg_table_df

    p = _pipe(spark, sf_dir, "lineitem")
    p = p.with_column("obs", (F.col("l_quantity") > 25).cast("double"))
    p = p.with_column("fit", F.col("l_extendedprice") / F.lit(100000.0))
    t = seg_table_df(p, "obs", "fit", "l_returnflag", min_cnt=10)
    return t.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        round_col("mean_obs", 6).alias("mean_obs"),
        round_col("obs_se", 6).alias("obs_se"),
        round_col("mean_fit_corrected", 6).alias("fit_corr"),
    )


def q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS of a score split by outcome (diags.go:110-221),
    1000-bin histogram CDFs."""
    from seafan_spark.diags import ks

    p = _pipe(spark, sf_dir, "lineitem")
    p = p.with_column("obs", (F.col("l_quantity") > 25).cast("double"))
    v = ks(p, "l_extendedprice", "obs", bins=1000)
    return _local_frame(spark, [(round(v, 4),)], schema="ks double")


def q_coalesce_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coalesce softmax columns + log-odds (diags.go:32-95, 557-569)."""
    from seafan_spark.diags import coalesce_col, logodds_col

    p = _pipe(spark, sf_dir, "lineitem")
    probs = F.array(
        F.col("l_quantity") / 50.0, F.col("l_tax") * 10.0, F.col("l_discount") * 10.0
    )
    d = p.df.withColumn("_probs", probs)
    pc = coalesce_col(F.col("_probs"), 3, [1, 2], logodds=True)
    d = d.withColumn("_p", pc)
    return d.select(
        "l_orderkey",
        "l_linenumber",
        round_col("_p", 6).alias("p12"),
        round_col(logodds_col(F.col("_p")), 6).alias("lodds"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (llmops.dedup)."""
    from seafan_spark.llmops.dedup import ngram_jaccard_pairs

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    return ngram_jaccard_pairs(p, "doc_id", "text", n=3, threshold=0.3, max_df=1000)


def q_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (llmops.dedup, Vernica et al.
    SIGMOD'10): IDENTICAL output contract to ngram_jaccard — candidates
    from each doc's rarest-gram prefix instead of the full posting-list
    self-join — hash-checked against the SAME DuckDB twin."""
    from seafan_spark.llmops.dedup import ngram_jaccard_pairs

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    return ngram_jaccard_pairs(
        p, "doc_id", "text", n=3, threshold=0.3, max_df=1000, method="prefix"
    )


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed word-3-gram containment pairs (llmops.dedup) — Broder's
    C = inter/min(|A|,|B|), the quote-inclusion companion to Jaccard."""
    from seafan_spark.llmops.dedup import ngram_containment_pairs

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    return ngram_containment_pairs(p, "doc_id", "text", n=3, threshold=0.5, max_df=1000)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (llmops.dedup, arXiv:2303.09540) in the
    deterministic seed-centroid mode so the DuckDB twin replays
    assignment + within-cluster pairs + keep-first end-to-end; the
    MLlib-KMeans scale mode is pytest-equivalenced on the same corpus."""
    from seafan_spark.llmops.dedup import semantic_dedup

    # eps=0.42 sits 1.7e-3 from the nearest within-cluster cosine at sf0.01
    # (cross-engine-safe boundary) and drops 11/500 rows, so the keep-first
    # path is genuinely exercised — synthetic embeddings are near-orthogonal
    # and a production-like 0.9x eps would drop nothing
    p = _pipe(spark, sf_dir, "embeddings")
    return semantic_dedup(
        p, "vec_id", "embedding", n_clusters=8, eps=0.42, centroids="seeds", dim=64
    )


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette (llmops.similarity.
    cluster_silhouette, Rousseeuw 1987 / Hruschka et al. 2004 centroid
    variant) — the clustering-quality audit for the semantic_dedup /
    ann_ivf quantizer, in the deterministic seed-centroid mode so the
    DuckDB twin replays assignment + a/b distances + the per-cluster
    aggregation end-to-end. No pairwise stage: the k-row centroid table
    rides as a plan literal, one scan + one keyed aggregation."""
    from seafan_spark.llmops.similarity import cluster_silhouette

    p = _pipe(spark, sf_dir, "embeddings")
    out = cluster_silhouette(
        p.df, "vec_id", "embedding", n_clusters=8, centroids="seeds", dim=64
    )
    return out.select(
        "cluster",
        F.col("n").cast("bigint").alias("n"),
        round_col("mean_sil", 6).alias("mean_sil"),
        round_col("min_sil", 6).alias("min_sil"),
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (quality.k_anonymity, Sweeney 2002): are the
    documents' quasi-identifiers (lang, source, length bucket) jointly
    identifying? One map-side-combining groupBy + one scalar agg."""
    from seafan_spark.quality import k_anonymity

    d = _pipe(spark, sf_dir, "documents").df.select(
        "lang", "source",
        F.floor(F.col("n_chars") / F.lit(200)).alias("len_b"),
    )
    return k_anonymity(d, ["lang", "source", "len_b"], k=5)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training as relational algebra (llmops.text.
    bpe_train, Sennrich et al. 2016): 10 merges learned from the
    documents corpus — corpus scanned ONCE into word counts, then every
    round runs over the vocabulary-sized relation. Integer pair counts,
    lexicographic tiebreaks, and literal leftmost-first string-replace
    merges make the whole loop exactly replayable: the DuckDB twin
    unrolls the 10 rounds as a CTE chain (the kcenter/irr_bisect
    unroll)."""
    from seafan_spark.llmops.text import bpe_train

    d = _pipe(spark, sf_dir, "documents").df
    return bpe_train(d, "text", n_merges=10)


#: fixed merge table for q_bpe_encode — a plan literal, identical at every
#: SF (the encode path must not depend on per-corpus training for its twin)
_BPE_FIXED_MERGES = [
    ("e", "</w>"), ("s", "</w>"), ("t", "h"), ("a", "n"),
    ("i", "n"), ("o", "r"), ("an", "d</w>"), ("th", "e</w>"),
]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE at corpus scale (llmops.text.bpe_apply_col): tokenize
    every [a-z]+ word of every document with a FIXED literal merge
    table — the chained leftmost-first replaces are codegen'd JVM string
    ops, no UDF, no stored model — and report the top-20 token
    frequencies. The twin replays the identical replace chain per word
    in SQL; counts are integers, ordering ties break lexicographically."""
    from seafan_spark.llmops.text import bpe_apply_col

    d = _pipe(spark, sf_dir, "documents").df
    words_ok = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"),
        lambda w: w.rlike("^[a-z]+$"),
    )
    toks = bpe_apply_col(
        F.concat_ws(" ", words_ok), _BPE_FIXED_MERGES
    )
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (llmops.similarity.hard_negatives): top-5
    most-similar corpus vectors per anchor EXCLUDING the anchor and its
    gold positive (deterministically the successor id) — exclusion
    anti-joins before the top-k window so gold rows never displace a
    negative."""
    from seafan_spark.llmops.similarity import hard_negatives

    p = _pipe(spark, sf_dir, "embeddings")
    q = p.df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    pos = p.df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), (F.col("vec_id") + 1).alias("pos_id")
    )
    return hard_negatives(p, "vec_id", "embedding", pos, k=5, queries=q)


def q_semantic_dedup_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (llmops.dedup): base corpus (vec_id < 250)
    materialized as a (store, centroid) pair, the rest ingested as a
    batch against it — store UNION batch verdicts hash-equal the
    one-shot semantic_dedup twin (same DuckDB oracle) because the
    append-only id split keeps the seed set and witness order fixed."""
    from seafan_spark.llmops.dedup import (
        semantic_dedup_incremental,
        semantic_dedup_store_prepare,
    )

    p = _pipe(spark, sf_dir, "embeddings")
    base = Pipeline(p.df.filter(F.col("vec_id") < 250))
    batch = p.df.filter(F.col("vec_id") >= 250)
    store, cents = semantic_dedup_store_prepare(
        base, "vec_id", "embedding", n_clusters=8, eps=0.42, centroids="seeds", dim=64
    )
    new_rows = semantic_dedup_incremental(
        batch, store, cents, "vec_id", "embedding", eps=0.42, dim=64
    )
    return store.unionByName(new_rows).select(
        F.col("_id").alias("id"),
        F.col("_cell").cast("bigint").alias("cluster"),
        F.col("_keep").alias("keep"),
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact scoring path (recall 1.0)."""
    from seafan_spark.llmops.dedup import embedding_neardup_pairs

    p = _pipe(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(p, "vec_id", "embedding", threshold=0.5, exact=True)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-k (llmops.similarity).
    Literal ±1 hyperplane weights — hash-checked against a DuckDB twin
    that buckets with the same weight table."""
    from seafan_spark.llmops.similarity import ann_lsh_topk

    p = _pipe(spark, sf_dir, "embeddings")
    return ann_lsh_topk(p, "vec_id", "embedding", k=5, planes=8, dim=64)


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash near-dup pairs (llmops.dedup) —
    hash-checked against a DuckDB recursive-CTE transitive closure over
    the identical pairs."""
    from seafan_spark.llmops.dedup import minhash_clusters, minhash_pairs

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    pairs = minhash_pairs(
        p, "doc_id", "text", num_hashes=32, bands=4, threshold=0.5, portable=True
    )
    return minhash_clusters(pairs)


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC + exact re-rank
    (llmops.similarity.ann_pq_topk — Jegou et al. 2011): corpus scanned
    as m-byte PQ codes, per-query distance LUT broadcast, exact cosine
    only on the k*refine shortlist. KMeans codebooks have no SQL twin —
    rows-only check; recall vs ann_brute is pytest-asserted."""
    from seafan_spark.llmops.similarity import ann_pq_topk

    p = _pipe(spark, sf_dir, "embeddings")
    q = p.df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ann_pq_topk(
        p, "vec_id", "embedding", queries=q, k=5, m=8, k_codes=16, dim=64, refine=6
    )


def _fixed_pq_codebook(
    m: int = 8, k_codes: int = 4, dsub: int = 8
) -> list[list[list[float]]]:
    """Deterministic PQ codebook of DYADIC rationals (quarters): exact
    as double literals in both engines, so the unrolled SQL twin and the
    in-plan Spark literals are the same bit patterns. Formula, not
    training — the trained path stays under pytest (q_ann_pq)."""
    return [
        [
            [((7 * j + 5 * c + 3 * t) % 11 - 5) / 4.0 for t in range(dsub)]
            for c in range(k_codes)
        ]
        for j in range(m)
    ]


_PQ_ADC_BOOKS = _fixed_pq_codebook()


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED half of PQ ANN, oracled (round-6 VERDICT #3 —
    the pca_moments split applied to ann_pq): encode the corpus against
    a FIXED dyadic codebook (_fixed_pq_codebook) and rank by ADC
    distance to the vec_id=0 embedding (llmops.similarity.pq_adc_scores
    — the same _pq_flat_lut/_adc_over_codes arithmetic ann_pq_topk's
    candidate stage runs). Codebook training is iterative/seeded and
    stays under pytest; the table lookup + asymmetric-distance fold,
    the part that scans the corpus, gets the exact DuckDB twin
    (_ann_pq_adc_oracle_sql). Top-k is an ORDER-BY-LIMIT over the
    ROUNDED key; ties break by id in both engines."""
    from seafan_spark.llmops.similarity import pq_adc_scores

    emb = _pipe(spark, sf_dir, "embeddings").df
    q_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    # NULL-embedding parity with the twin's `embedding IS NOT NULL`: a
    # NULL vector yields NULL adc, which Spark's ASC orderBy sorts first
    # while DuckDB drops the row (round-7 ADVICE). Testdata has none,
    # but the filter makes both sides identical by construction.
    return pq_adc_scores(
        emb.filter((F.col("vec_id") != 0) & F.col("embedding").isNotNull()),
        "vec_id", "embedding",
        q_vec, _PQ_ADC_BOOKS, k=15,
    )


def q_irr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IRR root-find over an ordered cashflow (parser.go:617-658).
    Iterative driver-side solve — rows-only check."""
    p = _pipe(spark, sf_dir, "events", order_cols=["ts", "event_id"])
    p = p.where("user_id", [0])
    # cost = half the undiscounted flow total: a root is bracketed at any
    # SF (npv(0) = 2*cost > cost; npv(inf) -> first flow < cost)
    p = add_to_pipe(p, "irr(sum(value)/2, value)", "rate")
    return p.df.select(round_col("rate", 6).alias("rate")).limit(1)


def q_irr_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group IRR via applyInPandas (agg.irr_by) — the grouped
    generalization of the reference's whole-table irr (parser.go:617-658).
    Iterative root-find — rows-only check."""
    from pyspark.sql import Window

    from seafan_spark.agg import irr_by

    p = _pipe(spark, sf_dir, "events", order_cols=["ts", "event_id"])
    p = p.filter(F.col("user_id") < 40)
    # per-group cost = half the undiscounted flow total (same bracketing
    # argument as q_irr, per group)
    cost = F.sum("value").over(Window.partitionBy("user_id")) / 2
    p = p.with_column("grp_cost", cost)
    out = irr_by(p, ["user_id"], "value", cost_col="grp_cost")
    return out.select("user_id", round_col("rate", 6).alias("rate"))


def q_irr_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IRR via DISTRIBUTED fixed-step bisection, oracled (round-7 VERDICT
    #4 — the kcenter/mmr/rake unroll applied to the root-finder): 40
    halvings of the dyadic bracket [0, 4], each step a rounded NPV sign
    test folded in-plan over user 0's sorted flow array (agg.irr_bisect
    — one aggregate job, the flows never collect to the driver). The DuckDB
    twin unrolls the same 40 steps as a CTE chain with one correlated
    NPV subquery per step; matching sign decisions make the final
    bracket — hence the rate — BIT-EQUAL dyadic doubles. The adaptive
    production solvers (irr()/irr_by Nelder-style bisection with early
    exit) stay rows-only."""
    from seafan_spark.agg import irr_bisect
    from seafan_spark.sources import read_parquet

    flows = read_parquet(spark, f"{sf_dir}/events.parquet").filter(
        F.col("user_id") == 0
    )
    rate = irr_bisect(flows, "value", ["ts", "event_id"], steps=40)
    return _local_frame(spark, [(round(rate, 6),)], "rate double")


def q_irr_by_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED IRR via distributed fixed-step bisection (agg.irr_by_bisect
    — round-8 VERDICT #3, the irr_bisect unroll generalized): per-user
    rates for users 0-11 of `events`, 40 halvings of the dyadic bracket
    [0, 4], every group folding the whole walk in-plan over its sorted
    flow array (one lazy aggregate plan; no applyInPandas, flows never
    leave the JVM). The DuckDB twin unrolls
    the same 40 steps as a CTE chain with a GROUP BY per step; bracket
    decisions on the 4-dp-ROUNDED f(mid) over exact dyadic midpoints
    make the rates bit-equal, 6-dp rounded for the hash."""
    from seafan_spark.agg import irr_by_bisect
    from seafan_spark.sources import read_parquet

    flows = read_parquet(spark, f"{sf_dir}/events.parquet").filter(
        F.col("user_id") < 12
    )
    out = irr_by_bisect(
        flows, ["user_id"], "value", ["ts", "event_id"], steps=40
    )
    from seafan_spark.rounding import round_col

    return out.select(
        "user_id", round_col(F.col("rate"), 6).alias("rate")
    ).orderBy("user_id")


def q_glm_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED half of the GLM fit, oracled (round-6 VERDICT #4
    — the pca_moments split applied to model_glm): the upper-triangle
    Gram relation of the assembled design [X, 1, y]
    (model.glm_moments) — X'X, X'y, y'y in ONE map-side-partial
    aggregation, read back out of the same ``_features`` vector fit()
    hands MLlib so the assembly is checked too. The O(p³) solve stays
    under the GLM-recovery pytest. Inputs are INTEGRAL-VALUED by
    construction (cent-scaled discount/tax, floored price), so every
    product is an integer and the sums are EXACT doubles in both
    engines — no summation-order sensitivity — AS LONG AS the totals
    stay below 2^53. y'y is ~2.2e15 at sf0.1 (a quarter of 2^53), so
    the claim holds for the gated SFs (sf0.01/sf0.1) with ~4x headroom;
    around sf0.4+ point the gate at a downscaled target (e.g.
    floor(price/100)) before trusting the unrounded hash."""
    from seafan_spark.model import glm_moments, parse_modspec

    p = _pipe(spark, sf_dir, "lineitem")
    p = p.with_column(
        "disc_c", F.floor(F.col("l_discount") * 100.0 + 0.5).cast("double")
    )
    p = p.with_column(
        "tax_c", F.floor(F.col("l_tax") * 100.0 + 0.5).cast("double")
    )
    p = p.with_column("price_d", F.floor(F.col("l_extendedprice")).cast("double"))
    ms = parse_modspec(
        ["Input(l_quantity+disc_c+tax_c)", "FC(size:1, activation:linear)",
         "Target(price_d)"]
    )
    # NO rounding on either side: the moments are exact integers (every
    # product integral, totals < 2^53), and DuckDB ROUND(x, 6) is LOSSY
    # above ~2^52/1e6 (it computes round(x*1e6)/1e6, whose x*1e6 step
    # exceeds 1 ulp) while round_col passes such values through —
    # rounding would CREATE a mismatch on exactly-equal values
    return glm_moments(p, ms)


def _fixed_nn_weights() -> tuple["object", "object"]:
    """Deterministic dyadic NN weights (eighths — exact double literals
    in both engines): W1 (2 inputs + bias -> 3 hidden), W2 (3 hidden +
    bias -> 1 output). Formula, not training — training stays under
    pytest (gradient checks, convergence, model_nn rows-only)."""
    import numpy as np

    w1 = np.array(
        [[((3 * i + 2 * j) % 7 - 3) / 8.0 for j in range(3)] for i in range(2)]
        + [[(j - 1) / 8.0 for j in range(3)]]
    )
    w2 = np.array([[((2 * j + 1) % 5 - 2) / 8.0] for j in range(3)] + [[1 / 8.0]])
    return w1, w2


def q_nn_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED half of NN scoring, oracled (the pca_moments /
    glm_moments / ann_pq_adc split applied to the exact-architecture
    trainer): NNModel.transform — the REAL Arrow pandas-UDF scorer
    (batched numpy matmuls) — run with FIXED dyadic weights
    (_fixed_nn_weights) over a leakyrelu hidden layer and linear head,
    so the whole forward pass is mul/add/CASE with no libm and the
    DuckDB twin replays it in the same association order at 6 dp.
    Training (Adam, dropout, NaN-restart) is iterative and stays under
    pytest; model_nn remains the rows-only end-to-end check."""
    from seafan_spark.optim import NNModel, _Block

    w1, w2 = _fixed_nn_weights()
    model = NNModel(
        blocks=[_Block("qty_s", "cts"), _Block("disc", "cts")],
        emb={},
        fcs=[w1, w2],
        acts=[("leakyrelu", 0.1)],
        head="linear",
        n_classes=0,
    )
    li = _pipe(spark, sf_dir, "lineitem").df.filter(F.col("l_orderkey") % 17 == 0)
    d = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") / F.lit(50.0)).alias("qty_s"),
        F.col("l_discount").cast("double").alias("disc"),
    )
    out = model.transform(d)
    # dyadic weights x 2-dp-decimal inputs put many predictions EXACTLY
    # on 6-dp half boundaries (0.0746875), where a 1-ulp numpy-BLAS-FMA
    # vs DuckDB arithmetic difference flips the rounded digit (18/2696
    # rows measured) — scale by pi (same literal both engines) to move
    # the whole grid off every decimal boundary (the pagerank trick)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        round_col(F.col("prediction") * F.lit(3.141592653589793), 6).alias("pred"),
    )


def q_model_glm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ModSpec DSL -> MLlib fit (modspec.go / nn.go): linear head recovers
    a price model; returns coefficients. Optimizer output — rows-only."""
    from seafan_spark.model import fit, parse_modspec

    p = _pipe(spark, sf_dir, "lineitem")
    ms = parse_modspec(
        ["Input(l_quantity+l_discount)", "FC(size:1, activation:linear)", "Target(l_extendedprice)"]
    )
    fr = fit(p, ms, max_iter=50)
    coefs = [float(c) for c in fr.model.coefficients] + [float(fr.model.intercept)]
    return _local_frame(
        spark,
        [tuple(round(c, 4) for c in coefs)], schema="b_qty double, b_disc double, b0 double"
    )


def q_model_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-architecture NN trainer (optim.fit_nn): learned embedding +
    leakyrelu hidden layer + dropout, cross-entropy cost, backprop in
    mapInPandas with Adam (nn.go:598-840 re-expressed Spark-first): the
    whole fit in one task up to 25k rows, one pass per iteration above.
    Optimizer output — rows-only check."""
    from seafan_spark.encode import append_cat, make_one_hot
    from seafan_spark.model import add_fitted, fit, parse_modspec

    p = _pipe(spark, sf_dir, "orders")
    p = p.with_column("tp_k", F.col("o_totalprice") / 100000.0)
    p = p.with_column(
        "is_urgent", F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
    )
    p = append_cat(p, "o_orderstatus")
    p = make_one_hot(p, "o_orderstatus", "status_oh")
    ms = parse_modspec(
        [
            "Input(tp_k+E(status_oh,2))",
            "FC(size:4, activation:leakyrelu(0.1))",
            "Dropout(.1)",
            "FC(size:1, activation:sigmoid)",
            "Target(is_urgent)",
        ]
    )
    fr = fit(p, ms, cost="ce", max_iter=12, lr=0.15, patience=12)
    scored = add_fitted(fr, p, name="fit")
    return scored.df.agg(
        F.count("*").cast("bigint").alias("n"),
        round_col(F.avg("fit"), 3).alias("mean_p"),
        round_col(F.avg((F.col("fit") > 0.5).cast("double")), 3).alias("frac_flagged"),
        F.lit(len(fr.model.loss_history)).cast("bigint").alias("iters"),
    )


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payloads + typed metadata +
    mapInPandas feature extraction. The decoder is the documented
    deterministic md5 fake, which makes the full Arrow plumbing
    hash-checkable against a DuckDB twin of the digest arithmetic."""
    from seafan_spark.llmops.multimodal import attach_media_metadata, extract_image_features

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    d = p.df.withColumn("payload", F.encode(F.col("text"), "utf-8"))
    d = attach_media_metadata(d, "payload", "image", "fake")
    feats = extract_image_features(d, "doc_id", "payload")
    meta = d.select("doc_id", F.col("payload_meta.n_bytes").alias("n_bytes"))
    return feats.join(meta, "doc_id").select(
        "doc_id", "height", "width", "channels", round_col("mean_luma", 6).alias("mean_luma"),
        "n_bytes",
    )


def q_marginal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-effect table (Marginal, diags.go:592-731): counterfactual
    feature sweep through the fitted model. Model-dependent — rows-only."""
    from seafan_spark.diags import marginal
    from seafan_spark.model import fit, parse_modspec

    p = _pipe(spark, sf_dir, "lineitem")
    ms = parse_modspec(
        ["Input(l_quantity+l_discount)", "FC(size:1, activation:linear)", "Target(l_extendedprice)"]
    )
    fr = fit(p, ms, max_iter=25)
    t = marginal(fr, p, "l_quantity", n_seg=4, n_sweep=4, take=500)
    return t.select(
        "fit_seg",
        round_col("x_value", 4).alias("x_value"),
        round_col("mean_fit", 2).alias("mean_fit"),
        F.col("n").cast("bigint").alias("n"),
    )


def _marginal_fixed_weights() -> tuple["object", "object"]:
    """The nn_forward dyadic weights with a π-SCALED head: predictions =
    π × the dyadic forward pass (the head is linear, so folding π into
    W2 rescales every output monotonically). That keeps every fitted
    value off 6-dp half boundaries — the same trick q_nn_forward applies
    at output time — so the ROUNDED segmentation key (seg_round=6) is
    identical cross-engine and a 1-ulp numpy-vs-DuckDB difference can
    never flip a row's fitted segment."""
    w1, w2 = _fixed_nn_weights()
    return w1, w2 * 3.141592653589793


def q_marginal_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-effect table with PINNED weights, oracled (round-7
    VERDICT #2 — the nn_forward fixed-weights trick applied to the whole
    diags.marginal pipeline): the REAL diags.marginal runs end-to-end —
    NNModel.transform Arrow scoring, distributed ntile segmentation
    (6 fitted-quantile segments), bounded per-segment sampling,
    counterfactual sweep of qty_s over the min/max grid, re-scoring, and
    the (segment, sweep) aggregation — with _marginal_fixed_weights
    instead of a trained model, deterministic tiebreak (tie =
    8·l_orderkey + l_linenumber) and a 6-dp-rounded segmentation key, so
    every stage is exactly replayable in SQL. Training stays iterative;
    plain `marginal` remains the rows-only end-to-end check."""
    from seafan_spark.diags import marginal
    from seafan_spark.model import FitResult, parse_modspec
    from seafan_spark.optim import NNModel, _Block

    w1, w2 = _marginal_fixed_weights()
    model = NNModel(
        blocks=[_Block("qty_s", "cts"), _Block("disc", "cts")],
        emb={},
        fcs=[w1, w2],
        acts=[("leakyrelu", 0.1)],
        head="linear",
        n_classes=0,
    )
    p = _pipe(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 17 == 0)
    p = p.with_column("qty_s", F.col("l_quantity").cast("double") / F.lit(50.0))
    p = p.with_column("disc", F.col("l_discount").cast("double"))
    p = p.with_column(
        "tie",
        (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).cast("bigint"),
    )
    ms = parse_modspec(
        ["Input(qty_s+disc)", "FC(size:3, activation:leakyrelu(0.1))",
         "FC(size:1, activation:linear)", "Target(l_extendedprice)"]
    )
    fr = FitResult(
        model=model, modspec=ms, kind="nn_linear",
        feature_cols=["qty_s", "disc"], n_classes=0, fts=p.fts.copy(),
    )
    t = marginal(
        fr, p, "qty_s", n_seg=6, n_sweep=4, take=500,
        tiebreak="tie", seg_round=6,
    )
    return t.select(
        F.col("fit_seg").cast("bigint").alias("fit_seg"),
        round_col("x_value", 6).alias("x_value"),
        round_col("mean_fit", 6).alias("mean_fit"),
        round_col("sd_fit", 6).alias("sd_fit"),
        F.col("n").cast("bigint").alias("n"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (agg.rollup_table): every grouping prefix of
    (l_returnflag, l_linestatus) in ONE shuffle — Spark native ROLLUP with
    per-key grouping flags distinguishing subtotal-NULLs."""
    from seafan_spark.agg import rollup_table

    p = _pipe(spark, sf_dir, "lineitem")
    return rollup_table(
        p,
        ["l_returnflag", "l_linestatus"],
        {"sum_qty": round_col(F.sum("l_quantity"), 2), "n": F.count(F.lit(1))},
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations (agg.corr_matrix): all pairs in one
    aggregation pass, unpivoted via stack — no per-pair rescans."""
    from seafan_spark.agg import corr_matrix

    p = _pipe(spark, sf_dir, "lineitem")
    m = corr_matrix(p, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"])
    return m.select("col_a", "col_b", round_col("corr", 6).alias("corr"))


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column distinct cardinalities (agg.distinct_counts) in one
    pass; the approx (HLL) form is the 100 TB path, exact is oracled."""
    from seafan_spark.agg import distinct_counts

    p = _pipe(spark, sf_dir, "orders")
    return distinct_counts(p, ["o_orderstatus", "o_orderpriority", "o_custkey"])


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch table (sketches.distinct_over_slices): build
    per-(returnflag, linestatus) DataSketches HLL sketches of l_partkey
    in one scan, roll them up to returnflag by sketch UNION (kilobytes,
    no rescan), and assert the estimate lands within the lg_k=12 error
    band of the exact count — the band check is the hash-checkable
    output, so the oracle verifies both the exact path and the sketch's
    accuracy contract."""
    from seafan_spark.sketches import distinct_over_slices

    li = _pipe(spark, sf_dir, "lineitem").df
    est = distinct_over_slices(
        li, ["l_returnflag", "l_linestatus"], ["l_returnflag"], "l_partkey"
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("estimate") - F.col("exact_parts"))
            <= 0.05 * F.col("exact_parts")
        ).alias("est_ok"),
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM quality scores (llmops.lm.lm_score_docs): Laplace-
    smoothed bigram mean log-likelihood per document, self-scored — the
    perplexity-filter quality gate. The count-table "model" is two small
    broadcast DataFrames; scoring is explode + broadcast joins + one
    per-doc mean. The DuckDB twin rebuilds counts and scores in pure SQL
    and matches to 6 decimal places."""
    from seafan_spark.llmops.lm import lm_score_docs

    p = _pipe(spark, sf_dir, "documents")
    return lm_score_docs(p.df, "doc_id", "text").select(
        "doc_id", "n_bigrams", round_col("avg_logprob", 6).alias("avg_logprob")
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order event funnel view -> click -> purchase
    (temporal.funnel): per-step earliest-qualifying-time aggregation,
    key-partitioned joins of a shrinking user table."""
    from seafan_spark.temporal import funnel

    ev = _pipe(spark, sf_dir, "events").df
    return funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics (cdc.apply_changes): the events table split
    into an already-ingested batch (event_id < 7000, compacted to a
    per-user snapshot via cdc.latest_state) and a new changelog batch;
    'error' events are deletes. Latest change per key wins; deletes
    remove; untouched snapshot keys pass through."""
    from seafan_spark.cdc import apply_changes, latest_state

    ev = _pipe(spark, sf_dir, "events").df.withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    )
    snap = latest_state(
        ev.filter(F.col("event_id") < 7000), ["user_id"], "ts", op_col="op"
    )
    return apply_changes(
        snap, ev.filter(F.col("event_id") >= 7000), ["user_id"], "ts", op_col="op"
    )


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals (cdc.scd2_history): per-user event_type
    history compressed to state-change rows with [valid_from, valid_to)
    intervals, valid_to NULL for the current state."""
    from seafan_spark.cdc import scd2_history

    ev = _pipe(spark, sf_dir, "events").df
    return scd2_history(ev, ["user_id"], "ts", ["event_type"])


def q_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour rolling count and value sum over event
    time (temporal.rolling_agg): one shared range frame, one
    Exchange/Sort pair for both aggregates."""
    from seafan_spark.temporal import rolling_agg

    ev = _pipe(spark, sf_dir, "events").df
    out = rolling_agg(
        ev,
        ["user_id"],
        "ts",
        {
            "n_1h": F.count(F.lit(1)),
            "sum_1h": F.sum("value"),
        },
        window="1 hour",
    )
    return out.select(
        "user_id", "event_id", F.col("n_1h"), round_col(F.col("sum_1h"), 6).alias("sum_1h")
    )


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (temporal.retention): first-activity cohort
    x period offset distinct-user counts, fixed 7-day epoch buckets."""
    from seafan_spark.temporal import retention

    ev = _pipe(spark, sf_dir, "events").df
    return retention(ev, "user_id", "ts", period="week")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation compose — the 'switch your whole workflow to
    this engine' flagship: exact dedup (keep first copy) -> text-quality
    features -> quality gate -> per-source cap (top-20 by length) ->
    deterministic train/val/test split -> per-split corpus stats. Every
    stage is the public API of an individually-oracled operator; the
    composed DuckDB twin replays all five stages, so the hash check
    covers the whole pipeline, not just its parts. Scale shape: one
    window shuffle for dedup, staged projections for features (no
    shuffle), one WindowGroupLimit shuffle for the cap, a pure-filter
    split, and a 3-group aggregate."""
    from seafan_spark.llmops import text as tx
    from seafan_spark.llmops.dedup import exact_dedup
    from seafan_spark.sampling import cap_per_group, train_val_test_split

    p = _pipe(spark, sf_dir, "documents")
    keep = (
        exact_dedup(p, "text", "doc_id").df
        .filter(F.col("is_dup") == 0.0)
        .select("doc_id")
    )
    base = p.df.select("doc_id", "source", "text").join(keep, "doc_id")
    feats = tx.add_text_features(base, "text")
    q = feats.filter(F.col("quality") >= 0.5)
    capped = cap_per_group(q, "source", "doc_id", 20, "n_chars")
    s = train_val_test_split(capped, "doc_id", weights=(0.8, 0.1, 0.1), salt="cur")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).alias("sum_chars"),
        round_col(F.avg("quality"), 6).alias("avg_quality"),
    )


def q_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Welch two-sample t-test (agg.ttest_by): does extended
    price differ between open and closed line items, within each return
    flag — one conditional-moment aggregation pass."""
    from seafan_spark.agg import ttest_by

    li = _pipe(spark, sf_dir, "lineitem")
    p = Pipeline(li.df.withColumn("_is_o", (F.col("l_linestatus") == "O").cast("int")))
    return ttest_by(p, "l_extendedprice", "_is_o", ["l_returnflag"])


def q_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group chi-square independence test (agg.chisq_by): order
    priority vs order status within each order year — a full R x C
    table per group, zero-cell-safe expansion over the tiny counts."""
    from seafan_spark.agg import chisq_by

    o = _pipe(spark, sf_dir, "orders")
    p = Pipeline(
        o.df.withColumn("o_year", F.year("o_orderdate").cast("bigint"))
    )
    return chisq_by(p, "o_orderpriority", "o_orderstatus", ["o_year"])


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, exactly k per group
    (sampling.weighted_sample_per_group, Efraimidis-Spirakis A-ES keys
    on the deterministic md5-bucket uniform): 5 docs per language,
    longer docs favored by n_chars weight."""
    from seafan_spark.sampling import weighted_sample_per_group

    docs = _pipe(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        docs, ["lang"], "doc_id", "n_chars", k=5, salt="ws"
    )


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier summary (agg.robust_outliers_by):
    median/MAD of extended price within each return flag, outliers
    beyond 3 MADs — exact grouped medians by rank arithmetic, never a
    group-sized percentile buffer."""
    from seafan_spark.agg import robust_outliers_by

    li = _pipe(spark, sf_dir, "lineitem")
    return robust_outliers_by(li, "l_extendedprice", ["l_returnflag"], k=3.0)


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group diversity metrics (agg.entropy_by): Shannon entropy and
    Gini impurity of the documents' source mix within each language —
    the is-the-mixture-collapsing corpus monitor."""
    from seafan_spark.agg import entropy_by

    docs = _pipe(spark, sf_dir, "documents")
    return entropy_by(docs, "source", ["lang"])


def q_ols_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form simple OLS (agg.ols_by): regress
    l_extendedprice on l_quantity within (returnflag, linestatus) — one
    moment-sum aggregation pass, arithmetic on one row per group. The
    hash-checked twin of the otherwise rows-only model surface."""
    from seafan_spark.agg import ols_by

    li = _pipe(spark, sf_dir, "lineitem")
    return ols_by(li, "l_quantity", "l_extendedprice", ["l_returnflag", "l_linestatus"])


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (sampling.leakage_safe_split):
    every MinHash near-dup component keys its split on the component's
    min id, so near-duplicate copies can never straddle train and eval.
    One broadcast left join against the (tiny) cluster table + the same
    pure-Column md5-bucket split as sample_split; hash-checked against a
    DuckDB twin that replays the recursive-CTE closure and the identical
    bucket arithmetic."""
    from seafan_spark.llmops.dedup import minhash_clusters, minhash_pairs
    from seafan_spark.sampling import leakage_safe_split

    p = _pipe(spark, sf_dir, "documents").spread("doc_id")
    pairs = minhash_pairs(
        p, "doc_id", "text", num_hashes=32, bands=4, threshold=0.5, portable=True
    )
    clusters = minhash_clusters(pairs)
    out = leakage_safe_split(
        p.df.select("doc_id"), "doc_id", clusters, weights=(0.8, 0.1, 0.1), salt="lk"
    )
    return out.select("doc_id", "split")


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (llmops.versioning.snapshot_diff): added /
    removed / changed documents between two snapshot versions, compared
    by md5 text fingerprint so the full text never shuffles — one
    full-outer join over (id, fp) projections. Snapshots are derived
    deterministically from `documents`: ids ≡5 (mod 11) arrive only in
    the new snapshot, ids ≡3 (mod 11) were removed from it, and ids
    ≡2 (mod 7) had their text rewritten."""
    from seafan_spark.llmops.versioning import snapshot_diff, snapshot_fingerprints

    d = _pipe(spark, sf_dir, "documents").df.select("doc_id", "text")
    old = d.filter(F.col("doc_id") % 11 != 5)
    new = d.filter(F.col("doc_id") % 11 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(
        snapshot_fingerprints(old, "doc_id"), snapshot_fingerprints(new, "doc_id")
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens via bounded-memory Misra-Gries candidates +
    an exact verification pass (sketches.heavy_hitters) — the two-pass
    heavy-hitter pattern that never runs a full-width groupBy, with an
    exactness certificate (k-th count > n/width) checked at runtime, so
    the output hash-matches a plain SQL GROUP BY / ORDER BY / LIMIT
    twin."""
    from seafan_spark.sketches import heavy_hitters

    d = _pipe(spark, sf_dir, "documents").df
    tokens = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(tokens, "token", k=20, width=256)


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (llmops.dedup.duplicated_spans —
    the substring-level dedup of Lee et al. 2022, as sharded k-gram
    runs): maximal per-doc character ranges (>=50 chars) every 20-gram
    of which occurs in >=2 documents. Output carries positions, not
    hashes, so the DuckDB twin — which groups the raw substrings — must
    agree exactly."""
    from seafan_spark.llmops.dedup import duplicated_spans

    p = _pipe(spark, sf_dir, "documents")
    return duplicated_spans(p, "doc_id", "text", min_len=50, gram_k=20)


def q_mg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Misra-Gries summary (sketches.misra_gries_summary) over
    document tokens in the no-decrement regime (width far above the
    distinct vocabulary), where the mergeable summary is provably EXACT:
    est == per-token count, and the null-item row carries the total
    token count n — so the whole per-partition-summarize +
    distributed-merge plumbing hash-checks against a plain GROUP BY
    twin. The decrement/error-bound regime (width << domain) is
    property-tested in tests/test_sketches.py."""
    from seafan_spark.sketches import misra_gries_summary

    d = _pipe(spark, sf_dir, "documents").df
    tokens = d.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return misra_gries_summary(tokens, "token", width=4096)


def q_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch round trip (sketches.cms_build / cms_estimate,
    Cormode-Muthukrishnan 2005): sparse (row, bucket, cnt) cell relation
    over per-user event counts at depth=3, width=64 — 150 users into 64
    buckets FORCES collisions, so the min-over-depth estimate and its
    one-sided overcount are both exercised. Portable md5 hashing; the
    DuckDB twin replays cells, probes, and MIN lookup bit-for-bit, and
    rides the exact count alongside so the (est >= true_n) bound is in
    the hashed output. Scale shape: build = one scan exploded depth
    ways, map-side-combined to cells before the exchange; estimate =
    probes joined against the kilobyte cell relation."""
    from seafan_spark.sketches import cms_build, cms_estimate

    ev = _pipe(spark, sf_dir, "events").df
    sk = cms_build(ev, "user_id", depth=3, width=64, portable=True)
    est = cms_estimate(
        sk, ev.select("user_id"), "user_id", depth=3, width=64, portable=True
    )
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").cast("string").alias("item"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return est.join(exact, "item").select(
        "item",
        F.col("est").cast("bigint").alias("est"),
        F.col("true_n").cast("bigint").alias("true_n"),
        (F.col("est") >= F.col("true_n")).alias("bound_ok"),
    )


def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day-of-week one-way ANOVA of event value across event types
    (agg.anova_by) — the >= 2-variant test the two-sample guards point
    to. Two map-side-partial moment rollups (corpus -> (dow, variant) ->
    dow), statistic in post-aggregation arithmetic mirrored by the twin
    term-for-term."""
    from seafan_spark.agg import anova_by

    ev = _pipe(spark, sf_dir, "events").df.withColumn(
        "dow", F.dayofweek("ts")
    )
    out = anova_by(ev, "value", "event_type", ["dow"])
    return out.select(
        "dow",
        "k",
        "n",
        round_col(F.col("ssb"), 6).alias("ssb"),
        round_col(F.col("ssw"), 6).alias("ssw"),
        round_col(F.col("f_stat"), 6).alias("f_stat"),
        round_col(F.col("eta_sq"), 6).alias("eta_sq"),
    )


def q_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day-of-week Kruskal-Wallis H across event types
    (agg.kruskal_by) — anova's rank-based companion. Midranks from a
    keyed window (each dow ranks independently), tie correction from
    the per-row (t^2 - 1) sum; the twin replays rank + tie windows and
    the identical H arithmetic."""
    from seafan_spark.agg import kruskal_by

    ev = _pipe(spark, sf_dir, "events").df.withColumn(
        "dow", F.dayofweek("ts")
    )
    out = kruskal_by(ev, "value", "event_type", ["dow"])
    return out.select(
        "dow",
        "k",
        "n",
        round_col(F.col("h"), 6).alias("h"),
        round_col(F.col("h_corrected"), 6).alias("h_corrected"),
    )


def q_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (rank.rrf_fuse, Cormack et al. 2009):
    per event_type, fuse a value ranker and a recency ranker at the
    paper's k=60, keep each type's top-5 fused rows. One keyed window
    per ranker (groups rank independently) + a WindowGroupLimit-pruned
    top-k — no score calibration, no global sort. The DuckDB twin
    replays both ROW_NUMBER rankers, the 1/(60+r) sum, and the fused
    top-5 verbatim."""
    from seafan_spark.rank import rrf_fuse

    ev = _pipe(spark, sf_dir, "events").df
    out = rrf_fuse(
        ev.select("event_type", "event_id", "value", F.col("ts").alias("recency")),
        "event_id",
        ["value", "recency"],
        keys=["event_type"],
        top=5,
    )
    return out.select(
        "event_type",
        "event_id",
        F.col("rank_value").cast("bigint").alias("rank_value"),
        F.col("rank_recency").cast("bigint").alias("rank_recency"),
        round_col(F.col("rrf"), 6).alias("rrf"),
    )


def q_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift (text.token_divergence_by):
    KL(P_src || Q_corpus) + Jensen-Shannon + coverage per source — the
    drift screen run before folding a source into a training mix. One
    explode→groupBy pass; the corpus distribution is a rollup of the
    same relation; JS's never-used-term mass enters via the exact
    closed-form q·ln2 identity (no source × vocabulary densification).
    The DuckDB twin replays tokenization, the joins, and the identical
    double arithmetic."""
    from seafan_spark.llmops.text import token_divergence_by

    d = _pipe(spark, sf_dir, "documents").df
    out = token_divergence_by(d, "source", "text")
    return out.select(
        "source",
        "n_tokens",
        "n_types",
        round_col(F.col("kl"), 6).alias("kl"),
        round_col(F.col("js"), 6).alias("js"),
        round_col(F.col("coverage"), 6).alias("coverage"),
    )


def q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup CUT policy end to end
    (llmops.dedup.cut_duplicated_spans): duplicated spans -> per-doc
    overlap merge -> remainder stitched by a JVM aggregate() walk. Slim
    hash-checkable output: (doc_id, clean_chars, clean_fp) where
    clean_fp is md5 of the cleaned text; the DuckDB twin replays spans,
    island-merge, and gap stitching with string_agg."""
    from seafan_spark.llmops.dedup import cut_duplicated_spans

    p = _pipe(spark, sf_dir, "documents")
    out = cut_duplicated_spans(
        p.df.select("doc_id", "text"), "doc_id", "text", min_len=50, gram_k=20
    )
    return out.select(
        "doc_id",
        F.length("clean_text").cast("bigint").alias("clean_chars"),
        F.md5("clean_text").alias("clean_fp"),
    )


def q_ts_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed time-series pattern search (temporal.ts_topk_matches):
    top-10 length-4 windows of each user's event-value series nearest a
    query pattern by euclidean distance — bounded window frame, JVM
    zip_with/aggregate distance with SEQUENTIAL summation so the DuckDB
    twin (list window + ordered list_transform sum) reproduces the
    floating-point result bit-for-bit before 6-dp rounding."""
    from seafan_spark.temporal import ts_topk_matches

    p = _pipe(spark, sf_dir, "events")
    out = ts_topk_matches(
        p.df, "user_id", ["ts", "event_id"], "value",
        [10.0, 60.0, 120.0, 60.0], k=10,
    )
    return out.select(
        "user_id", F.col("start").cast("bigint").alias("start"),
        round_col("dist", 6).alias("dist"),
    )


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein near-dup pairs with prefix+length blocking
    (llmops.dedup.edit_distance_pairs) — typo-class duplicates the
    shingle methods overlook. The raw corpus has no typo-class pairs at
    small SF (the driver row would be vacuously green on 0 rows), so the
    input deterministically plants one: every 17th doc is re-ingested
    under doc_id+10_000_000 with a single appended character — each
    planted copy must come back as a dist 1-2 pair with its source, so
    the hash check exercises real pairs."""
    from seafan_spark.llmops.dedup import edit_distance_pairs

    base = _pipe(spark, sf_dir, "documents").df.select("doc_id", "text")
    typos = base.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit("x")).alias("text"),
    )
    p = Pipeline(base.unionByName(typos))
    return edit_distance_pairs(p, "doc_id", "text", max_dist=2, prefix_len=16)


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table record linkage (llmops.dedup.fuzzy_join): match a
    deterministically-fuzzed registry (every 13th customer, one
    character appended, id+10M) back to the customer table by blocked
    Levenshtein — one prefix-block equi-join, keep="best" per left row
    via a keyed WindowGroupLimit. The planted fuzz guarantees real
    matches at every SF (the raw tables share no typo-class names).
    prefix_len=16 reaches 7 digits INTO the numeric part of
    'Customer#NNNNNNNNN' (~100-row blocks): a 10-char prefix stops at
    the shared 'customer#0' stem, collapsing the block join to ONE
    bucket — measured 49s at sf0.1 (every fuzzed row Levenshtein'd
    against every customer) vs sub-second blocked. The blocking key
    must clear the corpus's common prefix."""
    from seafan_spark.llmops.dedup import fuzzy_join

    cust = _pipe(spark, sf_dir, "customer").df.select("c_custkey", "c_name")
    fuzzed = cust.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + F.lit(10_000_000)).alias("r_id"),
        F.concat(F.col("c_name"), F.lit("q")).alias("r_name"),
    )
    out = fuzzy_join(
        fuzzed, cust, "r_id", "r_name", "c_custkey", "c_name",
        max_dist=2, prefix_len=16, keep="best",
    )
    return out.select(
        "r_id",
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("dist").cast("int").alias("dist"),
    ).orderBy("r_id")


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-50 (llmops.text.vocab_top_terms): explode ->
    vocabulary-sized groupBy -> order-limit (never a full-data global
    sort)."""
    from seafan_spark.llmops.text import vocab_top_terms

    p = _pipe(spark, sf_dir, "documents")
    return vocab_top_terms(p, "text", k=50)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile clipping (encode.winsorize): exact P5/P95 cutoffs from one
    aggregation pass, then a pure clip projection."""
    from seafan_spark.encode import winsorize

    p = _pipe(spark, sf_dir, "lineitem")
    p = winsorize(p, "l_extendedprice", 0.05, 0.95, name="price_w")
    return p.df.select(
        "l_orderkey", "l_linenumber", round_col("price_w", 4).alias("price_w")
    )


def q_hist_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram sketch table (histogram.py): build
    fine per-(returnflag, linestatus) bucket counts of l_extendedprice in
    one scan, then MERGE them up to returnflag — the oracle computes the
    coarse histogram directly, so the hash check proves the rollup merge
    is exact (the property incremental refresh rests on). Bucket indices
    use explicit double arithmetic shared verbatim with the SQL twin
    (bucket_sql), not the engine's width_bucket."""
    from seafan_spark.histogram import histogram_rollup, histogram_sketch_table

    li = _pipe(spark, sf_dir, "lineitem").df
    fine = histogram_sketch_table(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice", 900.0, 105000.0, 32
    )
    rolled = histogram_rollup(fine, ["l_returnflag"])
    return rolled.select(
        "l_returnflag",
        "bucket",
        F.col("cnt").cast("bigint").alias("cnt"),
        "bin_min",
        "bin_max",
    )


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates from the histogram sketch table
    (histogram.quantiles_from_histogram): per-returnflag P25/P50/P75/P99
    of l_extendedprice answered from sketch rows only — never rescanning
    facts. The DuckDB twin replays the identical cume-window +
    within-bucket interpolation arithmetic (same operation order on IEEE
    doubles), so the estimates are hash-checked, not just bound-tested."""
    from seafan_spark.histogram import histogram_sketch_table, quantiles_from_histogram

    li = _pipe(spark, sf_dir, "lineitem").df
    hist = histogram_sketch_table(
        li, ["l_returnflag"], "l_extendedprice", 900.0, 105000.0, 32
    )
    q = quantiles_from_histogram(hist, ["l_returnflag"], [0.25, 0.5, 0.75, 0.99])
    return q.select(
        "l_returnflag", "q", round_col("estimate", 6).alias("estimate")
    )


def q_embed_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup against a persisted vector store
    (llmops.dedup.embedding_neardup_incremental): ingest even vec_ids
    into an empty store, then dedupe the odd half against it — the union
    must equal the one-shot full-corpus LSH pass, which is what the
    DuckDB twin computes (bucket bits from the SAME ±1 literal weights,
    divide-then-dot cosine in the same operation order). probe_bits=0
    keeps the twin a plain bucket equi-join."""
    from seafan_spark.llmops.dedup import (
        embedding_neardup_incremental,
        embedding_store_prepare,
    )

    emb = _pipe(spark, sf_dir, "embeddings").df
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    store = embedding_store_prepare(first, "vec_id", "embedding", 64, planes=8)
    kw = dict(threshold=0.3, planes=8, probe_bits=0)
    p1 = embedding_neardup_incremental(
        first, store.limit(0), "vec_id", "embedding", 64, **kw
    )
    p2 = embedding_neardup_incremental(second, store, "vec_id", "embedding", 64, **kw)
    return p1.unionByName(p2)


def q_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (quality.check_rules): five rules
    over lineitem evaluated in ONE aggregation pass (sum-of-case per
    row rule, count-minus-distinct for uniqueness), unpivoted to
    (rule, violations, passed). The DuckDB twin recomputes each rule's
    count independently."""
    from seafan_spark.quality import (
        accepted_values,
        check_rules,
        in_range,
        matches,
        not_null,
        unique,
    )

    li = _pipe(spark, sf_dir, "lineitem").df
    return check_rules(
        li,
        [
            not_null("l_orderkey"),
            in_range("l_discount", 0.0, 0.1),
            in_range("l_quantity", 1.0, 50.0),
            accepted_values("l_returnflag", ["A", "N", "R"]),
            matches("l_linestatus", "[FO]"),
            unique("l_orderkey"),
        ],
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift PSI between two histogram sketch tables
    (histogram.psi_from_histograms): l_extendedprice of returnflag 'A'
    lines vs 'R' lines, per linestatus — two single-scan sketches, then
    a sketch-sized outer join + one aggregation. The DuckDB twin replays
    the share/smoothing/log arithmetic on the same bucket grid."""
    from seafan_spark.histogram import histogram_sketch_table, psi_from_histograms

    li = _pipe(spark, sf_dir, "lineitem").df
    a = histogram_sketch_table(
        li.where(F.col("l_returnflag") == "A"),
        ["l_linestatus"],
        "l_extendedprice",
        900.0,
        105000.0,
        32,
    )
    r = histogram_sketch_table(
        li.where(F.col("l_returnflag") == "R"),
        ["l_linestatus"],
        "l_extendedprice",
        900.0,
        105000.0,
        32,
    )
    out = psi_from_histograms(a, r, ["l_linestatus"])
    return out.select("l_linestatus", round_col("psi", 6).alias("psi"))


def q_dedup_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster representative selection
    (llmops.dedup.select_representatives): keep the longest document per
    cluster (ties to the smallest doc_id) — the keep-which-copy decision
    of a dedup pipeline, one window shuffle. The operator accepts any
    (row -> cluster) assignment (exact fingerprints, minhash_clusters
    output); this corpus has no exact dups, so the driver query clusters
    on a 2-hex-char fingerprint prefix to get real multi-doc groups that
    exercise the score ranking."""
    from seafan_spark.llmops.dedup import select_representatives
    from seafan_spark.llmops.text import fingerprint_col

    d = _pipe(spark, sf_dir, "documents").df.withColumn(
        "cl", F.substring(fingerprint_col(F.col("text")), 1, 2)
    )
    reps = select_representatives(d, "cl", "doc_id", F.length("text"))
    return reps.select(
        "cl", "doc_id", F.col("cluster_size").cast("bigint").alias("cluster_size")
    )


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (sampling.cap_per_group): keep the top-10
    docs per source by (n_chars desc, doc_id) — the per-domain cap of
    pretraining curation. One shuffle: Catalyst's WindowGroupLimit caps
    each map task's contribution at 10 rows per source BEFORE the
    exchange (Partial/Final pair in the plan), so a hot source never
    floods the final rank task."""
    from seafan_spark.sampling import cap_per_group

    d = _pipe(spark, sf_dir, "documents").df
    kept = cap_per_group(d, "source", "doc_id", 10, "n_chars")
    return kept.select("source", "doc_id", "n_chars")


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style global line dedup (llmops.dedup.drop_common_lines):
    documents split into 3-word lines, any line holding >= 0.02% of all
    corpus lines is boilerplate and dropped, remainder reassembled in
    order. The corpus shuffles only the slim exploded-line counts; the
    common-line set collects to ONE md5-array row and cross-broadcasts,
    so the cleaning pass is a JVM higher-order filter with no doc
    shuffle."""
    from seafan_spark.llmops.dedup import drop_common_lines

    p = _pipe(spark, sf_dir, "documents")
    d = p.df.select(
        "doc_id",
        F.regexp_replace("text", r"(\S+ \S+ \S+) ", "$1\n").alias("text"),
    )
    out = drop_common_lines(p._derive(d), "doc_id", "text", sep="\n", min_ratio=0.0002)
    return out.df.select("doc_id", "n_lines", "n_dropped", "text_clean")


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 bigram collocations by PMI (llmops.text.collocation_top_terms,
    Church & Hanks 1990): two explode->count passes shrunk map-side to
    vocabulary domains, min_count tail pruning BEFORE the broadcast
    unigram joins, totals as one-row cross joins — the association math
    itself is pure Column arithmetic, hash-checked to 6 dp."""
    from seafan_spark.llmops.text import collocation_top_terms

    p = _pipe(spark, sf_dir, "documents")
    out = collocation_top_terms(p, "text", k=40, min_count=5)
    return out.select(
        "w1", "w2", "c_xy", round_col(F.col("pmi"), 6).alias("pmi"), "rank"
    )


def q_score_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile-rank calibration of the quality score
    (sampling.calibrate_scores_by_group): percent_rank windowed per
    source — keyed shuffle, no global order — so one threshold selects
    the same quantile of every source. The score arithmetic is the
    text_quality_lang one, and the DuckDB twin replays both it and the
    rank normalization."""
    from seafan_spark.llmops import text as tx
    from seafan_spark.sampling import calibrate_scores_by_group

    p = _pipe(spark, sf_dir, "documents")
    # rank on the 6-dp ROUNDED score: the raw double agrees with DuckDB
    # only to ~1 ulp, and percent_rank amplifies a 1-ulp swap into a
    # different rank — round_col is bit-parity-proven vs DuckDB ROUND, so
    # the rounded ordering (ties share a rank) is cross-engine exact
    d = p.df.select(
        "doc_id",
        "source",
        round_col(tx.quality_score_col(F.col("text")), 6, expensive=True).alias("quality"),
    )
    out = calibrate_scores_by_group(d, "source", "quality", out_col="_pct")
    return out.select(
        "doc_id",
        "source",
        "quality",
        round_col(F.col("_pct"), 6).alias("q_pct"),
    )


def q_fd_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate functional-dependency discovery on orders
    (agg.fd_report, g3 error of Kivinen & Mannila / TANE): per pair one
    groupBy over the (lhs, rhs) combination domain — map-side partial
    agg means the shuffle carries distinct combos, not rows — then a
    scalar collapse; includes an exact key (o_orderkey -> o_orderstatus,
    g3 = 0) and violated candidates."""
    from seafan_spark.agg import fd_report

    d = _pipe(spark, sf_dir, "orders").df
    out = fd_report(
        d,
        [
            ("o_orderkey", "o_orderstatus"),
            ("o_custkey", "o_orderstatus"),
            ("o_orderpriority", "o_orderstatus"),
            ("o_orderstatus", "o_orderpriority"),
        ],
    )
    return out.select(
        "lhs",
        "rhs",
        "n_rows",
        "n_groups",
        "violating_groups",
        round_col(F.col("g3_rate"), 6).alias("g3_rate"),
    ).orderBy("lhs", "rhs")



def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (temporal.interval_join): per-user view
    windows [ts, ts+1h] overlapping click windows [ts, ts+1h]. Both
    sides explode into 1h time buckets, equi-join on (user, bucket),
    exact overlap predicate + first-shared-bucket rule emits each pair
    exactly once — a hash join, never Catalyst's nested-loop inequality
    fallback."""
    from seafan_spark.temporal import epoch_us_col, interval_join

    ev = _pipe(spark, sf_dir, "events").df
    hour = 3_600_000_000
    us = epoch_us_col(ev, "ts")
    l = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", us.alias("ls"), (us + F.lit(hour)).alias("le")
    )
    r = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        us.alias("rs"),
        (us + F.lit(hour)).alias("re"),
    )
    j = interval_join(
        l, r, on="user_id", left_start="ls", left_end="le",
        right_start="rs", right_end="re", bucket=hour,
    )
    return j.select("event_id", "click_id", "user_id", "ls", "rs")


def q_ols_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped 2-feature OLS via normal equations (agg.ols_multi_by):
    l_extendedprice ~ l_quantity + l_discount per l_returnflag. ONE
    moment-sum aggregation pass; the 3x3 system solves in closed form
    (Cramer) as pure Column arithmetic — the DuckDB twin replays the
    identical determinant association, so coefficients hash-check to
    6 dp."""
    from seafan_spark.agg import ols_multi_by

    p = _pipe(spark, sf_dir, "lineitem")
    out = ols_multi_by(
        p, ["l_quantity", "l_discount"], "l_extendedprice", ["l_returnflag"]
    )
    return out.select(
        "l_returnflag",
        "n",
        "intercept",
        F.col("coefs")[0].alias("b_qty"),
        F.col("coefs")[1].alias("b_disc"),
        "r2",
    ).orderBy("l_returnflag")


def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-shape diagnostics (llmops.text.zipf_stats): vocabulary
    size, type-token ratio, hapax ratio, and the Zipf exponent fit by
    closed-form least squares on the ln-rank/ln-freq of the top-500
    terms. One corpus scan; the fit runs over the vocabulary slice."""
    from seafan_spark.llmops.text import zipf_stats

    p = _pipe(spark, sf_dir, "documents")
    return zipf_stats(p, "text", top_n=500)



def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over (user, day) event-type baskets
    (agg.association_rules): distinct-basket dedup, key-equi self-join
    bounded per basket by the max_basket cap, broadcast item supports,
    Agrawal-Srikant support/confidence/lift, top-k by lift."""
    from seafan_spark.agg import association_rules

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        F.concat_ws(
            "|", F.col("user_id").cast("string"),
            F.to_date("ts").cast("string"),
        ).alias("basket"),
        "event_type",
    )
    out = association_rules(d, "basket", "event_type", min_support=0.01, k=20)
    return out.select(
        "antecedent",
        "consequent",
        "pair_n",
        round_col(F.col("support"), 6).alias("support"),
        round_col(F.col("confidence"), 6).alias("confidence"),
        round_col(F.col("lift"), 6).alias("lift"),
    )


def q_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (similarity.kcenter_select,
    Gonzalez 1985): 8 most mutually-distant embeddings — the diversity
    complement of semantic_dedup. k-1 scans of a cached unit-vector
    relation, argmax via ORDER-BY-LIMIT-1, driver state k ids+vectors.
    Oracled: at fixed k the iteration unrolls into a CTE chain
    (_kcenter_oracle_sql), like rake's IPF sweeps; also pytest-verified
    against a numpy reference implementation."""
    from seafan_spark.llmops.similarity import kcenter_select

    emb = _pipe(spark, sf_dir, "embeddings").df
    # argmax_round=6 pins the greedy pick's SORT KEY (not just the
    # output) at the same precision in both engines: an unrounded
    # near-tie in any round would flip the whole remaining pick
    # sequence even with both implementations correct (round-6 ADVICE)
    out = kcenter_select(emb, "vec_id", "embedding", k=8, argmax_round=6)
    return out.select("round", "id", round_col(F.col("dist"), 6).alias("dist"))


# round 6: at FIXED k the iteration unrolls into a CTE chain the same way
# rake's IPF sweeps did, so kcenter graduates from rows-only to a real
# DuckDB twin (_kcenter_oracle_sql below) — hash-green at sf0.01 and sf0.1.


def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diverse top-k
    (llmops.similarity.mmr_select, Carbonell-Goldstein 1998): 6 picks at
    lam=0.7 for the vec_id=0 embedding as the query — relevance minus
    redundancy with the already-picked set, the selection layer between
    ANN retrieval and context/training-subset assembly. Same unrolled
    loop shape as kcenter (k scans of one cached unit-vector relation,
    chosen vectors ride as broadcast literals, ORDER-BY-LIMIT-1 argmax),
    and the same unrolled-CTE oracle trick at fixed k
    (_mmr_oracle_sql)."""
    from seafan_spark.llmops.similarity import mmr_select

    emb = _pipe(spark, sf_dir, "embeddings").df
    q_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    out = mmr_select(
        emb.filter(F.col("vec_id") != 0), "vec_id", "embedding",
        q_vec, k=6, lam=0.7, argmax_round=6,
    )
    return out.select(
        "round",
        "id",
        round_col(F.col("rel"), 6).alias("rel"),
        round_col(F.col("mmr"), 6).alias("mmr"),
    )



def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (llmops.lm.dsir_select, Xie et al. 2023):
    importance log-weight = bigram log-likelihood under a target LM
    (docs with doc_id % 7 == 0) minus under the raw-pool LM, scored in
    ONE explode pass with four broadcast count-table joins; selection is
    deterministic Gumbel-top-k (md5-bucket noise), so the sampled-
    without-replacement draw is reproducible and SQL-replayable."""
    from seafan_spark.llmops.lm import dsir_select

    d = _pipe(spark, sf_dir, "documents").df
    target = d.filter(F.col("doc_id") % 7 == 0)
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    out = dsir_select(corpus, target, "doc_id", "text", k=50, salt="dsir")
    return out.select(
        "doc_id",
        "n_bigrams",
        round_col(F.col("log_w"), 6).alias("log_w"),
        round_col(F.col("sel_key"), 6).alias("sel_key"),
    )



def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (llmops.text.redact_pii_col): plants a per-doc
    email + SSN + IPv4 deterministically, then redacts all four PII
    kinds via sequential JVM regexp_replace (patterns restricted to
    Java/RE2-shared syntax); the DuckDB twin replays the plant and the
    same nested replacement order, so the full redacted text
    hash-checks."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents")
    planted = p.df.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.concat(
                F.lit("user"), F.col("doc_id").cast("string"), F.lit("@mail.com")
            ),
            F.lit("ssn 123-45-6789 ip 10.0.0.1"),
        ).alias("t"),
    )
    return planted.select(
        "doc_id", tx.redact_pii_col(F.col("t")).alias("text_redacted")
    )



def q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly scores (temporal.seasonal_residuals):
    per-event deviation from its (event_type, hour-of-week) baseline.
    The 168-cell-per-key profile BROADCASTS; scoring is one broadcast
    hash join + Column arithmetic — the event stream never shuffles."""
    from seafan_spark.temporal import seasonal_residuals

    ev = _pipe(spark, sf_dir, "events").df
    out = seasonal_residuals(ev, ["event_type"], "ts", "value")
    return out.select(
        "event_id",
        "event_type",
        "bucket",
        round_col(F.col("resid"), 6).alias("resid"),
        round_col(F.col("resid_z"), 6).alias("resid_z"),
    )


def q_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA over the embedding corpus (similarity.pca_fit/pca_project):
    ONE mapInPandas pass emits a partial Gram per Arrow batch, the
    driver eigendecomposes d x d, and the projection is pure JVM
    zip_with/aggregate arithmetic with the model as array literals.
    Eigendecomposition has no SQL twin — rows-only; numpy parity and
    the deterministic sign convention are pytest-proven."""
    from seafan_spark.llmops.similarity import pca_fit, pca_project

    emb = _pipe(spark, sf_dir, "embeddings").df
    model = pca_fit(emb, "embedding", k=4)
    out = pca_project(emb, "embedding", model, out_col="p")
    return out.select(
        "vec_id",
        round_col(F.col("p")[0], 6).alias("p0"),
        round_col(F.col("p")[1], 6).alias("p1"),
        round_col(F.col("p")[2], 6).alias("p2"),
        round_col(F.col("p")[3], 6).alias("p3"),
    )



def q_pca_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of PCA, oracled (similarity.pca_moments):
    (i, j, n, mean_i, mean_j, gram) per Gram cell — the Arrow batch
    partials and the JVM tree reduction (zip_with sums into 32 buckets,
    then one global row) are exactly what can silently break at scale,
    so they hash-check against DuckDB's SUM(v[i]*v[j]) over unnested
    embeddings; only the driver-side d x d eigh stays under its numpy
    pytest (q_pca)."""
    from seafan_spark.llmops.similarity import pca_moments

    emb = _pipe(spark, sf_dir, "embeddings").df
    return pca_moments(emb, "embedding")


def q_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / IPF reweighting (sampling.rake_cells, Deming &
    Stephan 1940): rake the (event_type, day-of-week) contingency cells
    to uniform marginals in 3 sweeps. One corpus groupBy down to the
    tiny cell table, deterministic driver-side IPF in sorted cell
    order, re-attach by broadcast join (rake_weights). The DuckDB twin
    unrolls the 6 update stages with identical association order."""
    from seafan_spark.sampling import rake_cells

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    )
    targets = {
        "event_type": {
            t: 0.2 for t in ["click", "error", "purchase", "signup", "view"]
        },
        "dow": {i: 1 / 7 for i in range(7)},
    }
    cells = rake_cells(d, targets, iters=3)
    return cells.select(
        "event_type",
        "dow",
        "n",
        round_col(F.col("w"), 6).alias("w"),
        round_col(F.col("factor"), 6).alias("factor"),
    )



def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned isotonic calibration (diags.isotonic_calibrate, Zadrozny &
    Elkan 2002): purchase propensity vs the event value score, PAV over
    20 exact-quantile bins. Corpus cost = distributed quantile edges +
    one groupBy to bins; the pooling runs driver-side on the tiny bin
    relation. The DuckDB twin evaluates the same PAV fit through
    its minimax closed form iso(i) = max_{j<=i} min_{k>=i} wmean(j..k)
    over the <=20-bin cell relation (plus reference-PAV parity
    pytest)."""
    from seafan_spark.diags import isotonic_calibrate

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        (F.col("value") / 500.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return isotonic_calibrate(d, "score", "label", bins=20)



def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the order->part bipartite graph (graph.pagerank):
    3 power iterations, damping 0.85 — each iteration one equi-join of
    the node-sized rank relation onto the checkpointed edge list plus a
    groupBy; ranks scaled by N so the 6-dp hash check is meaningful.
    The DuckDB twin unrolls the 3 iterations with identical
    association."""
    from seafan_spark.graph import pagerank

    li = _pipe(spark, sf_dir, "lineitem").df
    edges = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    # pagerank already returns its ranks eagerly checkpointed (graph.py
    # materializes `final` to free the loop intermediates), so count()
    # and the final collect both read those blocks — a second checkpoint
    # here was a redundant full copy + one extra driver job
    ranks = pagerank(edges, iters=3, damping=0.85, dangling="drop")
    import math

    # scale by pi*N, not N: with damping 17/20 and integer degrees the
    # N-scaled ranks live on a 2-5-smooth rational grid, parking many
    # values EXACTLY on 6-dp rounding half-boundaries where 1-ulp
    # cross-engine sum-order noise flips the rounded digit (6/16743
    # rows measured). The irrational factor moves the grid off every
    # decimal boundary; the oracle applies the same PI() * n factor.
    n_pi = F.lit(float(ranks.count()) * math.pi)
    return ranks.select(
        "node", round_col(F.col("rank") * n_pi, 6).alias("rank_n")
    )



def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus stats over planted URLs (llmops.text.url_*_col:
    Java/RE2-shared regexp extraction — scheme-authority parse, userinfo
    /port stripping, last-two-label registered-domain heuristic). The
    CCNet-style grouping key for per-domain curation decisions; one
    groupBy over the vocabulary-of-domains."""
    from seafan_spark.llmops import text as tx

    p = _pipe(spark, sf_dir, "documents")
    planted = p.df.select(
        "doc_id",
        F.concat(
            F.lit("https://user:pw@www.site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".com:8443/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=1"),
        ).alias("url"),
    )
    parts = planted.select(
        "doc_id",
        tx.url_host_col(F.col("url")).alias("host"),
        tx.url_domain_col(F.col("url")).alias("domain"),
        tx.url_path_col(F.col("url")).alias("path"),
    )
    return parts.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("host")).alias("n_hosts"),
        F.min("path").alias("first_path"),
    )



def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-domain perplexity bucketing (Wenzek et al. 2020):
    score every document with the self-trained bigram LM
    (llmops.lm.lm_score_docs) and split EACH source into head/middle/
    tail terciles by score — the per-domain quality decision that
    avoids a single global threshold. NTILE over (source) partitions of
    the ROUND-6 score with doc_id tiebreak, so the bucketing is
    cross-engine deterministic."""
    from pyspark.sql import Window

    from seafan_spark.llmops.lm import lm_score_docs

    p = _pipe(spark, sf_dir, "documents")
    scored = lm_score_docs(p.df, "doc_id", "text")
    d = p.df.select("doc_id", "source").join(scored, "doc_id")
    w = Window.partitionBy("source").orderBy(
        round_col(F.col("avg_logprob"), 6).desc(), F.col("doc_id").asc()
    )
    return d.select(
        "doc_id",
        "source",
        F.col("n_bigrams"),
        round_col(F.col("avg_logprob"), 6).alias("avg_logprob"),
        F.ntile(3).over(w).alias("ppl_bucket"),
    )



def q_hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document vectors (llmops.text.hashed_doc_vectors,
    Weinberger et al. 2009) in portable md5 mode: token -> signed
    bucket, per-doc L2-normalized — the model-free text->vector bridge
    into the ANN/PCA/k-center stack. One explode->groupBy with
    map-side combine; the norm windows over per-doc bucket rows. The
    DuckDB twin replays bucket, sign, sums and normalization
    digit-for-digit (xxhash64 is the production default)."""
    from seafan_spark.llmops.text import hashed_doc_vectors

    p = _pipe(spark, sf_dir, "documents")
    out = hashed_doc_vectors(p, "doc_id", "text", dim=64, portable=True)
    return out.select(
        "doc_id", "bucket", round_col(F.col("weight"), 6).alias("weight")
    )



def q_profile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile drift gate (agg.profile_diff): compare the column census
    of two snapshot shapes of `orders` — a dropped column, an added
    one, a dtype change, and a null-rate jump — every status exercised.
    The diff is arithmetic over two kilobyte profile relations (one
    full-outer join); the DuckDB twin replays both profiles and the
    threshold CASE."""
    from seafan_spark.agg import profile_diff, profile_table

    d = _pipe(spark, sf_dir, "orders").df
    old = d.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice",
    )
    new = d.select(
        "o_orderkey",
        F.col("o_custkey").cast("string").alias("o_custkey"),
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 4 != 0, F.col("o_totalprice")).alias(
            "o_totalprice"
        ),
        (F.col("o_orderkey") % 2).cast("int").alias("o_flag"),
    )
    return profile_diff(
        profile_table(old, exact_distinct=True),
        profile_table(new, exact_distinct=True),
    )



def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (quality.benford_report) on
    l_extendedprice per returnflag: leading digit extracted with pure
    double arithmetic (floor(x/10^floor(log10 x)) — no string
    formatting), one (flag, digit) groupBy, chi-square vs the Benford
    expectation as window sums over the 9-row-per-group relation."""
    from seafan_spark.quality import benford_report

    li = _pipe(spark, sf_dir, "lineitem").df
    return benford_report(li, "l_extendedprice", keys=["l_returnflag"])


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration (agg.gini_by) of l_extendedprice per
    returnflag — the domain-domination screen next to entropy_by.
    Keyed-window rank (groups sort independently) + one moment
    aggregation; tie-invariant, so no cross-engine tiebreak needed."""
    from seafan_spark.agg import gini_by

    li = _pipe(spark, sf_dir, "lineitem")
    return gini_by(li, "l_extendedprice", keys=["l_returnflag"])



def q_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for the per-event-type mean value
    (sampling.bootstrap_ci, Chamandy et al. 2012): 60 replicates in
    md5-portable oracle mode (xxhash64 is the production default),
    Poisson(1) weights drawn from md5 buckets through a PRE-COMPUTED
    CDF ladder (identical literals both engines — no libm in the row
    path); map-side partial agg collapses the replicate explosion to
    |groups| x 100 moment rows."""
    from seafan_spark.sampling import bootstrap_ci

    # oracle-parity md5 mode pays ~1.5us per (row, replicate) hash; the
    # deterministic one-third subset keeps the hash-check just as strong
    # at a third of the cost (production = portable=False on the full
    # corpus: native xxhash64, no strings)
    ev = _pipe(spark, sf_dir, "events").df.filter(F.col("user_id") % 3 == 0)
    return bootstrap_ci(
        ev, "value", keys=["event_type"], replicates=60, id_col="event_id",
        portable=True,
    )



def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (agg.cuped_adjust, Deng et al. WSDM
    2013): per-user pre-period value (days 1-10) adjusts the experiment
    metric (days 11+), variant = user_id % 2. theta pools across
    variants from ONE moment aggregation broadcast back; the adjusted
    metric is pure Column arithmetic rolled up per variant."""
    from seafan_spark.agg import cuped_adjust

    ev = _pipe(spark, sf_dir, "events").df
    cutoff = F.lit("2024-01-11").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cutoff, F.col("value")).otherwise(F.lit(0.0))).alias("x"),
        F.sum(F.when(F.col("ts") >= cutoff, F.col("value")).otherwise(F.lit(0.0))).alias("y"),
    )
    d = per_user.withColumn("variant", (F.col("user_id") % 2).cast("int"))
    return cuped_adjust(d, "y", "x", "variant").orderBy("variant")



def q_prop_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (agg.prop_test_by): high-value event rate
    between the two event_id parities — one (variant) aggregation,
    two-row pivot, pooled-variance z. Exact z is hash-checked; the
    significance boolean uses the 1.96 threshold (a p-value would
    need erf, whose libm rounding differs across engines)."""
    from seafan_spark.agg import prop_test_by

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        (F.col("event_id") % 2).cast("int").alias("variant"),
        (F.col("value") > 300.0).cast("int").alias("conv"),
    )
    return prop_test_by(d, "conv", "variant")


def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U / Wilcoxon rank-sum per event_type
    (agg.mannwhitney_by): tie-corrected midrank z between user-id
    parities — the nonparametric complement to ttest for skewed
    metrics. Midranks from a keyed window (groups sort independently);
    the tie term aggregates (t^2 - 1) per row = sum(t^3 - t) over tie
    groups."""
    from seafan_spark.agg import mannwhitney_by

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("variant"),
        "value",
    )
    return mannwhitney_by(d, "value", "variant", keys=["event_type"]).orderBy(
        "event_type"
    )



def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extendedprice per
    returnflag (agg.spearman_by): midranks from keyed windows (exact
    tie handling), then the ols_by five-moment association — Pearson
    on ranks, hash-checked to 6 dp."""
    from seafan_spark.agg import spearman_by

    li = _pipe(spark, sf_dir, "lineitem")
    return spearman_by(
        li, "l_quantity", "l_extendedprice", keys=["l_returnflag"]
    ).orderBy("l_returnflag")



def q_template_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source templating score: the share of a source's lines that
    are corpus-common boilerplate (drop_common_lines stats rolled up by
    source) — the curation signal that flags mirror/template domains
    for heavier dedup. Reuses the dedup_lines machinery; one extra
    vocabulary-of-sources aggregation."""
    from seafan_spark.llmops.dedup import drop_common_lines

    p = _pipe(spark, sf_dir, "documents")
    d = p.df.select(
        "doc_id",
        "source",
        F.regexp_replace("text", r"(\S+ \S+ \S+) ", "$1\n").alias("text"),
    )
    out = drop_common_lines(p._derive(d), "doc_id", "text", sep="\n", min_ratio=0.0002)
    return (
        out.df.groupBy("source")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_dropped").alias("n_boiler"),
        )
        .select(
            "source",
            "n_lines",
            "n_boiler",
            round_col(
                F.col("n_boiler").cast("double") / F.col("n_lines"), 6
            ).alias("boiler_share"),
        )
    )



def q_trimmed_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central tendency per returnflag: exact 10% trimmed mean
    (agg.trimmed_mean_by — keyed percent_rank window, ties kept or
    dropped together) joined with the deterministic mode of the
    quantity column (agg.mode_by — smallest-value tiebreak, unlike
    Spark's arbitrary F.mode)."""
    from seafan_spark.agg import mode_by, trimmed_mean_by

    li = _pipe(spark, sf_dir, "lineitem")
    tm = trimmed_mean_by(li, "l_extendedprice", ["l_returnflag"], alpha=0.1)
    md = mode_by(li, "l_quantity", ["l_returnflag"])
    return tm.join(md, "l_returnflag").orderBy("l_returnflag")


# Ordering contract: the correctness driver windows the FIRST 50 entries, so
# (1) oracled queries that have never had a driver row come first, (2) then
# oracled queries whose implementation changed recently, (3) then stable
# oracled queries already driver-green, (4) rows-only queries (no SQL twin:
# iterative/optimizer outputs) last. Round 7: the three new oracled queries
# (bm25 / ann_pq_adc / glm_moments) enter at the head; the round-7 code
# changes pull their oracled queries into the window (gini's ungrouped-path
# rewrite, prop_test/mannwhitney NULL-variant guards, trimmed_mode's mode_by
# empty fix, kcenter/mmr argmax_round, minhash_clusters max_iter guard);
# cms / token_divergence / rrf / anova, driver-green in r06 and untouched
# this round, rotate below the marker to make room.
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding (encode.target_encode): encode `source`
    by P(lang='en'), plain and leave-one-out. One categorical-cardinality
    groupBy broadcast-joined back + a 1-row prior cross-join; with the
    integral 0/1 target every sum is exact and every division a single
    IEEE op, so encodings are bit-identical cross-engine (no rounding
    needed; 6 dp applied for symmetry with the twin)."""
    from seafan_spark.encode import target_encode

    p = _pipe(spark, sf_dir, "documents")
    p = p._derive(
        p.df.withColumn(
            "y", F.when(F.col("lang") == "en", 1).otherwise(0).cast("double")
        )
    )
    p = target_encode(p, "source", "y", name="te", smoothing=20.0)
    p = target_encode(p, "source", "y", name="te_loo", smoothing=20.0, out_of_fold=True)
    return p.df.select(
        "doc_id",
        "source",
        round_col("te", 6).alias("te"),
        round_col("te_loo", 6).alias("te_loo"),
    ).orderBy("doc_id")


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ROC AUC (diags.auc_by): l_discount scored against the
    return outcome per linestatus. l_discount has ~11 distinct values, so
    virtually every row is tied — the midrank convention (rank +
    (ties-1)/2, the Mann-Whitney identity) is what's actually being
    hash-checked. Midranks are multiples of 0.5, so every rank-sum is
    exact in doubles and the statistic is bit-identical cross-engine."""
    from seafan_spark.diags import auc_by

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.withColumn(
        "y", F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    )
    out = auc_by(d, "l_discount", "y", keys=["l_linestatus"])
    return out.select(
        "l_linestatus",
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        "auc",
    ).orderBy("l_linestatus")


def q_auc_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped ROC AUC (diags.auc_by, keys=()): the midrank comes from
    the distributed-rank machinery (_global_midrank: range repartition +
    per-partition rank + driver offsets), never a corpus-sized
    single-task window — this query pins that path against the oracle's
    window-function rank."""
    from seafan_spark.diags import auc_by

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.withColumn(
        "y", F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    )
    out = auc_by(d, "l_extendedprice", "y", keys=())
    return out.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        "auc",
    )


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival table (temporal.survival_km): per-user
    time-to-first-purchase study over the events stream — duration =
    days from the user's first event to their first purchase, or to
    their last event if they never purchased (right-censored), three
    user-id cohorts. One map-side-partial groupBy collapses to the
    (cohort, distinct duration) relation; cohort-partitioned windows
    compute at-risk counts and the running product (exp-sum-log, zero
    short-circuit). Survival rounded to 6 dp (exp/ln last-ulp
    cross-engine noise)."""
    from seafan_spark.temporal import survival_km

    ev = _pipe(spark, sf_dir, "events").df
    first_buy = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(F.coalesce(first_buy, F.max("ts"))), F.to_date(F.min("ts"))
        ).alias("dur"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("e"),
    )
    subj = subj.withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    out = survival_km(subj, "dur", "e", keys=["cohort"])
    return out.select(
        "cohort",
        F.col("t").cast("double").alias("t"),
        "n_risk",
        "n_event",
        "n_censor",
        round_col("survival", 6).alias("survival"),
        round_col("cumhaz", 6).alias("cumhaz"),
    ).orderBy("cohort", "t")


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (multimodal.phash_signatures ->
    phash_hamming_pairs): fabricate opaque payloads shared within each
    doc-id triple (an 'image corpus' stand-in: the fake decoder is
    md5-derived, so distinct payloads hash to far-apart signatures and
    only planted structure is near), perturb each triple's 2nd/3rd
    member by 1/3 signature bits, and return pairs within hamming 2 —
    the (0,2) pair at distance 3 must be FILTERED while (0,1) at 1 and
    (1,2) at 2 survive, so the exact-verification stage is load-bearing.
    Candidates come from the 4-word pigeonhole equi-join (recall 1.0 for
    hamming <= 3); the twin replays md5-hex words, the same perturbation,
    and a 4-way word-equality union join."""
    from seafan_spark.llmops.multimodal import phash_hamming_pairs, phash_signatures

    docs = _pipe(spark, sf_dir, "documents").df.select("doc_id")
    imgs = docs.select(
        "doc_id",
        F.concat(
            F.lit("IMG:"), F.expr("CAST(doc_id DIV 3 AS STRING)")
        ).cast("binary").alias("img"),
    )
    sig = phash_signatures(imgs, "doc_id", "img", decoder="fake")
    pert = sig.withColumn(
        "w0",
        F.col("w0").bitwiseXOR(
            F.when(F.col("doc_id") % 3 == 1, 1)
            .when(F.col("doc_id") % 3 == 2, 7)
            .otherwise(0)
        ),
    )
    out = phash_hamming_pairs(pert, "doc_id", max_hamming=2)
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "hamming",
    ).orderBy("id_a", "id_b")


def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped average precision (diags.average_precision_by): the
    step-interpolated PR-AUC of l_discount against the return outcome
    per linestatus — the same fixture as q_auc so the two ranking
    metrics are directly comparable. The curve steps between the ~11
    distinct discount values; cumulative TP/FP are keys-partitioned
    windows over that collapsed relation."""
    from seafan_spark.diags import average_precision_by

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.withColumn(
        "y", F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    )
    out = average_precision_by(d, "l_discount", "y", keys=["l_linestatus"])
    return out.select("l_linestatus", "n_pos", "n_neg", "ap").orderBy(
        "l_linestatus"
    )


def q_average_precision_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped average precision (diags.average_precision_by, keys=()):
    cumulative TP/FP over the distinct-score relation come from
    rank.attach_running_ops (range repartition + driver carry-ins) —
    this query pins that distributed running-sum path against the
    oracle's ordered window."""
    from seafan_spark.diags import average_precision_by

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.withColumn(
        "y", F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    )
    return average_precision_by(d, "l_extendedprice", "y", keys=())


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift change-point (temporal.cusum_changepoint) over
    daily event counts per event type: one map-side-partial groupBy
    collapses the stream to the (type, day) relation, keyed windows
    compute the centered running sum, and the reported change-point is
    the 6-dp-rounded argmax (earliest-day tiebreak) so a last-ulp
    cross-engine difference cannot flip the pick. Integer daily counts
    make the mean and every centered term exact; only stddev (which the
    argmax never touches) carries engine noise, absorbed by rounding."""
    from seafan_spark.temporal import cusum_changepoint

    ev = _pipe(spark, sf_dir, "events").df
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    out = cusum_changepoint(daily, "day", "cnt", keys=["event_type"])
    return out.select(
        "event_type", "n", F.col("t_star").cast("date").alias("t_star"),
        "s_max", "stat"
    ).orderBy("event_type")


def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (agg.fdr_bh) over a per-(lang,
    source) hypothesis relation, grouped by lang (each language is its
    own test family). The p fixture is md5-derived arithmetic shared
    verbatim with the twin (integer mod + one division — bit-exact), so
    what's hash-checked is the BH machinery: per-family rank, the
    p*m/rank schedule, and the reverse cumulative min. ``rank`` is
    excluded from the output because tied p make the rank permutation
    engine-dependent while p_adj/rejected stay identical (the documented
    tie contract)."""
    from seafan_spark.agg import fdr_bh

    docs = _pipe(spark, sf_dir, "documents").df
    tests = docs.select("lang", "source").distinct()
    p = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("source"), F.lit(":"), F.col("lang"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % 997
            + 1
        ).cast("double")
        / 1000.0
    )
    rel = tests.withColumn("p", p)
    out = fdr_bh(rel, "p", keys=["lang"], alpha=0.05)
    return out.select(
        "lang",
        "source",
        round_col("p", 6).alias("p"),
        round_col("p_adj", 6).alias("p_adj"),
        "rejected",
    ).orderBy("lang", "source")


def q_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score + Murphy reliability/resolution decomposition
    (diags.brier_decomposition): l_discount*5 as the forecast
    probability of the return outcome, 10 equal-width bins. One
    map-side-partial groupBy to the 10-row bin relation carrying
    closed-form per-bin sums, then one scalar aggregation — the
    within_bin column closes the identity exactly."""
    from seafan_spark.diags import brier_decomposition

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.select(
        (F.col("l_discount") * 5.0).alias("prob"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    )
    return brier_decomposition(d, "prob", "y", bins=10)


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (quality.l_diversity): quasi-identifier =
    (source, n_chars mod 5), sensitive attribute = lang, l = 3 — the
    k_anonymity companion: a class every member of which shares one
    language leaks it. Two map-side-combining groupBys (combination
    relation, then class relation) + one scalar aggregation."""
    from seafan_spark.quality import l_diversity

    docs = _pipe(spark, sf_dir, "documents").df.select(
        "source", (F.col("n_chars") % 5).cast("int").alias("qi2"), "lang"
    )
    return l_diversity(docs, ["source", "qi2"], "lang", l=3)


def q_ks_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped distributed two-sample KS (diags.ks_by): l_extendedprice
    split by the return outcome per linestatus — the reference's
    flagship diagnostic as a relation instead of a driver-side
    histogram fold (the shape a thousand-segment fairness scan needs).
    Every CDF term is a ratio of exact integer counts over the
    <= bins-row-per-group cell relation, so the statistic is
    deterministic cross-engine."""
    from seafan_spark.diags import ks_by

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.withColumn(
        "y", F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    )
    out = ks_by(d, "l_extendedprice", "y", keys=["l_linestatus"], bins=1000)
    return out.select("l_linestatus", "n_pos", "n_neg", "ks").orderBy(
        "l_linestatus"
    )


def q_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (temporal.logrank_test): does
    time-to-first-purchase differ between even/odd user-id arms, per
    cohort — the inference companion to q_survival_km over the same
    collapsed distinct-duration relation. Every E/V term is a ratio of
    exact integer counts from keyed windows; only the final double sums
    carry engine noise, absorbed by 6-dp rounding."""
    from seafan_spark.temporal import logrank_test

    ev = _pipe(spark, sf_dir, "events").df
    first_buy = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(F.coalesce(first_buy, F.max("ts"))), F.to_date(F.min("ts"))
        ).alias("dur"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("e"),
    )
    subj = subj.withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    subj = subj.withColumn("arm", (F.col("user_id") % 2).cast("int"))
    out = logrank_test(subj, "dur", "e", "arm", keys=["cohort"])
    return out.select(
        "cohort", "n0", "n1", "observed1", "expected1", "chi2", "significant"
    ).orderBy("cohort")


def q_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction intervals (diags.conformal_interval):
    wrap a deliberately crude price predictor (1000 * quantity) in
    distribution-free 90% bands. The calibration half is an md5-keyed
    deterministic split shared verbatim with the twin; q is the exact
    conformal order statistic (k = ceil((n+1)*0.9)-th smallest absolute
    residual) fetched through the distributed-rank machinery — no
    global sort, no interpolation, cross-engine identical. Output: the
    non-calibration rows' bands (top 2000 by key for a bounded result)."""
    from seafan_spark.diags import conformal_interval

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        (F.col("l_quantity") * 1000.0).alias("pred"),
        F.col("l_extendedprice").alias("actual"),
    )
    out = conformal_interval(d, "pred", "actual", "rid", alpha=0.1)
    return (
        out.filter(~F.col("is_calibration"))
        .select(
            "rid",
            round_col("conf_lo", 6).alias("conf_lo"),
            round_col("conf_hi", 6).alias("conf_hi"),
            (
                (F.col("actual") >= F.col("conf_lo"))
                & (F.col("actual") <= F.col("conf_hi"))
            ).alias("covered"),
        )
        .orderBy("rid")
        .limit(2000)
    )


def q_logrank_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan-Breslow-Wilcoxon weighted log-rank (temporal.logrank_test
    weights='wilcoxon'): the early-difference-sensitive family member,
    same arms/cohorts fixture as q_logrank — w_t = n_t multiplies the
    O-E terms and squares into the variance."""
    from seafan_spark.temporal import logrank_test

    ev = _pipe(spark, sf_dir, "events").df
    first_buy = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(F.coalesce(first_buy, F.max("ts"))), F.to_date(F.min("ts"))
        ).alias("dur"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("e"),
    )
    subj = subj.withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    subj = subj.withColumn("arm", (F.col("user_id") % 2).cast("int"))
    out = logrank_test(subj, "dur", "e", "arm", keys=["cohort"], weights="wilcoxon")
    return out.select(
        "cohort", "n0", "n1", "observed1", "expected1", "chi2", "significant"
    ).orderBy("cohort")


def q_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value imputation (encode.impute): plant NULLs on a copy
    of l_quantity (every 7th order) and l_returnflag (every 11th), then
    repair — quantity by per-linestatus MEAN (integral values, so the
    group means are exact single divisions), returnflag by per-
    linestatus MODE (smallest-value tiebreak). Statistics are
    categorical-cardinality relations broadcast back; the corpus
    shuffles once per statistic."""
    from seafan_spark.encode import impute

    p = _pipe(spark, sf_dir, "lineitem")
    d = p.df.select(
        "l_orderkey",
        "l_linenumber",
        "l_linestatus",
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("qty"),
        F.when(F.col("l_orderkey") % 11 == 0, None)
        .otherwise(F.col("l_returnflag"))
        .alias("rf"),
    )
    p2 = p._derive(d)
    p2 = impute(p2, "qty", strategy="mean", keys=["l_linestatus"], name="qty_imp")
    p2 = impute(p2, "rf", strategy="mode", keys=["l_linestatus"], name="rf_imp")
    return p2.df.select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        round_col("qty_imp", 6).alias("qty_imp"),
        "rf_imp",
    ).orderBy("l_orderkey", "l_linenumber")


def _cox_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Cox fixture: per-user time-to-first-purchase with two
    deterministic covariates (arm = user_id % 2, x2 = (user_id % 5)/4)."""
    ev = _pipe(spark, sf_dir, "events").df
    first_buy = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(F.coalesce(first_buy, F.max("ts"))), F.to_date(F.min("ts"))
        ).alias("dur"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("e"),
    )
    return subj.select(
        "user_id",
        F.col("dur").cast("double").alias("dur"),
        "e",
        (F.col("user_id") % 2).cast("double").alias("arm"),
        ((F.col("user_id") % 5) / 4.0).alias("x2"),
    )


def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional hazards (temporal.cox_ph): fit hazard ratios for
    the two covariates on the time-to-first-purchase study. Iterative
    Newton-Raphson (driver-side p x p solve per step over ONE collected
    gradient/Hessian row) — rows-only; the distributed per-iteration
    relation is hash-checked by q_cox_moments at a pinned dyadic beta."""
    from seafan_spark.temporal import cox_ph

    subj = _cox_subjects(spark, sf_dir)
    res = cox_ph(subj, "dur", "e", ["arm", "x2"])
    rows = [
        (r["name"], round(r["beta"], 6), round(r["hr"], 6), round(r["se"], 6))
        for r in res
    ]
    return _local_frame(spark, rows, "name string, beta double, hr double, se double")


def q_cox_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cox fit's distributed half, hash-checked (the glm_moments /
    nn_forward pattern): at the PINNED dyadic beta = (0.5, -0.25), one
    Newton iteration's event-time relation — per distinct duration the
    risk-set suffix sums S0/S1 (exp terms summed in descending-time
    window order, deterministic accumulation) and the per-time gradient
    terms d_x - d * S1/S0. Everything cox_ph computes per iteration
    except the driver-side p x p solve; exp is the only libm call and
    its 1-ulp noise is absorbed by 6-dp rounding."""
    subj = _cox_subjects(spark, sf_dir)
    s = F.exp(F.lit(0.5) * F.col("arm") + F.lit(-0.25) * F.col("x2"))
    g = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum(s).alias("_s0"),
        F.sum(s * F.col("arm")).alias("_s1a"),
        F.sum(s * F.col("x2")).alias("_s1b"),
        F.sum("e").alias("d"),
        F.sum(F.col("e") * F.col("arm")).alias("_dxa"),
        F.sum(F.col("e") * F.col("x2")).alias("_dxb"),
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(F.lit(0))
        .orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    g = g.select(
        "t",
        "d",
        "_dxa",
        "_dxb",
        F.sum("_s0").over(w).alias("S0"),
        F.sum("_s1a").over(w).alias("S1a"),
        F.sum("_s1b").over(w).alias("S1b"),
    ).filter(F.col("d") > 0)
    return g.select(
        F.col("t").cast("double").alias("t"),
        F.col("d").cast("bigint").alias("d"),
        round_col("S0", 6).alias("s0"),
        round_col("S1a", 6).alias("s1a"),
        round_col("S1b", 6).alias("s1b"),
        round_col(
            F.col("_dxa") - F.col("d") * F.col("S1a") / F.col("S0"), 6
        ).alias("grad_a"),
        round_col(
            F.col("_dxb") - F.col("d") * F.col("S1b") / F.col("S0"), 6
        ).alias("grad_b"),
    ).orderBy("t")


def q_cox_moments_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED Cox fit's distributed half, hash-checked (round-8
    VERDICT #8 — temporal.cox_ph with keys=): at PINNED per-cohort
    dyadic betas (beta_arm = 0.5 − 0.25·cohort, beta_x2 = −0.25 +
    0.125·cohort — the broadcast beta relation each keyed iteration
    joins in), one Newton iteration's event-time relation per cohort:
    duration collapse groupBy(cohort, t), risk-set suffix sums S0/S1
    over cohort-PARTITIONED descending-time windows, per-time gradient
    terms d_x − d·S1/S0. Exactly what _cox_ph_keyed computes per
    iteration except the batched driver-side p x p solves; exp noise
    absorbed by 6-dp rounding."""
    from pyspark.sql import Window as W

    subj = _cox_subjects(spark, sf_dir).withColumn(
        "cohort", (F.col("user_id") % 3).cast("int")
    )
    ba = F.lit(0.5) - F.lit(0.25) * F.col("cohort")
    bb = F.lit(-0.25) + F.lit(0.125) * F.col("cohort")
    s = F.exp(ba * F.col("arm") + bb * F.col("x2"))
    g = subj.groupBy("cohort", F.col("dur").alias("t")).agg(
        F.sum(s).alias("_s0"),
        F.sum(s * F.col("arm")).alias("_s1a"),
        F.sum(s * F.col("x2")).alias("_s1b"),
        F.sum("e").alias("d"),
        F.sum(F.col("e") * F.col("arm")).alias("_dxa"),
        F.sum(F.col("e") * F.col("x2")).alias("_dxb"),
    )
    w = (
        W.partitionBy("cohort")
        .orderBy(F.col("t").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    g = g.select(
        "cohort",
        "t",
        "d",
        "_dxa",
        "_dxb",
        F.sum("_s0").over(w).alias("S0"),
        F.sum("_s1a").over(w).alias("S1a"),
        F.sum("_s1b").over(w).alias("S1b"),
    ).filter(F.col("d") > 0)
    return g.select(
        "cohort",
        F.col("t").cast("double").alias("t"),
        F.col("d").cast("bigint").alias("d"),
        round_col("S0", 6).alias("s0"),
        round_col("S1a", 6).alias("s1a"),
        round_col("S1b", 6).alias("s1b"),
        round_col(
            F.col("_dxa") - F.col("d") * F.col("S1a") / F.col("S0"), 6
        ).alias("grad_a"),
        round_col(
            F.col("_dxb") - F.col("d") * F.col("S1b") / F.col("S0"), 6
        ).alias("grad_b"),
    ).orderBy("cohort", "t")


def q_logrank_strat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED log-rank (temporal.logrank_test strata=): one test of
    the even/odd-user arm effect on time-to-first-purchase CONTROLLING
    for cohort (user_id % 3) — risk sets and hypergeometric E/V within
    each cohort, O−E and V pooled across cohorts before the single chi²
    (the standard confounder adjustment; contrast q_logrank, which
    reports a separate test per cohort). Same exact-integer-ratio
    determinism story; 6-dp rounding on the two double sums."""
    from seafan_spark.temporal import logrank_test

    ev = _pipe(spark, sf_dir, "events").df
    first_buy = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    subj = ev.groupBy("user_id").agg(
        F.datediff(
            F.to_date(F.coalesce(first_buy, F.max("ts"))), F.to_date(F.min("ts"))
        ).alias("dur"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("e"),
    )
    subj = subj.withColumn("cohort", (F.col("user_id") % 3).cast("int"))
    subj = subj.withColumn("arm", (F.col("user_id") % 2).cast("int"))
    out = logrank_test(subj, "dur", "e", "arm", strata=["cohort"])
    return out.select(
        "n0", "n1", "observed1", "expected1", "chi2", "significant"
    )


def q_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences ATT (causal.did_estimator) per event
    type: treated = even user ids, post = second half of the event
    window (a pinned calendar split), y = value. One map-side-partial
    groupBy collapses the corpus to the (event_type x arm x period)
    cells; the four means and the ATT are exact sums with single IEEE
    divisions — 6-dp rounded for the hash."""
    from seafan_spark.causal import did_estimator

    ev = _pipe(spark, sf_dir, "events").df
    mid = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    ).collect()[0]
    import datetime as _dt

    cut = mid["d0"] + _dt.timedelta(
        days=(mid["d1"] - mid["d0"]).days // 2
    )
    d = ev.select(
        "event_type",
        ((F.col("user_id") % 2) == 0).cast("int").alias("treated"),
        (F.to_date("ts") > F.lit(cut)).cast("int").alias("post"),
        F.col("value").alias("y"),
    )
    out = did_estimator(d, "treated", "post", "y", keys=["event_type"])
    return out.select(
        "event_type",
        "n_t_pre", "n_t_post", "n_c_pre", "n_c_post",
        round_col("y_t_pre", 6).alias("y_t_pre"),
        round_col("y_t_post", 6).alias("y_t_post"),
        round_col("y_c_pre", 6).alias("y_c_pre"),
        round_col("y_c_post", 6).alias("y_c_post"),
        round_col("att", 6).alias("att"),
    ).orderBy("event_type")


def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hajek IPW average treatment effect (causal.ipw_ate) per event
    type at a PINNED deterministic propensity (e = 0.25 + 0.5*(user_id
    % 7)/6 — the role the driver-oracled GLM fills in production, pinned
    here so the estimator itself is the thing hash-checked): clipped
    weights, one grouped pass of weighted sums, divisions at the end."""
    from seafan_spark.causal import ipw_ate

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        ((F.col("user_id") % 3) == 0).cast("int").alias("treated"),
        F.col("value").alias("y"),
        (F.lit(0.25) + F.lit(0.5) * (F.col("user_id") % 7) / F.lit(6.0)).alias("e"),
    )
    out = ipw_ate(d, "treated", "y", "e", keys=["event_type"])
    return out.select(
        "event_type",
        "n", "n_treated",
        round_col("sum_w1", 6).alias("sum_w1"),
        round_col("sum_w0", 6).alias("sum_w0"),
        round_col("mu1", 6).alias("mu1"),
        round_col("mu0", 6).alias("mu0"),
        round_col("ate", 6).alias("ate"),
    ).orderBy("event_type")


def q_psm_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational 1-nearest-control propensity matching
    (causal.propensity_match): treated = every 5th document, score a
    pinned deterministic hash-free formula ((doc_id*37) % 1000)/1000 —
    duplicate scores ARE present at sf0.1, exercising the total-order
    tie contract (score, controls-first, id) that makes the match
    reproduce in DuckDB's identical windows. Two keyed windows over the
    score-sorted relation, never a pairwise join; caliper 0.005."""
    from seafan_spark.causal import propensity_match

    docs = _pipe(spark, sf_dir, "documents").df
    d = docs.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") % 5) == 0).cast("int").alias("treated"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("s"),
        "lang",
    )
    out = propensity_match(d, "id", "treated", "s", caliper=0.005, keys=["lang"])
    return out.select(
        "lang",
        "treated_id",
        "control_id",
        round_col("treated_score", 6).alias("treated_score"),
        round_col("control_score", 6).alias("control_score"),
        round_col("distance", 6).alias("distance"),
    ).orderBy("lang", "treated_id")


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (temporal.rmst): area under each
    cohort's KM curve up to tau = 20 days — the PH-assumption-free
    effect scale for the time-to-first-purchase study. One lag window +
    one groupBy over survival_km's collapsed distinct-duration relation;
    the twin extends the survival_km SQL with the same step integral
    (UNROUNDED S inside, 6-dp only on the final area)."""
    from seafan_spark.temporal import rmst

    subj = _cox_subjects(spark, sf_dir).withColumn(
        "cohort", (F.col("user_id") % 3).cast("int")
    )
    out = rmst(subj, "dur", "e", tau=20.0, keys=["cohort"])
    return out.select(
        "cohort", "tau", round_col(F.col("rmst"), 6).alias("rmst")
    ).orderBy("cohort")


def q_aipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly robust AIPW ATE (causal.aipw_ate) per event type at
    PINNED deterministic nuisances (propensity e = 0.25 + 0.5*(user_id
    % 7)/6 shared with q_ipw_ate; outcome models mu1 = 50 + 2*(user_id
    % 5), mu0 = 48 + (user_id % 5)) — the estimator itself is the thing
    hash-checked, as with ipw_ate. One grouped pass over the psi
    projection: sum, sum of squares, count."""
    from seafan_spark.causal import aipw_ate

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        ((F.col("user_id") % 3) == 0).cast("int").alias("treated"),
        F.col("value").alias("y"),
        (F.lit(0.25) + F.lit(0.5) * (F.col("user_id") % 7) / F.lit(6.0)).alias("e"),
        (F.lit(50.0) + 2.0 * (F.col("user_id") % 5)).alias("m1"),
        (F.lit(48.0) + (F.col("user_id") % 5)).alias("m0"),
    )
    out = aipw_ate(d, "treated", "y", "e", "m1", "m0", keys=["event_type"])
    return out.select(
        "event_type",
        "n",
        round_col("ate", 6).alias("ate"),
        round_col("se", 6).alias("se"),
    ).orderBy("event_type")


def q_km_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier with Greenwood 95% bands (temporal.km_confidence):
    the survival_km cohorts plus Var(S) = S^2 * sum d/(n(n-d)) as ONE
    extra ordered window over the collapsed relation; z is the exact
    1.959963984540054 literal on both sides (no inverse-normal libm in
    the plan), 6-dp rounding absorbs the exp noise in S."""
    from seafan_spark.temporal import km_confidence

    subj = _cox_subjects(spark, sf_dir).withColumn(
        "cohort", (F.col("user_id") % 3).cast("int")
    )
    out = km_confidence(subj, "dur", "e", keys=["cohort"])
    return out.select(
        "cohort",
        "t",
        "n_risk",
        round_col("survival", 6).alias("survival"),
        round_col("se", 6).alias("se"),
        round_col("ci_lo", 6).alias("ci_lo"),
        round_col("ci_hi", 6).alias("ci_hi"),
    ).orderBy("cohort", "t")


def q_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini/uplift decile curve (causal.uplift_curve) per event type:
    treated = user_id % 3 == 0 (the ipw/aipw assignment), conversion =
    value > 50, score a pinned hash-free formula ((user_id*61) % 1000)
    /1000 with REAL ties at sf0.1 — the standard-SQL NTILE cut over the
    (score DESC, event_id ASC) total order reproduces exactly in
    DuckDB. Cumulative counts are integral and qini is two IEEE ops on
    exact integers: bit-exact, no rounding needed."""
    from seafan_spark.causal import uplift_curve

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        F.col("event_id").alias("id"),
        ((F.col("user_id") % 3) == 0).cast("int").alias("treated"),
        (F.col("value") > 50.0).cast("double").alias("y"),
        (((F.col("user_id") * 61) % 1000) / F.lit(1000.0)).alias("s"),
    )
    out = uplift_curve(d, "treated", "y", "s", "id", n_buckets=10, keys=["event_type"])
    return out.select(
        "event_type", "bucket", "n", "n_t", "n_c",
        F.col("y_t").cast("long").alias("y_t"),
        F.col("y_c").cast("long").alias("y_c"),
        round_col("qini", 6).alias("qini"),
    ).orderBy("event_type", "bucket")


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend + Sen slope (temporal.mann_kendall) over
    daily event counts per event type — the drift monitor next to
    q_cusum's level-shift detector. Day as an exact epoch-day integer,
    so S, the tie term and every pairwise slope are exact arithmetic
    over the B^2-bounded pair relation; Sen's median via keyed rank
    windows (avg of the middle one/two order statistics). 6-dp rounding
    only on var/z/slope."""
    from seafan_spark.temporal import mann_kendall

    ev = _pipe(spark, sf_dir, "events").df
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    daily = daily.withColumn(
        "day_i",
        F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01"))).cast("double"),
    )
    out = mann_kendall(daily, "day_i", "cnt", keys=["event_type"])
    return out.select(
        "event_type", "n", "s",
        round_col("var_s", 6).alias("var_s"),
        round_col("z", 6).alias("z"),
        "trend",
        round_col("sen_slope", 6).alias("sen_slope"),
    ).orderBy("event_type")


def q_qini_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini coefficient (causal.qini_auc): the scalar area between
    q_uplift's curve and the random-targeting diagonal, one row per
    event type — the experimentation battery's model leaderboard
    number. The fold over the 10 segments is a RUNNING sum in bucket
    order (identical left-to-right association in both engines) on top
    of the curve's exact integer counts; the twin mirrors the exact
    expression shape (x = n/n_tot, d = qini − x·qini_total, trapezoid)
    so 6-dp rounding lands identically."""
    from seafan_spark.causal import qini_auc

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        F.col("event_id").alias("id"),
        ((F.col("user_id") % 3) == 0).cast("int").alias("treated"),
        (F.col("value") > 50.0).cast("double").alias("y"),
        (((F.col("user_id") * 61) % 1000) / F.lit(1000.0)).alias("s"),
    )
    out = qini_auc(d, "treated", "y", "s", "id", n_buckets=10, keys=["event_type"])
    return out.select(
        "event_type",
        "n",
        round_col("qini_total", 6).alias("qini_total"),
        round_col("qini_auc", 6).alias("qini_auc"),
    ).orderBy("event_type")


def q_psm_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical greedy without-replacement propensity matching
    (causal.propensity_match_greedy) on q_psm_match's exact cohort —
    the epidemiology variant: best-match-first pair consumption, each
    control used at most once. ROWS-ONLY by design: the greedy order is
    an iterative heap walk with no SQL twin; correctness is pinned by
    tests/test_causal.py (planted-cohort equality with the relational
    with-replacement matcher + without-replacement invariants) and the
    driver's row-count contract."""
    from seafan_spark.causal import propensity_match_greedy

    docs = _pipe(spark, sf_dir, "documents").df
    d = docs.select(
        F.col("doc_id").alias("id"),
        ((F.col("doc_id") % 5) == 0).cast("int").alias("treated"),
        (((F.col("doc_id") * 37) % 1000) / F.lit(1000.0)).alias("s"),
        "lang",
    )
    out = propensity_match_greedy(
        d, "id", "treated", "s", caliper=0.005, keys=["lang"]
    )
    return out.select(
        "lang",
        "treated_id",
        "control_id",
        round_col("treated_score", 6).alias("treated_score"),
        round_col("control_score", 6).alias("control_score"),
        round_col("distance", 6).alias("distance"),
    ).orderBy("lang", "treated_id")


def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discretized Lorenz curve (agg.lorenz_deciles): order totals
    per priority cut into 10 value-ascending NTILE buckets via the
    closed-form rank arithmetic (keyed scan + ntile_from_rank — the
    q_uplift substrate), cumulative value share per bucket. Values are
    exact integer cents; shares are single divisions; bucket/cum value
    emitted unrounded (exact, above the ROUND-lossiness bound)."""
    from seafan_spark.agg import lorenz_deciles

    od = _pipe(spark, sf_dir, "orders").df
    out = lorenz_deciles(
        od, "o_totalprice", "o_orderkey", keys=["o_orderpriority"], n_buckets=10
    )
    return out.select(
        "o_orderpriority", "bucket", "n", "bucket_value", "cum_value",
        round_col("cum_share", 6).alias("cum_share"),
    ).orderBy("o_orderpriority", "bucket")


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (temporal.attribution_touch): first/last/
    linear credit per event type over per-user journeys ordered by
    (ts, event_id). First/last are integer counts; linear credit folds
    EXACTLY via (channel, journey-length) integer cells + an ordered
    running sum over that bounded relation — never a corpus-sized
    double sum, so 6-dp rounding is pure formality."""
    from seafan_spark.temporal import attribution_touch

    ev = _pipe(spark, sf_dir, "events").df
    out = attribution_touch(ev, "user_id", "event_type", "ts", "event_id")
    return out.select(
        "channel", "n_touches", "first_touch", "last_touch",
        round_col("linear", 6).alias("linear"),
    ).orderBy("channel")


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift alarm (temporal.page_hinkley) over daily
    event counts per event type — the sequential-alarm companion to
    q_cusum (retrospective locate) and q_mann_kendall (monotone trend).
    The alarm and argmax read the 6-dp ROUNDED statistic (the cusum
    argmax contract), so a last-ulp windowed-sum difference can never
    flip which day alarms first in either engine; lam=100 fires on the
    denser types and stays quiet on sparse ones."""
    from seafan_spark.temporal import page_hinkley

    ev = _pipe(spark, sf_dir, "events").df
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    out = page_hinkley(
        daily, "day", "cnt", keys=["event_type"], delta=0.0, lam=100.0
    )
    return out.select(
        "event_type", "n",
        F.col("ph_max").alias("ph_max"),
        "t_max", "t_alarm", "detected",
    ).orderBy("event_type")


def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped quantiles (agg.quantiles_by): the value at rank
    max(1, ceil(q*n)) per event type at six probabilities —
    PERCENTILE_DISC semantics, long format. The picked value is data
    (no arithmetic), so rows hash unrounded; the twin replays the same
    rank arithmetic (ROW_NUMBER + CEIL(q*n)), identical IEEE products
    from identical literals."""
    from seafan_spark.agg import quantiles_by

    ev = _pipe(spark, sf_dir, "events").df
    out = quantiles_by(
        ev, "value", qs=(0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
        keys=["event_type"],
    )
    return out.select("event_type", "q", "value", "n").orderBy(
        "event_type", "q"
    )


def q_cluster_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-randomized readout (causal.cluster_ttest): users are the
    randomization clusters (assignment user_id % 3 == 0 is constant per
    user by construction), value the metric, per event type. Units
    collapse to (type, user) means — one map-side-partial groupBy to
    cluster cardinality — then the Welch t over CLUSTER means, in
    ttest_by's association order so the twin bit-matches at 6 dp."""
    from seafan_spark.causal import cluster_ttest

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        F.col("user_id").alias("cluster"),
        ((F.col("user_id") % 3) == 0).cast("int").alias("treated"),
        F.col("value").alias("y"),
    )
    out = cluster_ttest(d, "cluster", "treated", "y", keys=["event_type"])
    return out.select(
        "event_type", "n1", "n0",
        round_col("mean1", 6).alias("mean1"),
        round_col("mean0", 6).alias("mean0"),
        round_col("diff", 6).alias("diff"),
        round_col("t_stat", 6).alias("t_stat"),
        round_col("df", 6).alias("df"),
    ).orderBy("event_type")


def q_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power read-out (causal.power_mde): minimum
    detectable effect on `value` per event type at 50/50 assignment,
    alpha 5% / power 80% with the z's as exact literals (no
    inverse-normal libm). One grouped pass — count / sum / sum of
    squares — then closed form; 6-dp rounded."""
    from seafan_spark.causal import power_mde

    ev = _pipe(spark, sf_dir, "events").df
    out = power_mde(ev.select("event_type", F.col("value").alias("y")), "y",
                    keys=["event_type"])
    return out.select(
        "event_type",
        "n",
        round_col("mean", 6).alias("mean"),
        round_col("var", 6).alias("var"),
        round_col("mde", 6).alias("mde"),
        round_col("mde_rel", 6).alias("mde_rel"),
    ).orderBy("event_type")


def q_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (causal.srm_check) per event type on
    the pinned user_id % 3 == 0 'assignment' against a DELIBERATELY
    wrong 50/50 design — the real split is ~1/3, so every segment
    flags, exercising the detection path on honest data. Exact integer
    counts; the chi2 is a few IEEE ops, 6-dp rounded; the boolean at
    the 3.841 critical value is engine-stable."""
    from seafan_spark.causal import srm_check

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        ((F.col("user_id") % 3) == 0).cast("int").alias("treated"),
    )
    out = srm_check(d, "treated", keys=["event_type"], expected_frac=0.5)
    return out.select(
        "event_type", "n", "n_t", "n_c",
        round_col("expected_t", 6).alias("expected_t"),
        round_col("chi2", 6).alias("chi2"),
        "srm",
    ).orderBy("event_type")





def q_quantiles_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted grouped quantiles (agg.weighted_quantiles_by):
    the value where running l_quantity mass first reaches q of the
    total, per return flag — the importance-weighted sibling of
    q_quantiles_exact. Weights are integer-valued, so every running
    sum is an exact double and the crossing test is permutation-
    invariant under value ties cross-engine; picked values are data,
    hashed unrounded."""
    from seafan_spark.agg import weighted_quantiles_by

    li = _pipe(spark, sf_dir, "lineitem").df
    out = weighted_quantiles_by(
        li, "l_extendedprice", "l_quantity",
        qs=(0.1, 0.5, 0.9, 0.99), keys=["l_returnflag"],
    )
    return out.select(
        "l_returnflag", "q", "value", "n", "w_total"
    ).orderBy("l_returnflag", "q")


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed EWMA (temporal.ewma_by): the per-row recursive
    smoother s_i = 0.2 x_i + 0.8 s_{i-1} over daily event counts per
    type, computed WITHOUT a sequential scan — blocked rescaling for
    the within-block prefix + a banded block self-join for the carry
    (terms older than the double-underflow horizon are exactly zero).
    The DuckDB twin runs the literal recursion (recursive CTE); both
    meet at 6 dp."""
    from seafan_spark.temporal import ewma_by

    ev = _pipe(spark, sf_dir, "events").df
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    out = ewma_by(daily, "day", "cnt", keys=["event_type"], alpha=0.2)
    return out.select("event_type", "day", "cnt", "ewma").orderBy(
        "event_type", "day"
    )


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson lag-1 serial-correlation screen
    (temporal.durbin_watson_by) on demeaned daily event counts per
    type — the scalar companion to q_acf's full curve, same guarded
    collapsed series, one lag window + one map-side-partial groupBy."""
    from pyspark.sql import Window as W

    from seafan_spark.temporal import durbin_watson_by

    ev = _pipe(spark, sf_dir, "events").df
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    d = daily.withColumn(
        "e", F.col("cnt") - F.avg("cnt").over(W.partitionBy("event_type"))
    )
    out = durbin_watson_by(d, "day", "e", keys=["event_type"])
    return out.select("event_type", "n", "dw").orderBy("event_type")


def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test (agg.levene_by): does
    the SPREAD of event value differ across days-of-week, per event
    type? The assumption check q_anova (means across types per dow)
    silently skips. Arm medians via the range-partitioned keyed rank
    scan (no group-sized buffer); the F is anova_by's moment math on
    z = |x - med|.

    The RAW sums of squares are emitted at 2 dp, not 6: ssw reaches
    ~3e7 at sf0.1, where a ~20k-term double sum carries ~1e-6 of
    summation-ORDER noise — measured: DuckDB itself returns two
    different 6th decimals for ssw across identical runs (parallel
    partial-sum order), so a 6-dp hash on the raw sums is a coin flip
    NO engine can stabilize. 1e-6 noise against a 0.01 step is a
    ~1e-4 flip risk instead. The magnitude-~1 ratios (f_stat, eta_sq)
    keep 6 dp — their relative noise is ~1e-13."""
    from seafan_spark.agg import levene_by

    ev = _pipe(spark, sf_dir, "events").df
    d = ev.select(
        "event_type",
        (F.dayofweek("ts")).alias("dow"),
        F.col("value").alias("x"),
    )
    out = levene_by(d, "x", "dow", keys=["event_type"])
    return out.select(
        "event_type", "k", "n",
        round_col("ssb", 2).alias("ssb"),
        round_col("ssw", 2).alias("ssw"),
        round_col("f_stat", 6).alias("f_stat"),
        round_col("eta_sq", 6).alias("eta_sq"),
    ).orderBy("event_type")


def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association matrix (agg.cramers_v_pairs) over the
    three categorical lineitem columns — the categorical corr_matrix.
    ONE fact-table scan: rows explode to (pair, a, b) triples, map-side
    partial aggregation collapses to contingency cells before the only
    shuffle; chi2 uses the zero-cell-safe expansion (no densifying)."""
    from seafan_spark.agg import cramers_v_pairs

    li = _pipe(spark, sf_dir, "lineitem").df
    out = cramers_v_pairs(
        li, ["l_returnflag", "l_linestatus", "l_linenumber"]
    )
    return out.orderBy("col_x", "col_y")


def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation (temporal.acf_by) of daily event counts
    at lags 1-7 per event type — the seasonality diagnostic for the
    page_hinkley/cusum/mann_kendall family, on the same collapsed
    (guarded) daily series. One ordered window pass computes all seven
    lag terms (row offsets, no self-join); biased estimator, constant
    denominator."""
    from seafan_spark.temporal import acf_by

    ev = _pipe(spark, sf_dir, "events").df
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    out = acf_by(daily, "day", "cnt", keys=["event_type"])
    return out.select(
        "event_type", "lag", "n", "n_pairs", "acf"
    ).orderBy("event_type", "lag")


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (quality.t_closeness) completing the
    k_anonymity / l_diversity governance trio on the same documents
    quasi-identifiers: class sensitive-language distribution vs the
    corpus one, EMD = total-variation via the positive-part identity
    (absent cells never materialize), verdicts on the 6-dp ROUNDED
    distance (t=0.4 splits the classes: sf0.01 median TVD 0.376)."""
    from seafan_spark.quality import t_closeness

    docs = _pipe(spark, sf_dir, "documents").df.select(
        "source", (F.col("n_chars") % 5).cast("int").alias("qi2"), "lang"
    )
    return t_closeness(docs, ["source", "qi2"], "lang", t=0.4)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ========== driver 50-entry correctness window (round 10) ==========
    # --- new in round 10 (never driver-checked -> window head) ---
    "lorenz": q_lorenz,
    "attribution": q_attribution,
    "qini_auc": q_qini_auc,
    "page_hinkley": q_page_hinkley,
    "quantiles_exact": q_quantiles_exact,
    "levene": q_levene,
    "cramers_v": q_cramers_v,
    "acf": q_acf,
    "t_closeness": q_t_closeness,
    "ewma": q_ewma,
    "durbin_watson": q_durbin_watson,
    "quantiles_weighted": q_quantiles_weighted,
    "psm_greedy": q_psm_greedy,  # rows-only BY DESIGN (iterative greedy)
    # --- never driver-checked residue (VERDICT #5): cusum oracled since
    # r7 but never rotated in; ann_pq/cox_ph rows-only — included ONCE so
    # the driver log records their row-count contract ---
    "cusum_changepoint": q_cusum,
    "ann_pq": q_ann_pq,
    "cox_ph": q_cox_ph,
    # --- displaced 51-61 block (r04-checked, first in line per r9 plan) ---
    "distinct_sketch": q_distinct_sketch,
    "lm_score": q_lm_score,
    "hist_sketch": q_hist_sketch,
    "embed_incr": q_embed_incr,
    "quality_rules": q_quality_rules,
    "coalesce_logodds": q_coalesce_logodds,
    "minhash_calibration": q_minhash_calibration,
    "hist_quantiles": q_hist_quantiles,
    "psi_drift": q_psi_drift,
    "dedup_reps": q_dedup_reps,
    "source_cap": q_source_cap,
    # --- re-check: operators whose PLAN changed in round 10 (uplift/
    # psm_match range-partition scale-shape; mann_kendall pair budget +
    # tie contract; rmst/km_ci guard memoization; irr_by_bisect) ---
    "uplift": q_uplift,
    "psm_match": q_psm_match,
    "mann_kendall": q_mann_kendall,
    "rmst": q_rmst,
    "km_ci": q_km_ci,
    "irr_by_bisect": q_irr_by_bisect,
    "gini": q_gini,
    # --- r02-checked oracled basics, re-validated (oldest on the board) ---
    "append": q_append,
    "asof": q_asof,
    "contamination": q_contamination,
    "corr_matrix": q_corr_matrix,
    "dedup_exact": q_dedup_exact,
    "distinct_counts": q_distinct_counts,
    "expr_datefns": q_expr_datefns,
    "expr_if": q_expr_if,
    "expr_strfns": q_expr_strfns,
    "join_inner": q_join_inner,
    "pack": q_pack,
    "pii_repetition": q_pii_repetition,
    "pivot": q_pivot,
    "range_join": q_range_join,
    "rollup": q_rollup,
    "salted_agg": q_salted_agg,
    "salted_join": q_salted_join,
    "sample_split": q_sample_split,
    "sessionize": q_sessionize,
    "stream_join": q_stream_join,
    "text_quality_lang": q_text_quality_lang,
    "tfidf": q_tfidf,
    "stream_tumbling": q_stream_tumbling,
    # --- end of the driver's 50-entry correctness window ---
    # (vocab/where_keep/topk/text_stats/text_tokens displaced to 51-55
    # by the round-10 additions — r02-checked, first in line for round
    # 11; then r04 survivors + kruskal/ts_pattern + the round-9 causal/
    # survival family — r09/r04 driver rows are their record)
    "vocab": q_vocab,
    "where_keep": q_where_keep,
    "topk": q_topk,
    "text_stats": q_text_stats,
    "text_tokens": q_text_tokens,
    "tpch_q3": q_tpch_q3,
    "minhash_incr": q_minhash_incr,
    "ann_lsh": q_ann_lsh,
    "multimodal": q_multimodal,
    "embed_neardup": q_embed_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "kruskal": q_kruskal,
    "ts_pattern": q_ts_pattern,
    "cox_moments_keyed": q_cox_moments_keyed,
    "logrank_strat": q_logrank_strat,
    "did": q_did,
    "ipw_ate": q_ipw_ate,
    "aipw_ate": q_aipw_ate,
    "power_mde": q_power_mde,
    "srm": q_srm,
    "cluster_ttest": q_cluster_ttest,
    # (r08-checked greens and newer rotate below; their driver rows are
    # the record. Rows-only queries stay below by the ordering contract —
    # except the one-time ann_pq/cox_ph/psm_greedy window passes above.)
    "target_encode": q_target_encode,
    "auc": q_auc,
    "auc_global": q_auc_global,
    "average_precision": q_average_precision,
    "average_precision_global": q_average_precision_global,
    "survival_km": q_survival_km,
    "phash_neardup": q_phash_neardup,
    "fdr_bh": q_fdr_bh,
    "brier": q_brier,
    "l_diversity": q_l_diversity,
    "ks_grouped": q_ks_grouped,
    "logrank": q_logrank,
    "logrank_wilcoxon": q_logrank_wilcoxon,
    "conformal": q_conformal,
    "impute": q_impute,
    "cox_moments": q_cox_moments,
    "marginal_fixed": q_marginal_fixed,
    "irr_bisect": q_irr_bisect,
    "silhouette": q_silhouette,
    "k_anonymity": q_k_anonymity,
    "bpe_train": q_bpe_train,
    "bpe_encode": q_bpe_encode,
    "fuzzy_join": q_fuzzy_join,
    "ann_pq_adc": q_ann_pq_adc,
    "nn_forward": q_nn_forward,
    "mmr": q_mmr,
    "kcenter": q_kcenter,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_incr": q_semantic_dedup_incr,
    "ngram_jaccard_prefix": q_ngram_jaccard_prefix,
    "ngram_containment": q_ngram_containment,
    "contamination_bloom": q_contamination_bloom,
    "fleiss_kappa": q_fleiss_kappa,
    "transition_matrix": q_transition_matrix,
    "label_agreement": q_label_agreement,
    "json_extract": q_json_extract,
    "cdc_apply": q_cdc_apply,
    "scd2": q_scd2,
    "ttest": q_ttest,
    "chisq": q_chisq,
    "entropy": q_entropy,
    "weighted_sample": q_weighted_sample,
    "rolling": q_rolling,
    "robust_outliers": q_robust_outliers,
    "hard_negatives": q_hard_negatives,
    "cms": q_cms,
    "token_divergence": q_token_divergence,
    "rrf": q_rrf,
    "anova": q_anova,
    "bm25": q_bm25,
    "glm_moments": q_glm_moments,
    "ranking_metrics": q_ranking_metrics,
    "minhash_clusters": q_minhash_clusters,
    "dedup_lines": q_dedup_lines,
    "trimmed_mode": q_trimmed_mode,
    "template_share": q_template_share,
    "spearman": q_spearman,
    "prop_test": q_prop_test,
    "mannwhitney": q_mannwhitney,
    "cuped": q_cuped,
    "bootstrap": q_bootstrap,
    "profile_diff": q_profile_diff,
    "hashed_vectors": q_hashed_vectors,
    "ccnet_buckets": q_ccnet_buckets,
    "url_stats": q_url_stats,
    "pagerank": q_pagerank,
    "isotonic": q_isotonic,
    "rake": q_rake,
    "seasonal": q_seasonal,
    "pca_moments": q_pca_moments,
    "pii_redact": q_pii_redact,
    "dsir_select": q_dsir_select,
    "assoc_rules": q_assoc_rules,
    "benford": q_benford,
    "interval_join": q_interval_join,
    "ols_multi": q_ols_multi,
    "zipf": q_zipf,
    "collocations": q_collocations,
    "score_calibrate": q_score_calibrate,
    "fd_report": q_fd_report,
    "curation_pipeline": q_curation_pipeline,
    "ols_simple": q_ols_simple,
    "leakage_split": q_leakage_split,
    "snapshot_diff": q_snapshot_diff,
    "heavy_hitters": q_heavy_hitters,
    "duplicated_spans": q_duplicated_spans,
    "mg_summary": q_mg_summary,
    "cut_spans": q_cut_spans,
    "profile": q_profile,
    "kfold": q_kfold,
    "mutual_info": q_mutual_info,
    "minhash_pairs": q_minhash_pairs,
    "simhash_pairs": q_simhash_pairs,
    "edit_distance": q_edit_distance,
    "ann_topk": q_ann_topk,
    "ann_ivf": q_ann_ivf,
    "minhash_pairs_fast": q_minhash_pairs_fast,
    "simhash_pairs_fast": q_simhash_pairs_fast,
    "irr_by": q_irr_by,
    "model_nn": q_model_nn,
    "pca": q_pca,
    "retention": q_retention,
    "winsorize": q_winsorize,
    "embed_project": q_embed_project,
    "encode_cat": q_encode_cat,
    "sort_rank": q_sort_rank,
    "chunk": q_chunk,
    "winnow": q_winnow,
    "funnel": q_funnel,
    "skew_report": q_skew_report,
    "mix": q_mix,
    "tpch_q5": q_tpch_q5,
    "groupby_agg": q_groupby_agg,
    "expr_summary": q_expr_summary,
    "join_left_default": q_join_left_default,
    "join_3way": q_join_3way,
    "window_cume": q_window_cume,
    "encode_normalize": q_encode_normalize,
    "decile": q_decile,
    "assess_r2": q_assess_r2,
    "irr": q_irr,
    "model_glm": q_model_glm,
    "marginal": q_marginal,
    "npv": q_npv,
    "loop": q_loop,
    "expr_misc": q_expr_misc,
    "window_after": q_window_after,
    "subset_row": q_subset_row,
    "describe": q_describe,
    "seg": q_seg,
    "ks": q_ks,
}

ORACLES: dict[str, str] = {
    "where_keep": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem WHERE l_returnflag IN ('A','R')
    """,
    "groupby_agg": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice*(1-l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "expr_if": """
        SELECT l_orderkey, l_linenumber,
               ROUND(CASE WHEN l_discount > 0.05
                     THEN l_extendedprice*(1-l_discount)
                     ELSE l_extendedprice END, 4) AS net_price,
               CAST((l_quantity > 25) AS DOUBLE) + CAST((l_tax >= 0.04) AS DOUBLE) AS flags
        FROM lineitem
    """,
    "expr_summary": """
        SELECT ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(AVG(l_extendedprice), 4) AS mean_price,
               ROUND(STDDEV_SAMP(l_discount), 6) AS std_disc,
               MAX(l_shipdate) AS max_ship,
               COUNT(l_orderkey) AS n
        FROM lineitem
    """,
    "join_inner": """
        SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment,
               ROUND(o.o_totalprice, 2) AS o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "join_left_default": """
        SELECT c.c_custkey, c.c_name,
               ROUND(COALESCE(o.o_totalprice, 0.0), 2) AS o_totalprice,
               COALESCE(o.o_orderstatus, '') AS o_orderstatus
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    "join_3way": """
        SELECT r.r_name, COUNT(*) AS n_cust,
               ROUND(SUM(c.c_acctbal), 2) AS acctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    "append": """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'A'
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'
    """,
    "expr_datefns": """
        SELECT o_orderkey,
               CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
               CAST(MONTH(o_orderdate) AS BIGINT) AS mo,
               CAST(DAY(o_orderdate) AS BIGINT) AS dy,
               CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
               CAST(DATEDIFF('day', CAST(DATE_TRUNC('month', o_orderdate) AS DATE),
                             CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS DATE)) AS BIGINT) AS mdays
        FROM orders
    """,
    "expr_strfns": """
        SELECT c_custkey,
               CAST(LENGTH(c_name) AS BIGINT) AS name_len,
               SUBSTR(c_name, 1, 8) AS name_head,
               CAST(CASE WHEN STRPOS(c_name, '1') = 0 THEN -1
                    ELSE STRPOS(c_name, '1') END AS BIGINT) AS pos1,
               CAST((LENGTH(c_name) - LENGTH(REPLACE(c_name, '0', ''))) AS BIGINT) AS zeros
        FROM customer
    """,
    "window_cume": """
        SELECT event_id, user_id,
               ROUND(SUM(value) OVER w_cume, 4) AS run_sum,
               ROUND(COALESCE(LAG(value, 1) OVER w_ord, 0.0), 4) AS prev_value,
               CAST(COUNT(value) OVER w_cume AS BIGINT) AS seq
        FROM events
        WINDOW w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
               w_cume AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "encode_cat": """
        SELECT c_custkey,
               CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS INTEGER) AS seg_code
        FROM customer
    """,
    "encode_normalize": """
        SELECT l_orderkey, l_linenumber,
               ROUND((l_quantity - AVG(l_quantity) OVER ()) /
                     (STDDEV_SAMP(l_quantity) OVER ()), 6) AS q_z
        FROM lineitem
    """,
    "topk": """
        SELECT event_type, COUNT(*) AS count
        FROM events GROUP BY event_type
        ORDER BY count DESC, event_type ASC LIMIT 3
    """,
    "sort_rank": """
        SELECT c_custkey,
               CAST(ROW_NUMBER() OVER (ORDER BY c_acctbal, c_custkey) - 1 AS BIGINT) AS rank0
        FROM customer
    """,
    "decile": """
        WITH ranked AS (
            SELECT l_extendedprice AS fit,
                   CAST(l_quantity > 25 AS DOUBLE) AS obs,
                   NTILE(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) - 1 AS bucket
            FROM lineitem
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               ROUND(AVG(fit), 4) AS mean_fit,
               ROUND(AVG(obs), 6) AS mean_obs,
               COUNT(*) AS n
        FROM ranked GROUP BY bucket
    """,
    "assess_r2": """
        WITH t AS (
            SELECT CAST(l_quantity > 25 AS DOUBLE) AS obs, l_quantity/50.0 AS fit
            FROM lineitem
        ), s AS (
            SELECT COUNT(*) AS n,
                   SUM(CASE WHEN fit > 0.5 AND obs > 0.999 THEN 1 ELSE 0 END) AS tp,
                   SUM(CASE WHEN fit <= 0.5 AND obs <= 0.999 THEN 1 ELSE 0 END) AS tn,
                   SUM(CASE WHEN obs > 0.999 THEN 1 ELSE 0 END) AS obs_tot,
                   SUM(CASE WHEN fit > 0.5 THEN 1 ELSE 0 END) AS pred_tot,
                   SUM((obs-fit)*(obs-fit)) AS sse,
                   VAR_SAMP(obs) AS vy
            FROM t
        )
        SELECT n,
               ROUND(CAST(tp AS DOUBLE)/pred_tot, 6) AS prec,
               ROUND(CAST(tp AS DOUBLE)/obs_tot, 6) AS recall,
               ROUND(CAST(tp+tn AS DOUBLE)/n, 6) AS accuracy,
               ROUND(100*(1 - sse/((n-1)*vy)), 4) AS r2
        FROM s
    """,
    "text_stats": """
        WITH t AS (
            SELECT doc_id, text, TRIM(text) AS tt FROM documents
        )
        SELECT doc_id,
               CAST(CASE WHEN LENGTH(tt) = 0 THEN 0
                    ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END AS BIGINT) AS n_tokens,
               CAST(LENGTH(text) AS BIGINT) AS n_chars2,
               ROUND(CASE WHEN LENGTH(text) = 0 THEN 0.0
                     ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                          '[.,;:!?''"()\\[\\]{}\\-]', '', 'g')) AS DOUBLE) / LENGTH(text)
                     END, 6) AS punct_ratio,
               ROUND(CASE WHEN (CASE WHEN LENGTH(tt)=0 THEN 0
                                ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END) = 0 THEN 0.0
                     ELSE CAST(LENGTH(REGEXP_REPLACE(tt, '\\s+', '', 'g')) AS DOUBLE)
                          / (CASE WHEN LENGTH(tt)=0 THEN 0
                             ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END)
                     END, 6) AS avg_tok_len
        FROM t
    """,
    "text_quality_lang": """
        WITH t AS (
            SELECT doc_id, text, TRIM(text) AS tt,
                   STR_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS toks_l
            FROM documents
        ), m AS (
            SELECT doc_id,
                   CAST(CASE WHEN LENGTH(tt)=0 THEN 0
                        ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END AS DOUBLE) AS toks,
                   CASE WHEN LENGTH(text)=0 THEN 0.0
                        ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                             '[.,;:!?''"()\\[\\]{}\\-]', '', 'g')) AS DOUBLE)/LENGTH(text)
                   END AS pr,
                   CASE WHEN (CASE WHEN LENGTH(tt)=0 THEN 0
                              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END) = 0 THEN 0.0
                        ELSE CAST(LENGTH(REGEXP_REPLACE(tt, '\\s+', '', 'g')) AS DOUBLE)
                             / (CASE WHEN LENGTH(tt)=0 THEN 0
                                ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END)
                   END AS awl,
                   LEN(LIST_FILTER(toks_l, x -> x IN ('der','die','und','das','ist'))) AS h_de,
                   LEN(LIST_FILTER(toks_l, x -> x IN ('the','and','of','to','in'))) AS h_en,
                   LEN(LIST_FILTER(toks_l, x -> x IN ('el','la','que','los','una'))) AS h_es,
                   LEN(LIST_FILTER(toks_l, x -> x IN ('le','les','des','est','une'))) AS h_fr,
                   LEN(LIST_FILTER(toks_l, x -> x IN ('de','shi','zai','le','he'))) AS h_zh
            FROM t
        )
        SELECT doc_id,
               ROUND(0.4*(LEAST(toks, 100.0)/100.0)
                   + 0.3*(1.0 - LEAST(pr*4, 1.0))
                   + 0.3*LEAST(GREATEST((awl-2)/6.0, 0.0), 1.0), 6) AS quality,
               CASE WHEN GREATEST(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                    WHEN h_de >= GREATEST(h_en, h_es, h_fr, h_zh) THEN 'de'
                    WHEN h_en >= GREATEST(h_es, h_fr, h_zh) THEN 'en'
                    WHEN h_es >= GREATEST(h_fr, h_zh) THEN 'es'
                    WHEN h_fr >= h_zh THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM m
    """,
    "dedup_exact": """
        WITH f AS (
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        )
        SELECT doc_id, fp,
               COUNT(*) OVER (PARTITION BY fp) AS dup_count,
               CAST(ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) > 1 AS DOUBLE) AS is_dup
        FROM f
    """,
    "tpch_q3": """
        SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
               CAST(ROUND(SUM(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate
    """,
    "tpch_q5": """
        SELECT n.n_name,
               ROUND(SUM(l.l_extendedprice*(1-l.l_discount)), 2) AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey AND s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n.n_name
    """,
    "stream_tumbling": """
        SELECT CAST(FLOOR(EPOCH(TIME_BUCKET(INTERVAL '1 hour', ts))) AS BIGINT) AS window_start,
               CAST(FLOOR(EPOCH(TIME_BUCKET(INTERVAL '1 hour', ts) + INTERVAL '1 hour')) AS BIGINT) AS window_end,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2, 3
    """,
    "sessionize": """
        WITH o AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, event_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM o
        )
        SELECT CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS window_start,
               CAST(FLOOR(EPOCH(MAX(ts) + INTERVAL '30 minutes')) AS BIGINT) AS window_end,
               user_id, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM s GROUP BY user_id, sid
    """,
    "npv": """
        SELECT l_orderkey,
               ROUND(SUM(l_extendedprice / POWER(1.001, rn)), 2) AS order_npv
        FROM (
            SELECT l_orderkey, l_extendedprice,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice) - 1 AS rn
            FROM lineitem
        )
        GROUP BY l_orderkey
    """,
    "loop": """
        SELECT c_custkey,
               ROUND(((c_acctbal*1.05 + 10)*1.05 + 10)*1.05 + 10, 4) AS bal
        FROM customer
    """,
    "expr_misc": """
        SELECT l_orderkey, l_linenumber,
               ROUND(GREATEST(l_quantity, 25.0), 2) AS qcap,
               ROUND(LEAST(l_tax, l_discount), 6) AS mintd,
               ROUND(l_tax, 6) AS tax2,
               PRINTF('%.2f', l_quantity) AS qstr,
               CAST(TRUNC(l_discount*100) AS BIGINT) AS disc_pct,
               ROUND(POWER(l_quantity, 2), 2) AS qsq
        FROM lineitem
    """,
    "window_after": """
        SELECT l_orderkey, l_linenumber,
               ROUND(SUM(l_quantity) OVER w_after, 2) AS qty_after,
               CAST(COUNT(l_quantity) OVER w_after AS BIGINT) AS n_after,
               ROUND(EXP(SUM(LN(1 + l_discount)) OVER w_before), 6) AS disc_prod,
               ROUND(COALESCE(LAG(l_quantity) OVER w_ord, -1.0), 2) AS prev_qty
        FROM lineitem
        WINDOW w_ord AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice),
               w_after AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
               w_before AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "subset_row": """
        SELECT c_custkey, ROUND(c_acctbal, 2) AS c_acctbal
        FROM (
            SELECT c_custkey, c_acctbal,
                   ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS rn
            FROM customer
        )
        WHERE rn IN (0,1,2,3,4,5,6,7,8,9,100,200,300)
    """,
    "describe": """
        SELECT COUNT(l_extendedprice) AS n,
               ROUND(AVG(l_extendedprice), 4) AS mean,
               ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.00), 4) AS q0,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.10), 4) AS q10,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 4) AS q25,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.50), 4) AS q50,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 4) AS q75,
               ROUND(QUANTILE_CONT(l_extendedprice, 0.90), 4) AS q90,
               ROUND(QUANTILE_CONT(l_extendedprice, 1.00), 4) AS q100
        FROM lineitem
    """,
    "seg": """
        WITH t AS (
            SELECT l_returnflag,
                   CAST(l_quantity > 25 AS DOUBLE) AS obs,
                   l_extendedprice/100000.0 AS fit
            FROM lineitem
        ), b AS (
            SELECT AVG(fit) - AVG(obs) AS bias FROM t
        ), g AS (
            SELECT l_returnflag, COUNT(*) AS n, AVG(obs) AS mean_obs,
                   STDDEV_SAMP(obs) AS std_obs, AVG(fit) AS mean_fit
            FROM t GROUP BY l_returnflag HAVING COUNT(*) >= 10
        )
        SELECT l_returnflag, n,
               ROUND(mean_obs, 6) AS mean_obs,
               ROUND(COALESCE(std_obs, 0)/SQRT(n), 6) AS obs_se,
               ROUND(mean_fit - bias, 6) AS fit_corr
        FROM g, b
    """,
    "ks": """
        WITH t AS (
            SELECT l_extendedprice AS fit, CAST(l_quantity > 25 AS INT) AS ist
            FROM lineitem
        ), m AS (
            SELECT MIN(fit) AS lo, MAX(fit) AS hi,
                   SUM(ist) AS n1, SUM(1-ist) AS n0 FROM t
        ), b AS (
            SELECT LEAST(CAST(FLOOR((fit - lo)/((hi - lo)/1000.0)) AS INT), 999) AS bin, ist
            FROM t, m
        ), c AS (
            SELECT bin, SUM(ist) AS c1, SUM(1-ist) AS c0 FROM b GROUP BY bin
        ), cum AS (
            SELECT SUM(c1) OVER (ORDER BY bin) AS s1,
                   SUM(c0) OVER (ORDER BY bin) AS s0 FROM c
        )
        SELECT ROUND(100.0 * MAX(ABS(CAST(s1 AS DOUBLE)/(SELECT n1 FROM m)
                                   - CAST(s0 AS DOUBLE)/(SELECT n0 FROM m))), 4) AS ks
        FROM cum
    """,
    "coalesce_logodds": """
        WITH t AS (
            SELECT l_orderkey, l_linenumber,
                   l_quantity/50.0 AS e0, l_tax*10.0 AS e1, l_discount*10.0 AS e2
            FROM lineitem
        ), p AS (
            SELECT l_orderkey, l_linenumber,
                   (EXP(e1) + EXP(e2)) / (EXP(e0) + EXP(e1) + EXP(e2)) AS pv
            FROM t
        )
        SELECT l_orderkey, l_linenumber,
               ROUND(pv, 6) AS p12,
               ROUND(CASE WHEN pv < 1e-10 THEN -10.0
                          WHEN 1 - pv < 1e-10 THEN 10.0
                          ELSE LEAST(GREATEST(LN(pv/(1-pv)), -10.0), 10.0) END, 6) AS lodds
        FROM p
    """,
    "ngram_jaccard": """
        WITH d AS (
            SELECT doc_id,
                   STR_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS toks
            FROM documents
        ), n AS (
            SELECT doc_id,
                   CASE WHEN LEN(toks) < 3 THEN [ARRAY_TO_STRING(toks, ' ')]
                        ELSE LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)-2),
                             i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) END AS grams
            FROM d
        ), e AS (
            SELECT doc_id, UNNEST(grams) AS g FROM n
        ), keep AS (
            SELECT g FROM e GROUP BY g HAVING COUNT(*) <= 1000
        ), ek AS (
            SELECT e.doc_id, e.g FROM e JOIN keep USING (g)
        ), sz AS (
            -- capped vocabulary: sizes and intersections over the SAME set
            SELECT doc_id, COUNT(*) AS ng FROM ek GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM ek a JOIN ek b USING (g)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               ROUND(CAST(i AS DOUBLE)/(sa.ng + sb.ng - i), 6) AS jaccard
        FROM inter
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE CAST(i AS DOUBLE)/(sa.ng + sb.ng - i) >= 0.3
    """,
    "ngram_containment": """
        WITH d AS (
            SELECT doc_id,
                   STR_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS toks
            FROM documents
        ), n AS (
            SELECT doc_id,
                   CASE WHEN LEN(toks) < 3 THEN [ARRAY_TO_STRING(toks, ' ')]
                        ELSE LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)-2),
                             i -> ARRAY_TO_STRING(toks[i:i+2], ' '))) END AS grams
            FROM d
        ), e AS (
            SELECT doc_id, UNNEST(grams) AS g FROM n
        ), keep AS (
            SELECT g FROM e GROUP BY g HAVING COUNT(*) <= 1000
        ), ek AS (
            SELECT e.doc_id, e.g FROM e JOIN keep USING (g)
        ), sz AS (
            SELECT doc_id, COUNT(*) AS ng FROM ek GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM ek a JOIN ek b USING (g)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b,
               ROUND(CAST(i AS DOUBLE)/LEAST(sa.ng, sb.ng), 6) AS containment
        FROM inter
        JOIN sz sa ON id_a = sa.doc_id
        JOIN sz sb ON id_b = sb.doc_id
        WHERE CAST(i AS DOUBLE)/LEAST(sa.ng, sb.ng) >= 0.5
    """,
    # semantic_dedup twin: replays seed-centroid assignment (max-cosine,
    # min-seed-id tiebreak), within-cluster pairs, and keep-first verbatim
    "semantic_dedup": """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), u AS (
            SELECT vec_id,
                   CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                        ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
                   END AS ve
            FROM v
        ), seeds AS (
            SELECT vec_id AS cell, ve AS cv FROM u ORDER BY vec_id LIMIT 8
        ), scored AS (
            SELECT u.vec_id, u.ve, s.cell, list_dot_product(u.ve, s.cv) AS cos
            FROM u CROSS JOIN seeds s
        ), assigned AS (
            SELECT vec_id, ve, cell FROM (
                SELECT vec_id, ve, cell,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, cell ASC) AS rk
                FROM scored
            ) WHERE rk = 1
        ), dropped AS (
            SELECT DISTINCT b.vec_id AS did
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.ve, b.ve) >= 0.42
        )
        SELECT a.vec_id AS id, CAST(a.cell AS BIGINT) AS cluster,
               CASE WHEN d.did IS NULL THEN 1 ELSE 0 END AS keep
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.did
    """,
    "embed_neardup": """
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(LIST_COSINE_SIMILARITY(a.ve, b.ve), 6) AS cosine
        FROM v a CROSS JOIN v b
        WHERE a.vec_id < b.vec_id
          AND LIST_COSINE_SIMILARITY(a.ve, b.ve) >= 0.5
    """,
    "ann_topk": """
        WITH q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 5
        ), c AS (
            SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        ), s AS (
            SELECT q_id, nid, list_cosine_similarity(qv, nv) AS cos
            FROM q CROSS JOIN c WHERE nid != q_id
        ), r AS (
            SELECT q_id, nid, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, nid ASC) AS rnk
            FROM s
        )
        SELECT q_id, nid AS neighbor_id, ROUND(cos, 6) AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM r WHERE rnk <= 5
    """,
    # full-probe IVF is exact -> same result set as brute force
    "ann_ivf": """
        WITH q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 5
        ), c AS (
            SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        ), s AS (
            SELECT q_id, nid, list_cosine_similarity(qv, nv) AS cos
            FROM q CROSS JOIN c WHERE nid != q_id
        ), r AS (
            SELECT q_id, nid, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, nid ASC) AS rnk
            FROM s
        )
        SELECT q_id, nid AS neighbor_id, ROUND(cos, 6) AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM r WHERE rnk <= 5
    """,
    "asof": """
        WITH l AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), r AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT l.event_id, l.user_id,
               CAST(epoch_us(l.ts) AS BIGINT) AS ts_us,
               r.click_id,
               CAST(epoch_us(r.click_ts) AS BIGINT) AS click_ts_us
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.click_ts
    """,
    "range_join": """
        WITH l AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), r AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts, value AS click_value
            FROM events WHERE event_type = 'click'
        )
        SELECT l.event_id, l.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_clicks,
               ROUND(SUM(r.click_value), 4) AS click_value_sum
        FROM l JOIN r
          ON l.user_id = r.user_id
         AND r.click_ts >= l.ts - INTERVAL 1 HOUR
         AND r.click_ts <= l.ts
        GROUP BY l.event_id, l.user_id
    """,
    "pivot": """
        SELECT CAST(user_id % 10 AS INTEGER) AS user_bucket,
               ROUND(COALESCE(SUM(CASE WHEN event_type='click' THEN value END), 0), 4) AS sum_click,
               ROUND(COALESCE(SUM(CASE WHEN event_type='error' THEN value END), 0), 4) AS sum_error,
               ROUND(COALESCE(SUM(CASE WHEN event_type='purchase' THEN value END), 0), 4) AS sum_purchase,
               ROUND(COALESCE(SUM(CASE WHEN event_type='signup' THEN value END), 0), 4) AS sum_signup,
               ROUND(COALESCE(SUM(CASE WHEN event_type='view' THEN value END), 0), 4) AS sum_view
        FROM events
        GROUP BY user_id % 10
    """,
    "salted_join": """
        WITH dim AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(event_type), 1, 8)) AS UBIGINT) AS type_code
            FROM events
        )
        SELECT e.event_id, e.event_type, CAST(d.type_code AS BIGINT) AS type_code
        FROM events e JOIN dim d USING (event_type)
    """,
    "salted_agg": """
        SELECT event_type,
               CAST(COUNT(value) AS BIGINT) AS n,
               ROUND(SUM(value), 4) AS sum_v,
               MAX(value) AS max_v,
               ROUND(AVG(value), 6) AS avg_v
        FROM events
        GROUP BY event_type
    """,
    "contamination": """
        WITH norm AS (
            SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
                        ELSE list_distinct(list_transform(range(1, len(tk) - 6),
                             i -> array_to_string(list_slice(tk, i, i + 7), ' ')))
                   END AS g
            FROM norm
        ), cg AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        bg AS (SELECT DISTINCT doc_id AS bench_id, unnest(g) AS gram
               FROM grams WHERE doc_id < 5)
        SELECT cg.doc_id, bg.bench_id,
               CAST(COUNT(DISTINCT cg.gram) AS BIGINT) AS shared_ngrams
        FROM cg JOIN bg USING (gram)
        GROUP BY cg.doc_id, bg.bench_id
        HAVING COUNT(DISTINCT cg.gram) >= 1
    """,
    "tfidf": """
        WITH norm AS (
            SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents
        ), tok AS (
            SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * (ln((1.0 + n_docs) / (1.0 + df)) + 1.0) AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        ), r AS (
            SELECT doc_id, term, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, term ASC) AS rnk
            FROM scored
        )
        SELECT doc_id, term, ROUND(score, 6) AS score, CAST(rnk AS BIGINT) AS rank
        FROM r WHERE rnk <= 3
    """,
    # BM25 twin: same tokenization as tfidf's; arithmetic written in the
    # exact association order of bm25_scores (idf = ln(1 + ((N - df) +
    # 0.5)/(df + 0.5)); saturated tf with (1 - b) folded left); ranking
    # over the ROUNDED score so 1-ulp ln() differences can't reorder
    "bm25": """
        WITH norm AS (
            SELECT doc_id,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
            FROM documents
        ), d AS (
            SELECT doc_id, len(tk) AS dl, tk FROM norm
        ), stats AS (
            SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM d
        ), tf AS (
            SELECT doc_id, dl, term, COUNT(*) AS tf
            FROM (SELECT doc_id, dl, unnest(tk) AS term FROM d)
            WHERE term IN ('hash', 'join', 'vector')
            GROUP BY doc_id, dl, term
        ), dfreq AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT tf.doc_id,
                   SUM( ln(1.0 + ((n_docs - CAST(df AS DOUBLE)) + 0.5)
                                 / (CAST(df AS DOUBLE) + 0.5))
                        * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                        / (CAST(tf AS DOUBLE)
                           + 1.2 * ((1.0 - 0.75)
                                    + 0.75 * CAST(dl AS DOUBLE) / avgdl)) ) AS score
            FROM tf JOIN dfreq USING (term) CROSS JOIN stats
            GROUP BY tf.doc_id
        ), top AS (
            SELECT doc_id, ROUND(score, 6) AS score FROM scored
            ORDER BY ROUND(score, 6) DESC, doc_id ASC LIMIT 15
        )
        SELECT doc_id, score,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
        FROM top
    """,
    "pii_repetition": """
        WITH toks AS (
            SELECT doc_id, text,
                   string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
            FROM documents
        ), grams AS (
            SELECT doc_id, text, len(tk) AS cnt,
                   list_transform(range(1, greatest(len(tk) - 2, 1) + 1),
                                  i -> array_to_string(list_slice(tk, i, i + 2), ' ')) AS g
            FROM toks
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text,
                    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text,
                    '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS BIGINT) AS n_ssn,
               CASE WHEN cnt < 3 THEN 0.0
                    ELSE ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
               END AS rep3
        FROM grams
    """,
    "stream_join": """
        WITH l AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), r AS (
            SELECT event_id AS click_id, user_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        )
        SELECT l.event_id, l.user_id, r.click_id
        FROM l JOIN r
          ON l.user_id = r.user_id
         AND r.click_ts >= l.ts - INTERVAL 1 HOUR
         AND r.click_ts <= l.ts
    """,
    "sample_split": """
        WITH b AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'demo'), 1, 8))
                        AS UBIGINT) % 1000000 AS smp,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8))
                        AS UBIGINT) % 1000000 AS spl
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN spl < 800000 THEN 'train'
                    WHEN spl < 900000 THEN 'val'
                    ELSE 'test' END AS split
        FROM b WHERE smp < 500000
    """,
    "pack": """
        WITH b AS (
            SELECT doc_id, CAST(length(text) AS BIGINT) AS sz,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS UBIGINT) % 1000000 AS bkt
            FROM documents
        ), s AS (
            SELECT doc_id, sz, bkt, CAST(bkt % 8 AS INTEGER) AS shard FROM b
        )
        SELECT doc_id, sz, shard,
               CAST(FLOOR((SUM(sz) OVER (PARTITION BY shard ORDER BY bkt, doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - sz) / 4000.0) AS BIGINT) AS bin
        FROM s
    """,
    "text_tokens": """
        SELECT doc_id,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(regexp_extract_all(text,
                        '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
                    END AS BIGINT) AS bpe_tokens
        FROM documents
    """,
    # The image "decoder" is the documented deterministic fake
    # (multimodal._fake_decode_image): dims/luma derived from the md5
    # digest of the payload (utf-8 text bytes). md5 is engine-portable, so
    # the mapInPandas plumbing itself is hash-checked end-to-end: digest
    # byte i == ('0x' || substr(md5hex, 2i+1, 2))::INT.
    "multimodal": """
        WITH d AS (SELECT doc_id, text, md5(text) AS h FROM documents)
        SELECT doc_id,
               64 + (('0x' || substr(h, 1, 2))::INT % 192) AS height,
               64 + (('0x' || substr(h, 3, 2))::INT % 192) AS width,
               3 AS channels,
               ROUND((  ('0x' || substr(h,  5, 2))::INT
                      + ('0x' || substr(h,  7, 2))::INT
                      + ('0x' || substr(h,  9, 2))::INT
                      + ('0x' || substr(h, 11, 2))::INT
                      + ('0x' || substr(h, 13, 2))::INT
                      + ('0x' || substr(h, 15, 2))::INT
                      + ('0x' || substr(h, 17, 2))::INT
                      + ('0x' || substr(h, 19, 2))::INT) / 2040.0, 6) AS mean_luma,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM d
    """,
}


def _embed_project_oracle(dim: int = 64, out_dim: int = 8, seed: int = 42) -> str:
    """DuckDB twin of q_embed_project: the SAME ±1 literal weight table
    (similarity.jl_sign_weights) inlined into SQL — the projection is
    pure arithmetic on both engines, so values hash-match at round-6."""
    from seafan_spark.llmops.similarity import jl_sign_weights

    ws = jl_sign_weights(dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)

    def lit(w: list[float]) -> str:
        return "[" + ", ".join(f"{x:.1f}" for x in w) + "]"

    dcols = ",\n                   ".join(
        f"list_dot_product(e, {lit(ws[j])}) * {scale!r} AS d{j}" for j in range(out_dim)
    )
    psq = " + ".join(f"d{j}*d{j}" for j in range(out_dim))
    pcols = ", ".join(f"ROUND(d{j}, 6) AS p{j}" for j in range(out_dim))
    return f"""
        WITH e0 AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), d AS (
            SELECT vec_id, e,
                   {dcols},
                   sqrt(list_dot_product(e, e)) AS nrm
            FROM e0
        )
        SELECT vec_id, {pcols},
               ROUND(sqrt({psq}), 6) AS proj_norm,
               CASE WHEN nrm = 0 THEN 0.0
                    ELSE ROUND(sqrt(list_dot_product(list_transform(e, x -> x / nrm),
                                                     list_transform(e, x -> x / nrm))), 6)
               END AS unit_norm
        FROM d
    """


# the prefix-filtered join is output-identical to the postings join by
# the prefix-filter theorem (and by pytest) — same DuckDB twin
ORACLES["ngram_jaccard_prefix"] = ORACLES["ngram_jaccard"]
# Bloom mode only PREfilters before the exact verify join — results are
# identical to the exact screen, so the oracle is shared verbatim.
ORACLES["contamination_bloom"] = ORACLES["contamination"]

ORACLES["mutual_info"] = """
    WITH d AS (
        SELECT dayofweek(ts) + 1 AS dow, -- DuckDB dayofweek 0=Sun; Spark 1=Sun
               event_type AS x, user_id % 4 AS y
        FROM events
    ),
    c AS (
        SELECT dow, x, y, CAST(COUNT(*) AS DOUBLE) AS o
        FROM d GROUP BY 1, 2, 3
    ),
    t AS (
        SELECT dow, o,
               SUM(o) OVER (PARTITION BY dow) AS n,
               SUM(o) OVER (PARTITION BY dow, x) AS rx,
               SUM(o) OVER (PARTITION BY dow, y) AS ry
        FROM c
    )
    SELECT dow, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(SUM((o / n) * LN(o * n / (rx * ry))), 6) AS mi,
           ROUND(CASE WHEN SQRT(SUM(-(o / n) * LN(rx / n))
                           * SUM(-(o / n) * LN(ry / n))) > 0
                 THEN SUM((o / n) * LN(o * n / (rx * ry)))
                      / SQRT(SUM(-(o / n) * LN(rx / n))
                             * SUM(-(o / n) * LN(ry / n)))
                 END, 6) AS nmi
    FROM t GROUP BY dow ORDER BY dow
"""

ORACLES["kfold"] = """
    WITH b AS (
        SELECT event_id, event_type,
               CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'cv'), 1, 8))
                    AS UBIGINT) % 1000000 AS bk
        FROM events
    )
    SELECT event_id, event_type,
           CAST((ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bk, event_id)
                 - 1) % 5 AS INT) AS fold
    FROM b
"""

ORACLES["transition_matrix"] = """
    WITH seq AS (
        SELECT event_type AS state_to,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS state_from
        FROM events
    ),
    big AS (
        SELECT state_from, state_to, COUNT(*) AS n
        FROM seq WHERE state_from IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT state_from, state_to, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY state_from) AS DOUBLE), 6) AS p
    FROM big
    ORDER BY state_from, state_to
"""

_PROFILE_COLS = [
    ("o_orderkey", "bigint"),
    ("o_custkey", "bigint"),
    ("o_orderstatus", "string"),
    ("o_orderdate", "timestamp_ntz"),
    ("o_orderpriority", "string"),
]
ORACLES["profile"] = (
    "\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS "column", '{dt}' AS dtype,
           CAST(COUNT({c}) AS BIGINT) AS n_non_null,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders"""
        for c, dt in _PROFILE_COLS
    )
    + '\n    ORDER BY "column"'
)

ORACLES["json_extract"] = """
    WITH flat AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS p_k
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(p_k) AS BIGINT) AS sum_k,
           ROUND(AVG(p_k), 6) AS avg_k,
           CAST(SUM(CASE WHEN p_k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_k
    FROM flat
    GROUP BY event_type
    ORDER BY event_type
"""

ORACLES["label_agreement"] = f"""
    WITH ann AS ({_ANNOTATIONS_SQL}),
    pairs AS (
        SELECT x.item_id, x.annotator AS annotator_a, y.annotator AS annotator_b,
               CAST(x.label AS VARCHAR) AS la, CAST(y.label AS VARCHAR) AS lb
        FROM ann x JOIN ann y
          ON x.item_id = y.item_id AND x.annotator < y.annotator
    ),
    tot AS (
        SELECT annotator_a, annotator_b, COUNT(*) AS n_items,
               AVG(CASE WHEN la = lb THEN 1.0 ELSE 0.0 END) AS po
        FROM pairs GROUP BY 1, 2
    ),
    ca AS (SELECT annotator_a, annotator_b, la AS l, COUNT(*) AS c
           FROM pairs GROUP BY 1, 2, 3),
    cb AS (SELECT annotator_a, annotator_b, lb AS l, COUNT(*) AS c
           FROM pairs GROUP BY 1, 2, 3),
    pe AS (
        SELECT ca.annotator_a, ca.annotator_b,
               SUM(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS ab
        FROM ca JOIN cb USING (annotator_a, annotator_b, l)
        GROUP BY 1, 2
    )
    SELECT t.annotator_a, t.annotator_b,
           CAST(t.n_items AS BIGINT) AS n_items,
           ROUND(t.po, 6) AS p_o,
           ROUND(pe.ab / (CAST(t.n_items AS DOUBLE) * CAST(t.n_items AS DOUBLE)), 6) AS p_e,
           ROUND(CASE WHEN pe.ab / (CAST(t.n_items AS DOUBLE) * CAST(t.n_items AS DOUBLE)) < 1.0
                 THEN (t.po - pe.ab / (CAST(t.n_items AS DOUBLE) * CAST(t.n_items AS DOUBLE)))
                      / (1.0 - pe.ab / (CAST(t.n_items AS DOUBLE) * CAST(t.n_items AS DOUBLE)))
                 END, 6) AS kappa
    FROM tot t JOIN pe USING (annotator_a, annotator_b)
    ORDER BY annotator_a, annotator_b
"""

ORACLES["fleiss_kappa"] = f"""
    WITH ann AS ({_ANNOTATIONS_SQL}),
    votes AS (
        SELECT item_id, CAST(label AS VARCHAR) AS lab, COUNT(*) AS nij
        FROM ann GROUP BY 1, 2
    ),
    per_item AS (
        SELECT item_id, SUM(nij) AS n, SUM(nij * nij) AS sq
        FROM votes GROUP BY 1
    ),
    pb AS (
        SELECT COUNT(*) AS n_items,
               (SUM(sq) - COUNT(*) * 3) * 1.0 / (COUNT(*) * 3 * 2) AS p_bar
        FROM per_item
    ),
    lc AS (SELECT lab, CAST(SUM(nij) AS DOUBLE) AS cj FROM votes GROUP BY 1),
    pe AS (SELECT SUM(cj * cj) / (SUM(cj) * SUM(cj)) AS p_e FROM lc)
    SELECT CAST(pb.n_items AS BIGINT) AS n_items,
           CAST(3 AS INT) AS n_raters,
           ROUND(pb.p_bar, 6) AS p_bar,
           ROUND(pe.p_e, 6) AS p_e,
           ROUND(CASE WHEN pe.p_e < 1.0
                 THEN (pb.p_bar - pe.p_e) / (1.0 - pe.p_e) END, 6) AS kappa
    FROM pb, pe
"""

# incremental SemDeDup under the append-only id split == one-shot
ORACLES["semantic_dedup_incr"] = ORACLES["semantic_dedup"]

# hard_negatives twin: brute cosine with NOT-EXISTS gold exclusion
ORACLES["hard_negatives"] = """
        WITH q AS (
            SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 5
        ), pos AS (
            SELECT vec_id AS q_id, vec_id + 1 AS pos_id
            FROM embeddings WHERE vec_id < 5
        ), c AS (
            SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings
        ), s AS (
            SELECT q.q_id, c.nid, list_cosine_similarity(q.qv, c.nv) AS cos
            FROM q CROSS JOIN c
            WHERE c.nid != q.q_id
              AND NOT EXISTS (SELECT 1 FROM pos
                              WHERE pos.q_id = q.q_id AND pos.pos_id = c.nid)
        ), r AS (
            SELECT q_id, nid, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos DESC, nid ASC) AS rnk
            FROM s
        )
        SELECT q_id, nid AS neighbor_id, ROUND(cos, 6) AS cosine,
               CAST(rnk AS BIGINT) AS rank
        FROM r WHERE rnk <= 5
    """

# robust_outliers twin: replays the rank-arithmetic exact medians (value,
# then absolute deviation) and the k*MAD flag
ORACLES["robust_outliers"] = """
        WITH d AS (
            SELECT l_returnflag AS k, CAST(l_extendedprice AS DOUBLE) AS x
            FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), r AS (
            SELECT k, x, ROW_NUMBER() OVER (PARTITION BY k ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY k) AS c
            FROM d
        ), med AS (
            SELECT k, AVG(x) AS m FROM r
            WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2 GROUP BY k
        ), dev AS (
            SELECT d.k, d.x, ABS(d.x - med.m) AS dv, med.m
            FROM d JOIN med ON d.k = med.k
        ), r2 AS (
            SELECT k, dv, ROW_NUMBER() OVER (PARTITION BY k ORDER BY dv) AS rn,
                   COUNT(*) OVER (PARTITION BY k) AS c
            FROM dev
        ), mad AS (
            SELECT k, AVG(dv) AS md FROM r2
            WHERE rn = (c + 1) // 2 OR rn = (c + 2) // 2 GROUP BY k
        )
        SELECT dev.k AS l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(MAX(dev.m), 6) AS median,
               ROUND(MAX(mad.md), 6) AS mad,
               CAST(SUM(CASE WHEN dev.dv > 3.0 * mad.md THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON dev.k = mad.k
        GROUP BY dev.k
    """

# rolling twin: the same inclusive [t-1h, t] range frame over exact
# epoch microseconds
ORACLES["rolling"] = """
        SELECT user_id, event_id,
               COUNT(*) OVER w AS n_1h,
               ROUND(SUM(value) OVER w, 6) AS sum_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """

# weighted_sample twin: same md5-bucket uniform, same A-ES key arithmetic
ORACLES["weighted_sample"] = """
        WITH b AS (
            SELECT lang, doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8))
                         AS UBIGINT) % 1000000 + 0.5) / 1000000.0 AS u
            FROM documents
        ), es AS (
            SELECT lang, id, weight, EXP(LN(u) / weight) AS k
            FROM b WHERE weight > 0
        ), r AS (
            SELECT lang, id, weight, k,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY k DESC, id ASC) AS rnk
            FROM es
        )
        SELECT lang, id, ROUND(weight, 6) AS weight, ROUND(k, 6) AS es_key,
               CAST(rnk AS BIGINT) AS rank
        FROM r WHERE rnk <= 5
    """

ORACLES["entropy"] = """
        WITH c AS (
            SELECT lang, source, CAST(COUNT(*) AS DOUBLE) AS o
            FROM documents GROUP BY lang, source
        ), t AS (
            SELECT lang, source, o, SUM(o) OVER (PARTITION BY lang) AS n
            FROM c
        )
        SELECT lang,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_cats,
               ROUND(SUM(-(o/n) * LN(o/n)), 6) AS entropy,
               ROUND(1.0 - SUM((o/n)*(o/n)), 6) AS gini
        FROM t GROUP BY lang
    """

ORACLES["embed_project"] = _embed_project_oracle()


def _ann_lsh_oracle(dim: int = 64, planes: int = 8, k: int = 5, seed: int = 42) -> str:
    """DuckDB twin of q_ann_lsh: hyperplane bucket bits from the SAME ±1
    literal weights (similarity.hyperplane_weights), bucket self-join,
    exact cosine, window top-k."""
    from seafan_spark.llmops.similarity import hyperplane_weights

    ws = hyperplane_weights(planes, dim, seed)

    def lit(w: list[float]) -> str:
        return "[" + ", ".join(f"{x:.1f}" for x in w) + "]"

    bits = " || ".join(
        f"(CASE WHEN list_dot_product(e, {lit(ws[p])}) >= 0 THEN '1' ELSE '0' END)"
        for p in range(planes)
    )
    return f"""
        WITH d AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), b AS (
            SELECT vec_id, e, {bits} AS bkt FROM d
        ), s AS (
            SELECT a.vec_id AS q_id, c.vec_id AS neighbor_id,
                   list_cosine_similarity(a.e, c.e) AS cos
            FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id != c.vec_id
        ), r AS (
            SELECT q_id, neighbor_id, cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
            FROM s
        )
        SELECT q_id, neighbor_id, ROUND(cos, 6) AS cosine, CAST(rnk AS BIGINT) AS rank
        FROM r WHERE rnk <= {k}
    """


ORACLES["ann_lsh"] = _ann_lsh_oracle()


def _embed_incr_oracle(dim: int = 64, planes: int = 8, threshold: float = 0.3, seed: int = 42) -> str:
    """DuckDB twin of q_embed_incr: the incremental union equals the
    one-shot full-corpus LSH pair pass — bucket bits from the SAME ±1
    literal weights, pairs on bucket equality, cosine as
    divide-by-norm-then-dot (the exact operation order of
    embedding_store_prepare + dot_col, with the norm-0 -> divide-by-1
    guard)."""
    from seafan_spark.llmops.similarity import hyperplane_weights

    ws = hyperplane_weights(planes, dim, seed)

    def lit(w: list[float]) -> str:
        return "[" + ", ".join(f"{x:.1f}" for x in w) + "]"

    bits = " || ".join(
        f"(CASE WHEN list_dot_product(e, {lit(ws[p])}) >= 0 THEN '1' ELSE '0' END)"
        for p in range(planes)
    )
    return f"""
        WITH d AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings
        ), b AS (
            SELECT vec_id,
                   list_transform(e, x -> x / (CASE WHEN nrm = 0 THEN 1 ELSE nrm END)) AS v,
                   {bits} AS bkt
            FROM d
        ), s AS (
            SELECT a.vec_id AS id_a, c.vec_id AS id_b,
                   list_dot_product(a.v, c.v) AS cos
            FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id
        )
        SELECT id_a, id_b, ROUND(cos, 6) AS cosine
        FROM s WHERE cos >= {threshold!r}
    """


ORACLES["embed_incr"] = _embed_incr_oracle()

# Shared DuckDB twin of llmops.text norm_text_col + shingles_col (k=5) +
# the portable 60-bit md5 hash (text.hash60_col).
_SHINGLE_CTE = """
        nt AS (
            SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN length(t) <= 5 THEN [t]
                        ELSE list_distinct(list_transform(range(1, length(t) - 5 + 2),
                                                          i -> substr(t, i, 5)))
                   END AS shs
            FROM nt
        ), ex AS (
            SELECT doc_id,
                   ('0x' || substr(md5(unnest(shs)), 1, 15))::BIGINT AS h
            FROM sh
        )"""


def _minhash_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    """DuckDB twin of q_minhash_pairs (verify="exact"): the SAME mixer
    constants (dedup.minhash_mixers) over the same portable shingle
    hashes — signatures, band buckets, and candidates reproduce exactly;
    each candidate is then verified with the TRUE jaccard over the
    distinct shingle hashes, like the Spark side. Mixing is mod 2^61-1:
    DuckDB does the multiply in HUGEINT; the Spark side reduces with
    split signed-64 arithmetic (dedup._mix61_col) — identical values."""
    from seafan_spark.llmops.dedup import MERSENNE61 as P
    from seafan_spark.llmops.dedup import minhash_mixers

    mixers = minhash_mixers(num_hashes)
    rows = num_hashes // bands
    mins = ",\n                   ".join(
        f"min((({a}::HUGEINT * hp + {c}) % {P})::BIGINT) AS m{i}"
        for i, (a, c) in enumerate(mixers)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(num_hashes)) + "]"
    return f"""
        WITH {_SHINGLE_CTE},
        exp AS (SELECT doc_id, h AS hp FROM ex),
        mn AS (
            SELECT doc_id,
                   {mins}
            FROM exp GROUP BY doc_id
        ), s2 AS (
            SELECT doc_id, {sig_list} AS sig FROM mn
        ), banded AS (
            SELECT doc_id, t.range AS band,
                   ('0x' || substr(md5(array_to_string(
                        sig[t.range * {rows} + 1 : t.range * {rows} + {rows}], ',')), 1, 15))::BIGINT AS bucket
            FROM s2 CROSS JOIN range(0, {bands}) t
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), sz AS (
            SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
        ), inter AS (
            SELECT c.id_a, c.id_b, COUNT(*) AS i
            FROM cand c
            JOIN ex ea ON ea.doc_id = c.id_a
            JOIN ex eb ON eb.doc_id = c.id_b AND eb.h = ea.h
            GROUP BY c.id_a, c.id_b
        )
        SELECT t.id_a, t.id_b,
               ROUND(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6) AS jaccard
        FROM inter t
        JOIN sz sa ON sa.doc_id = t.id_a
        JOIN sz sb ON sb.doc_id = t.id_b
        WHERE CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i) >= {threshold!r}
    """


ORACLES["minhash_pairs"] = _minhash_oracle(bands=4)

def _mix_oracle() -> str:
    """DuckDB twin of q_mix: identical per-source fraction computation
    (normalized-weight literals as ::DOUBLE so arithmetic is IEEE double
    like Spark's, never DECIMAL) + the shared md5-bucket filter."""
    totw = sum(_MIX_WEIGHTS.values())
    cases = " ".join(
        f"WHEN '{s}' THEN {w / totw!r}::DOUBLE" for s, w in _MIX_WEIGHTS.items()
    )
    srcs = ", ".join(f"'{s}'" for s in _MIX_WEIGHTS)
    return f"""
        WITH tot AS (
            SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS t
            FROM documents GROUP BY source
        ), th AS (
            SELECT source,
                   CAST(floor(least(1.0::DOUBLE,
                        ((CASE source {cases} END * {float(_MIX_BUDGET)!r}::DOUBLE)) / t)
                        * 1000000) AS BIGINT) AS lim
            FROM tot WHERE source IN ({srcs})
        )
        SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
        FROM documents d JOIN th USING (source)
        WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
              % 1000000 < lim
    """


ORACLES["mix"] = _mix_oracle()

ORACLES["skew_report"] = """
    WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type),
    s AS (SELECT CAST(SUM(n) AS DOUBLE) AS t, CAST(COUNT(*) AS DOUBLE) AS k FROM c)
    SELECT event_type, n,
           ROUND(n / t, 6) AS share,
           ROUND(n * k / t, 4) AS skew_ratio
    FROM c, s ORDER BY n DESC, event_type LIMIT 5
"""

ORACLES["chunk"] = """
    WITH n AS (
        SELECT doc_id, text,
               greatest(1, CAST(ceil((length(text) - 64)::DOUBLE / 448.0) AS INT)) AS nc
        FROM documents
    ), e AS (
        SELECT doc_id, text, unnest(range(0, nc)) AS i FROM n
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(i * 448 + 1 AS BIGINT) AS char_start,
           substr(text, CAST(i * 448 + 1 AS INT), 512) AS chunk
    FROM e
"""


def _minhash_incr_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    """DuckDB twin of q_minhash_incr: identical signatures/banding to
    _minhash_oracle, with candidate pairs restricted to those touching the
    'new' batch (doc_id % 5 == 0) — exactly the incremental join's
    output."""
    from seafan_spark.llmops.dedup import MERSENNE61 as P
    from seafan_spark.llmops.dedup import minhash_mixers

    mixers = minhash_mixers(num_hashes)
    rows = num_hashes // bands
    mins = ",\n                   ".join(
        f"min((({a}::HUGEINT * hp + {c}) % {P})::BIGINT) AS m{i}"
        for i, (a, c) in enumerate(mixers)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(num_hashes)) + "]"
    eqs = " + ".join(f"(sa.sig[{i + 1}] = sb.sig[{i + 1}])::INT" for i in range(num_hashes))
    return f"""
        WITH {_SHINGLE_CTE},
        exp AS (SELECT doc_id, h AS hp FROM ex),
        mn AS (
            SELECT doc_id,
                   {mins}
            FROM exp GROUP BY doc_id
        ), s2 AS (
            SELECT doc_id, {sig_list} AS sig FROM mn
        ), banded AS (
            SELECT doc_id, t.range AS band,
                   ('0x' || substr(md5(array_to_string(
                        sig[t.range * {rows} + 1 : t.range * {rows} + {rows}], ',')), 1, 15))::BIGINT AS bucket
            FROM s2 CROSS JOIN range(0, {bands}) t
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            WHERE a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
        )
        SELECT c.id_a, c.id_b, ({eqs})::DOUBLE / {float(num_hashes)!r} AS est_jaccard
        FROM cand c
        JOIN s2 sa ON sa.doc_id = c.id_a
        JOIN s2 sb ON sb.doc_id = c.id_b
        WHERE ({eqs})::DOUBLE / {float(num_hashes)!r} >= {threshold!r}
    """


ORACLES["minhash_incr"] = _minhash_incr_oracle(bands=4)


def _minhash_clusters_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.5) -> str:
    """DuckDB twin of q_minhash_clusters: the _minhash_oracle pairs as
    edges, then connected components as a recursive-CTE transitive
    closure with min-id labels — feasible at oracle SF because closure
    size is O(nodes x component size) and near-dup components are tiny."""
    pairs_sql = _minhash_oracle(num_hashes, bands, threshold)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        sym AS (
            SELECT id_a, id_b FROM pairs
            UNION ALL
            SELECT id_b AS id_a, id_a AS id_b FROM pairs
        ),
        reach(id, r) AS (
            SELECT id_a, id_b FROM sym
            UNION
            SELECT s.id_a, r.r FROM sym s JOIN reach r ON s.id_b = r.id
        )
        SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id
    """


ORACLES["minhash_clusters"] = _minhash_clusters_oracle(bands=4)


def _leakage_split_oracle() -> str:
    """DuckDB twin of q_leakage_split: the same recursive-CTE component
    closure as the minhash_clusters oracle, left-joined onto documents,
    then the identical md5-bucket split arithmetic keyed on
    COALESCE(cluster, doc_id)."""
    clusters_sql = _minhash_clusters_oracle(bands=4)
    return f"""
        WITH cl AS ({clusters_sql}),
        keyed AS (
            SELECT d.doc_id,
                   CAST(('0x' || substr(md5(
                        CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR) || 'lk'
                   ), 1, 8)) AS UBIGINT) % 1000000 AS b
            FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
        )
        SELECT doc_id,
               CASE WHEN b < 800000 THEN 'train'
                    WHEN b < 900000 THEN 'val'
                    ELSE 'test' END AS split
        FROM keyed
    """


ORACLES["leakage_split"] = _leakage_split_oracle()

ORACLES["snapshot_diff"] = """
    WITH old AS (
        SELECT doc_id AS id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 5
    ), new AS (
        SELECT doc_id AS id,
               md5(CASE WHEN doc_id % 7 = 2 THEN text || ' rev2' ELSE text END) AS fp
        FROM documents WHERE doc_id % 11 <> 3
    )
    SELECT COALESCE(old.id, new.id) AS id,
           CASE WHEN old.fp IS NULL THEN 'added'
                WHEN new.fp IS NULL THEN 'removed'
                WHEN old.fp <> new.fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           old.fp AS old_fp, new.fp AS new_fp
    FROM old FULL OUTER JOIN new ON old.id = new.id
    WHERE old.fp IS NULL OR new.fp IS NULL OR old.fp <> new.fp
"""

ORACLES["heavy_hitters"] = """
    SELECT item, cnt FROM (
        SELECT item, COUNT(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(lower(text), '\\s+')) AS item
            FROM documents
        )
        WHERE item <> ''
        GROUP BY item
    )
    ORDER BY cnt DESC, item ASC
    LIMIT 20
"""

ORACLES["mg_summary"] = """
    WITH toks AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS item
        FROM documents
    ), t AS (SELECT item FROM toks WHERE item <> '')
    SELECT item, CAST(COUNT(*) AS BIGINT) AS est FROM t GROUP BY item
    UNION ALL
    SELECT NULL AS item, CAST(COUNT(*) AS BIGINT) AS est FROM t
"""

ORACLES["cut_spans"] = """
    WITH g AS (
        SELECT doc_id, unnest(range(1, length(text) - 20 + 2)) AS pos, text
        FROM documents WHERE length(text) >= 20
    ), g2 AS (
        SELECT doc_id, pos, substr(text, CAST(pos AS INT), 20) AS gram FROM g
    ), dup AS (
        SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), isl AS (
        SELECT g2.doc_id, g2.pos,
               g2.pos - ROW_NUMBER() OVER (PARTITION BY g2.doc_id ORDER BY g2.pos) AS grp
        FROM g2 JOIN dup USING (gram)
    ), spans AS (
        SELECT doc_id, MIN(pos) AS s, MIN(pos) + COUNT(*) + 20 - 2 AS e
        FROM isl GROUP BY doc_id, grp
        HAVING COUNT(*) + 20 - 1 >= 50
    ), m0 AS (
        SELECT doc_id, s, e,
               CASE WHEN s > COALESCE(MAX(e) OVER (
                        PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    THEN 1 ELSE 0 END AS brk
        FROM spans
    ), m1 AS (
        SELECT doc_id, s, e,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS UNBOUNDED PRECEDING) AS isl_id
        FROM m0
    ), m AS (
        SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM m1 GROUP BY doc_id, isl_id
    ), gaps AS (
        SELECT m.doc_id, m.s, m.e,
               COALESCE(LAG(m.e) OVER (PARTITION BY m.doc_id ORDER BY m.s), 0) AS prev_e,
               d2.text
        FROM m JOIN documents d2 USING (doc_id)
    ), segs AS (
        SELECT doc_id, s AS ord,
               substr(text, CAST(prev_e + 1 AS INT), CAST(s - prev_e - 1 AS INT)) AS seg
        FROM gaps
        UNION ALL
        SELECT doc_id, 2000000000 AS ord,
               substr(text, CAST(MAX(e) + 1 AS INT)) AS seg
        FROM gaps GROUP BY doc_id, text
    ), cleaned AS (
        SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS clean
        FROM segs GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(COALESCE(c.clean, d.text)) AS BIGINT) AS clean_chars,
           md5(COALESCE(c.clean, d.text)) AS clean_fp
    FROM documents d LEFT JOIN cleaned c USING (doc_id)
"""

ORACLES["ts_pattern"] = """
    WITH s AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ), w AS (
        SELECT user_id, rn AS start,
               list(v) OVER (PARTITION BY user_id ORDER BY rn
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS arr
        FROM s
    ), d AS (
        SELECT user_id, start,
               SQRT(list_sum(list_transform(range(1, 5),
                    i -> (arr[i] - ([10.0, 60.0, 120.0, 60.0])[i])
                       * (arr[i] - ([10.0, 60.0, 120.0, 60.0])[i])))) AS dr
        FROM w WHERE len(arr) = 4
    )
    SELECT user_id, CAST(start AS BIGINT) AS start, ROUND(dr, 6) AS dist
    FROM d ORDER BY dr ASC, user_id ASC, start ASC LIMIT 10
"""

ORACLES["duplicated_spans"] = """
    WITH g AS (
        SELECT doc_id, unnest(range(1, length(text) - 20 + 2)) AS pos, text
        FROM documents WHERE length(text) >= 20
    ), g2 AS (
        SELECT doc_id, pos, substr(text, CAST(pos AS INT), 20) AS gram FROM g
    ), dup AS (
        SELECT gram FROM g2 GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), d AS (
        SELECT g2.doc_id, g2.pos,
               g2.pos - ROW_NUMBER() OVER (PARTITION BY g2.doc_id ORDER BY g2.pos) AS grp
        FROM g2 JOIN dup USING (gram)
    )
    SELECT doc_id, MIN(pos) AS start, COUNT(*) + 20 - 1 AS span_len
    FROM d GROUP BY doc_id, grp
    HAVING COUNT(*) + 20 - 1 >= 50
"""


def _minhash_calibration_oracle(
    num_hashes: int = 32, sample_docs: int = 64, salt: str = "cal", k: int = 5
) -> str:
    """DuckDB twin of q_minhash_calibration: same md5-bucket top-k
    sample, same distinct-shingle hashes (true jaccard side), same
    mixer signatures (estimate side), both statistics recomputed from
    the raw doubles before rounding — bit-identical."""
    from seafan_spark.llmops.dedup import MERSENNE61 as P
    from seafan_spark.llmops.dedup import minhash_mixers

    mixers = minhash_mixers(num_hashes)
    mins = ",\n                   ".join(
        f"min((({a}::HUGEINT * h + {c}) % {P})::BIGINT) AS m{i}"
        for i, (a, c) in enumerate(mixers)
    )
    sig_list = "[" + ", ".join(f"m{i}" for i in range(num_hashes)) + "]"
    eqs = " + ".join(
        f"(sa.sig[{i + 1}] = sb.sig[{i + 1}])::INT" for i in range(num_hashes)
    )
    est = f"({eqs})::DOUBLE / {float(num_hashes)!r}"
    true_j = "COALESCE(t.i, 0)::DOUBLE / (za.n + zb.n - COALESCE(t.i, 0))"
    return f"""
        WITH nt AS (
            SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents
        ), bkt AS (
            SELECT doc_id, t,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 8)) AS UBIGINT) % 1000000 AS b
            FROM nt
        ), samp AS (
            SELECT doc_id, t FROM bkt ORDER BY b, doc_id LIMIT {sample_docs}
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN length(t) <= {k} THEN [t]
                        ELSE list_distinct(list_transform(range(1, length(t) - {k} + 2),
                                                          i -> substr(t, i, {k})))
                   END AS shs
            FROM samp
        ), ex AS (
            SELECT doc_id, ('0x' || substr(md5(unnest(shs)), 1, 15))::BIGINT AS h
            FROM sh
        ), sz AS (
            SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), mn AS (
            SELECT doc_id,
                   {mins}
            FROM ex GROUP BY doc_id
        ), s2 AS (
            SELECT doc_id, {sig_list} AS sig FROM mn
        ), pr AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM samp a JOIN samp b ON a.doc_id < b.doc_id
        )
        SELECT p.id_a, p.id_b,
               ROUND({true_j}, 6) AS jaccard,
               ROUND({est}, 6) AS est_jaccard,
               ROUND(ABS({est} - {true_j}), 6) AS abs_err
        FROM pr p
        LEFT JOIN inter t ON t.id_a = p.id_a AND t.id_b = p.id_b
        JOIN sz za ON za.doc_id = p.id_a
        JOIN sz zb ON zb.doc_id = p.id_b
        JOIN s2 sa ON sa.doc_id = p.id_a
        JOIN s2 sb ON sb.doc_id = p.id_b
    """


ORACLES["minhash_calibration"] = _minhash_calibration_oracle()


def _simhash_oracle(bits: int = 60, chunks: int = 4, max_hamming: int = 3) -> str:
    """DuckDB twin of q_simhash_pairs: per-bit majority votes over the
    same portable shingle hashes, identical bit packing, pigeonhole chunk
    join, bit_count(xor) hamming."""
    width = bits // chunks
    mask = (1 << width) - 1
    sums = ",\n                   ".join(
        f"sum((h >> {b}) & 1) AS b{b}" for b in range(bits)
    )
    pack = " + ".join(
        f"(CASE WHEN 2 * b{b} > n THEN (1::BIGINT << {b}) ELSE 0 END)" for b in range(bits)
    )
    return f"""
        WITH {_SHINGLE_CTE},
        cnt AS (
            SELECT doc_id, count(*) AS n,
                   {sums}
            FROM ex GROUP BY doc_id
        ), sig AS (
            SELECT doc_id, ({pack}) AS s FROM cnt
        ), banded AS (
            SELECT doc_id, s, t.range AS chunk, (s >> (t.range * {width})) & {mask} AS key
            FROM sig CROSS JOIN range(0, {chunks}) t
        ), cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.s AS sa, b.s AS sb
            FROM banded a JOIN banded b
              ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(sa, sb))::INT AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


ORACLES["simhash_pairs"] = _simhash_oracle()


def _winnow_oracle(k: int = 8, w: int = 4) -> str:
    """DuckDB twin of q_winnow: same normalized k-gram portable hashes,
    same window-min winnowing (text.winnow_fingerprints_col)."""
    return f"""
        WITH nt AS (
            SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents
        ), g AS (
            SELECT doc_id,
                   list_transform(range(1, greatest(length(t) - {k} + 1, 1) + 1),
                        i -> ('0x' || substr(md5(substr(t, i, {k})), 1, 15))::BIGINT) AS grams
            FROM nt
        ), wmin AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                        range(1, greatest(len(grams) - {w} + 1, 1) + 1),
                        i -> list_min(grams[i : i + least({w}, len(grams)) - 1]))) AS fps
            FROM g
        )
        SELECT doc_id, len(fps)::BIGINT AS n_fps, list_min(fps) AS min_fp FROM wmin
    """


ORACLES["winnow"] = _winnow_oracle()

ORACLES["rollup"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_l_returnflag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """

ORACLES["corr_matrix"] = """
        SELECT col_a, col_b, ROUND(corr, 6) AS corr FROM (
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   CORR(l_quantity, l_extendedprice) AS corr FROM lineitem
            UNION ALL SELECT 'l_quantity', 'l_discount', CORR(l_quantity, l_discount) FROM lineitem
            UNION ALL SELECT 'l_quantity', 'l_tax', CORR(l_quantity, l_tax) FROM lineitem
            UNION ALL SELECT 'l_extendedprice', 'l_discount', CORR(l_extendedprice, l_discount) FROM lineitem
            UNION ALL SELECT 'l_extendedprice', 'l_tax', CORR(l_extendedprice, l_tax) FROM lineitem
            UNION ALL SELECT 'l_discount', 'l_tax', CORR(l_discount, l_tax) FROM lineitem
        )
    """

ORACLES["distinct_counts"] = """
        SELECT 'o_orderstatus' AS field, COUNT(DISTINCT o_orderstatus) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority) FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(DISTINCT o_custkey) FROM orders
    """

ORACLES["lm_score"] = """
        WITH norm AS (
            SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents
        ), arr AS (
            SELECT doc_id,
                   CASE WHEN t IS NULL OR length(t) = 0 THEN []::VARCHAR[]
                        ELSE string_split(t, ' ') END AS a
            FROM norm
        ), tok AS (
            SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos FROM arr
        ), uni AS (
            SELECT w, COUNT(*) AS c FROM tok GROUP BY w
        ), big AS (
            SELECT t1.w AS w1, t2.w AS w2, COUNT(*) AS c
            FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
            GROUP BY 1, 2
        ), v AS (SELECT COUNT(*) + 1.0 AS v1 FROM uni),
        pairs AS (
            SELECT t1.doc_id, t1.w AS w1, t2.w AS w2
            FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        ), lp AS (
            SELECT p.doc_id,
                   ln((COALESCE(b.c, 0) + 0.1) / (COALESCE(u.c, 0) + 0.1 * v.v1)) AS lp
            FROM pairs p
            LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
            LEFT JOIN uni u ON p.w1 = u.w
            CROSS JOIN v
        ), per AS (
            SELECT doc_id, COUNT(*) AS n_bigrams, AVG(lp) AS avg_logprob
            FROM lp GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               ROUND(per.avg_logprob, 6) AS avg_logprob
        FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """

ORACLES["distinct_sketch"] = """
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               TRUE AS est_ok
        FROM lineitem GROUP BY l_returnflag
    """

ORACLES["funnel"] = """
        WITH e AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t, event_type FROM events
        ), s1 AS (
            SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND t >= t1 GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
            WHERE event_type = 'purchase' AND t >= t2 GROUP BY e.user_id
        )
        SELECT CAST(1 AS BIGINT) AS step, 'view' AS event, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
        UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3
    """

# cdc_apply twin: replay compaction (latest per key), keep-first snapshot,
# full-outer merge with change-side-wins and delete filtering verbatim
ORACLES["cdc_apply"] = """
        WITH ev AS (
            SELECT event_id, ts, user_id, event_type, value, props,
                   CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del
            FROM events
        ), snap AS (
            SELECT user_id, event_id, ts, event_type, value, props FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY ts DESC) AS rk
                FROM ev WHERE event_id < 7000
            ) WHERE rk = 1 AND is_del = 0
        ), top AS (
            SELECT user_id, event_id, ts, event_type, value, props, is_del FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                             ORDER BY ts DESC) AS rk
                FROM ev WHERE event_id >= 7000
            ) WHERE rk = 1
        )
        SELECT COALESCE(t.user_id, s.user_id) AS user_id,
               CASE WHEN t.user_id IS NOT NULL THEN t.event_id ELSE s.event_id END AS event_id,
               CASE WHEN t.user_id IS NOT NULL THEN t.ts ELSE s.ts END AS ts,
               CASE WHEN t.user_id IS NOT NULL THEN t.event_type ELSE s.event_type END AS event_type,
               CASE WHEN t.user_id IS NOT NULL THEN t.value ELSE s.value END AS value,
               CASE WHEN t.user_id IS NOT NULL THEN t.props ELSE s.props END AS props
        FROM snap s FULL OUTER JOIN top t ON s.user_id = t.user_id
        WHERE t.user_id IS NULL OR t.is_del = 0
    """

ORACLES["scd2"] = """
        WITH c AS (
            SELECT user_id, event_type, ts,
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
            FROM events
        ), k AS (
            SELECT user_id, event_type, ts FROM c
            WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, event_type, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
        FROM k
    """

ORACLES["retention"] = """
        WITH e AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) // 604800000000 AS p FROM events
        ), f AS (
            SELECT user_id, MIN(p) AS cohort FROM e GROUP BY user_id
        )
        SELECT cohort, (p - cohort) AS period_offset,
               CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM e JOIN f USING (user_id)
        GROUP BY cohort, (p - cohort)
    """

# replays the five curation stages end-to-end: dedup keeper window,
# the text_quality_lang feature arithmetic (verbatim, plus source/n_chars
# pass-through), the quality gate, the per-source cap window, and the
# md5-bucket split — so the hash check covers the composed pipeline
ORACLES["curation_pipeline"] = """
        WITH k AS (
            SELECT doc_id, source, text,
                   ROW_NUMBER() OVER (
                       PARTITION BY MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'))
                       ORDER BY doc_id) AS rn
            FROM documents
        ), t AS (
            SELECT doc_id, source, text, TRIM(text) AS tt,
                   STR_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g'), ' ') AS toks_l
            FROM k WHERE rn = 1
        ), m AS (
            SELECT doc_id, source,
                   CAST(LENGTH(text) AS BIGINT) AS n_chars,
                   CAST(CASE WHEN LENGTH(tt)=0 THEN 0
                        ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END AS DOUBLE) AS toks,
                   CASE WHEN LENGTH(text)=0 THEN 0.0
                        ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                             '[.,;:!?''"()\\[\\]{}\\-]', '', 'g')) AS DOUBLE)/LENGTH(text)
                   END AS pr,
                   CASE WHEN (CASE WHEN LENGTH(tt)=0 THEN 0
                              ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END) = 0 THEN 0.0
                        ELSE CAST(LENGTH(REGEXP_REPLACE(tt, '\\s+', '', 'g')) AS DOUBLE)
                             / (CASE WHEN LENGTH(tt)=0 THEN 0
                                ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END)
                   END AS awl
            FROM t
        ), q AS (
            SELECT doc_id, source, n_chars,
                   ROUND(0.4*(LEAST(toks, 100.0)/100.0)
                       + 0.3*(1.0 - LEAST(pr*4, 1.0))
                       + 0.3*LEAST(GREATEST((awl-2)/6.0, 0.0), 1.0), 6) AS quality
            FROM m
        ), c AS (
            SELECT * FROM (
                SELECT q.*, ROW_NUMBER() OVER (
                    PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn2
                FROM q WHERE quality >= 0.5
            ) WHERE rn2 <= 20
        ), s AS (
            SELECT quality, n_chars,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cur'), 1, 8))
                        AS UBIGINT) % 1000000 AS spl
            FROM c
        )
        SELECT CASE WHEN spl < 800000 THEN 'train'
                    WHEN spl < 900000 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               ROUND(AVG(quality), 6) AS avg_quality
        FROM s GROUP BY 1
    """

# replays ols_by's moment sums and closed-form arithmetic in the SAME
# association order (n*sxy - sx*sy, etc.) so 6-dp rounding sees identical
# doubles; the zero-variance CASE guards mirror the Spark F.when guards
# ttest twin: identical conditional moment sums and association order
ORACLES["ttest"] = """
        WITH m AS (
            SELECT l_returnflag,
                   SUM(CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS n1,
                   SUM(CASE WHEN l_linestatus = 'O' THEN 0.0 ELSE 1.0 END) AS n0,
                   SUM(l_extendedprice * CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS s1,
                   SUM(l_extendedprice * CASE WHEN l_linestatus = 'O' THEN 0.0 ELSE 1.0 END) AS s0,
                   SUM(l_extendedprice * l_extendedprice * CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END) AS q1,
                   SUM(l_extendedprice * l_extendedprice * CASE WHEN l_linestatus = 'O' THEN 0.0 ELSE 1.0 END) AS q0
            FROM lineitem GROUP BY l_returnflag
        ), s AS (
            SELECT l_returnflag, n1, n0, s1/n1 AS m1, s0/n0 AS m0,
                   (n1*q1 - s1*s1)/(n1*(n1-1.0)) AS v1,
                   (n0*q0 - s0*s0)/(n0*(n0-1.0)) AS v0
            FROM m
        ), e AS (
            SELECT *, v1/n1 + v0/n0 AS se2 FROM s
        )
        SELECT l_returnflag,
               CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
               ROUND(m1, 6) AS mean1, ROUND(m0, 6) AS mean0,
               ROUND(CASE WHEN n1 >= 2 AND n0 >= 2 AND se2 > 0
                          THEN (m1 - m0)/SQRT(se2) END, 6) AS t_stat,
               ROUND(CASE WHEN n1 >= 2 AND n0 >= 2 AND se2 > 0
                          THEN (se2*se2)/((v1/n1)*(v1/n1)/(n1-1.0)
                                          + (v0/n0)*(v0/n0)/(n0-1.0)) END, 6) AS df
        FROM e
    """

# chisq twin: zero-cell-safe expansion chi2 = n*sum(o^2/(rt*ct)) - n
ORACLES["chisq"] = """
        WITH d AS (
            SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS k,
                   o_orderpriority AS cat, o_orderstatus AS lab
            FROM orders
        ), c AS (
            SELECT k, cat, lab, CAST(COUNT(*) AS DOUBLE) AS o
            FROM d GROUP BY k, cat, lab
        ), t AS (
            SELECT k, cat, lab, o,
                   SUM(o) OVER (PARTITION BY k, cat) AS rt,
                   SUM(o) OVER (PARTITION BY k, lab) AS ct,
                   SUM(o) OVER (PARTITION BY k) AS n
            FROM c
        )
        SELECT k AS o_year,
               CAST(MAX(n) AS BIGINT) AS n,
               ROUND(MAX(n) * SUM(o*o/(rt*ct)) - MAX(n), 6) AS chi2,
               CAST((COUNT(DISTINCT cat)-1)*(COUNT(DISTINCT lab)-1) AS BIGINT) AS dof
        FROM t GROUP BY k
    """

ORACLES["ols_simple"] = """
        WITH a AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(l_quantity AS DOUBLE)) AS sx,
                   SUM(CAST(l_extendedprice AS DOUBLE)) AS sy,
                   SUM(CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS sxy,
                   SUM(CAST(l_quantity AS DOUBLE) * CAST(l_quantity AS DOUBLE)) AS sxx,
                   SUM(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)) AS syy
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        ), b AS (
            SELECT l_returnflag, l_linestatus, n,
                   CAST(n AS DOUBLE) * sxy - sx * sy AS cov_n,
                   CAST(n AS DOUBLE) * sxx - sx * sx AS var_x_n,
                   CAST(n AS DOUBLE) * syy - sy * sy AS var_y_n,
                   sx, sy
            FROM a
        )
        SELECT l_returnflag, l_linestatus, n,
               ROUND(CASE WHEN var_x_n <> 0 THEN cov_n / var_x_n END, 6) AS slope,
               ROUND((sy - (CASE WHEN var_x_n <> 0 THEN cov_n / var_x_n END) * sx)
                     / CAST(n AS DOUBLE), 6) AS intercept,
               ROUND(CASE WHEN var_x_n <> 0 AND var_y_n <> 0
                          THEN (cov_n * cov_n) / (var_x_n * var_y_n) END, 6) AS r2
        FROM b
    """

ORACLES["edit_distance"] = """
        WITH aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, text || 'x' AS text
            FROM documents WHERE doc_id % 17 = 0
        ), d AS (
            SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM aug
        ), p AS (
            SELECT doc_id, t, substr(t, 1, 16) AS pfx FROM d
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.t, b.t) AS INT) AS dist
        FROM p a JOIN p b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
        WHERE abs(length(a.t) - length(b.t)) <= 2
          AND levenshtein(a.t, b.t) <= 2
    """

ORACLES["fuzzy_join"] = """
    WITH l AS (
        SELECT c_custkey + 10000000 AS r_id,
               regexp_replace(lower(trim(c_name || 'q')), '\\s+', ' ', 'g')
                   AS lt
        FROM customer WHERE c_custkey % 13 = 0
    ), r AS (
        SELECT c_custkey,
               regexp_replace(lower(trim(c_name)), '\\s+', ' ', 'g') AS rt
        FROM customer
    ), cand AS (
        SELECT l.r_id, r.c_custkey, levenshtein(l.lt, r.rt) AS dist
        FROM l JOIN r ON substr(l.lt, 1, 16) = substr(r.rt, 1, 16)
        WHERE abs(length(l.lt) - length(r.rt)) <= 2
          AND levenshtein(l.lt, r.rt) <= 2
    ), best AS (
        SELECT r_id, c_custkey, dist,
               ROW_NUMBER() OVER (PARTITION BY r_id
                                  ORDER BY dist ASC, c_custkey ASC) AS rk
        FROM cand
    )
    SELECT r_id, CAST(c_custkey AS BIGINT) AS c_custkey,
           CAST(dist AS INT) AS dist
    FROM best WHERE rk = 1 ORDER BY r_id
"""

ORACLES["vocab"] = """
        WITH toks AS (
            SELECT unnest(string_split(
                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS term
            FROM documents
        ), c AS (
            SELECT term, COUNT(*) AS n FROM toks WHERE length(term) > 0 GROUP BY term
        )
        SELECT term, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rank
        FROM c ORDER BY n DESC, term ASC LIMIT 50
    """

ORACLES["winsorize"] = """
        WITH c AS (
            SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
                   quantile_cont(l_extendedprice, 0.95) AS hi
            FROM lineitem
        )
        SELECT l_orderkey, l_linenumber,
               ROUND(LEAST(GREATEST(l_extendedprice, lo), hi), 4) AS price_w
        FROM lineitem CROSS JOIN c
    """

# the bucket expression is histogram.bucket_sql('l_extendedprice', 900.0,
# 105000.0, 32) verbatim — same multiply-then-divide double arithmetic as
# histogram.bucket_col, so assignments are bit-identical across engines.
# The Spark side builds FINE (returnflag x linestatus) sketches and MERGES
# them to returnflag; this twin aggregates directly, so a hash match
# proves the rollup merge is exact.
ORACLES["hist_sketch"] = """
        SELECT l_returnflag,
               CASE WHEN l_extendedprice IS NULL THEN NULL
                    WHEN l_extendedprice < 900.0 THEN 0
                    WHEN l_extendedprice >= 105000.0 THEN 33
                    ELSE 1 + LEAST(31, CAST(FLOOR((l_extendedprice - 900.0) * 32.0 / 104100.0) AS BIGINT))
               END AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               MIN(l_extendedprice) AS bin_min,
               MAX(l_extendedprice) AS bin_max
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
        GROUP BY 1, 2
    """

ORACLES["dedup_reps"] = """
        WITH f AS (
            SELECT doc_id, LENGTH(text) AS score,
                   SUBSTR(MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')), 1, 2) AS cl
            FROM documents
        ), r AS (
            SELECT doc_id, cl,
                   ROW_NUMBER() OVER (PARTITION BY cl ORDER BY score DESC, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY cl) AS cluster_size
            FROM f
        )
        SELECT cl, doc_id, CAST(cluster_size AS BIGINT) AS cluster_size
        FROM r WHERE rn = 1
    """

# replays quantiles_from_histogram's arithmetic verbatim: same cume
# windows, same GREATEST(q*total, 1e-12) target, same within-bucket
# interpolation with identical operation order on IEEE doubles
ORACLES["hist_quantiles"] = """
        WITH h AS (
            SELECT l_returnflag,
                   CASE WHEN l_extendedprice < 900.0 THEN 0
                        WHEN l_extendedprice >= 105000.0 THEN 33
                        ELSE 1 + LEAST(31, CAST(FLOOR((l_extendedprice - 900.0) * 32.0 / 104100.0) AS BIGINT))
                   END AS bucket,
                   COUNT(*) AS cnt,
                   MIN(l_extendedprice) AS bin_min,
                   MAX(l_extendedprice) AS bin_max
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL
            GROUP BY 1, 2
        ), c AS (
            SELECT *,
                   SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cume,
                   SUM(cnt) OVER (PARTITION BY l_returnflag) AS total
            FROM h
        ), qv(q) AS (
            VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                   (CAST(0.75 AS DOUBLE)), (CAST(0.99 AS DOUBLE))
        ),
        j AS (
            SELECT c.l_returnflag, qv.q,
                   GREATEST(qv.q * c.total, 1e-12) AS target,
                   c.cume, c.cnt, c.bin_min, c.bin_max
            FROM c CROSS JOIN qv
            WHERE (c.cume - c.cnt) < GREATEST(qv.q * c.total, 1e-12)
              AND c.cume >= GREATEST(qv.q * c.total, 1e-12)
        )
        SELECT l_returnflag, q,
               ROUND(bin_min + ((target - (cume - cnt)) / cnt) * (bin_max - bin_min), 6) AS estimate
        FROM j
    """

ORACLES["quality_rules"] = """
        WITH v AS (
            SELECT 'not_null(l_orderkey)' AS rule,
                   CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
            FROM lineitem
            UNION ALL
            SELECT 'in_range(l_discount,0.0,0.1)',
                   CAST(SUM(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.1) THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'in_range(l_quantity,1.0,50.0)',
                   CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'accepted_values(l_returnflag,[A,N,R])',
                   CAST(SUM(CASE WHEN l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'matches(l_linestatus)',
                   CAST(SUM(CASE WHEN l_linestatus IS NOT NULL AND NOT regexp_full_match(l_linestatus, '(?:[FO])') THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'unique(l_orderkey)',
                   CAST(COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) AS BIGINT)
            FROM lineitem
        )
        SELECT rule, violations, violations = 0 AS passed FROM v
    """

# replays psi_from_histograms on the same bucket grid: bucket shares per
# side, GREATEST(share, 1e-6) smoothing, (p-q)*ln(p/q) summed per group
ORACLES["psi_drift"] = """
        WITH h AS (
            SELECT l_linestatus,
                   CASE WHEN l_extendedprice < 900.0 THEN 0
                        WHEN l_extendedprice >= 105000.0 THEN 33
                        ELSE 1 + LEAST(31, CAST(FLOOR((l_extendedprice - 900.0) * 32.0 / 104100.0) AS BIGINT))
                   END AS bucket,
                   SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS cnt_a,
                   SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS cnt_b
            FROM lineitem
            WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('A', 'R')
            GROUP BY 1, 2
        ), t AS (
            SELECT *,
                   SUM(cnt_a) OVER (PARTITION BY l_linestatus) AS tot_a,
                   SUM(cnt_b) OVER (PARTITION BY l_linestatus) AS tot_b
            FROM h
        )
        SELECT l_linestatus,
               ROUND(SUM(
                   (GREATEST(cnt_a / tot_a, 1e-6) - GREATEST(cnt_b / tot_b, 1e-6))
                   * LN(GREATEST(cnt_a / tot_a, 1e-6) / GREATEST(cnt_b / tot_b, 1e-6))
               ), 6) AS psi
        FROM t GROUP BY 1
    """

ORACLES["source_cap"] = """
        WITH r AS (
            SELECT source, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents
        )
        SELECT source, doc_id, n_chars FROM r WHERE rn <= 10
    """




ORACLES["dedup_lines"] = """
    WITH doc AS (
        SELECT doc_id,
               REGEXP_REPLACE(text, '(\\S+ \\S+ \\S+) ', '\\1' || CHR(10), 'g') AS t
        FROM documents
    ), arr AS (
        SELECT doc_id, STRING_SPLIT(t, CHR(10)) AS a FROM doc
    ), lines AS (
        SELECT doc_id, UNNEST(a) AS line, GENERATE_SUBSCRIPTS(a, 1) AS pos
        FROM arr
    ), c AS (
        SELECT line, COUNT(*) AS c FROM lines GROUP BY line
    ), tot AS (SELECT SUM(c) AS n FROM c),
    common AS (SELECT line FROM c, tot WHERE c >= 0.0002 * n),
    kept AS (
        SELECT l.doc_id, l.pos, l.line
        FROM lines l LEFT JOIN common cm ON l.line = cm.line
        WHERE cm.line IS NULL
    ), re AS (
        SELECT doc_id, STRING_AGG(line, CHR(10) ORDER BY pos) AS text_clean,
               COUNT(*) AS nk
        FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(LEN(a.a) AS BIGINT) AS n_lines,
           CAST(LEN(a.a) - COALESCE(re.nk, 0) AS BIGINT) AS n_dropped,
           COALESCE(re.text_clean, '') AS text_clean
    FROM arr a LEFT JOIN re ON a.doc_id = re.doc_id
"""

ORACLES["collocations"] = """
    WITH norm AS (
        SELECT REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), arr AS (
        SELECT CASE WHEN t IS NULL OR LENGTH(t) = 0 THEN []::VARCHAR[]
                    ELSE STRING_SPLIT(t, ' ') END AS a,
               ROW_NUMBER() OVER () AS rid
        FROM norm
    ), tok AS (
        SELECT rid, UNNEST(a) AS w, GENERATE_SUBSCRIPTS(a, 1) AS pos FROM arr
    ), uni AS (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), big AS (
        SELECT t1.w AS w1, t2.w AS w2, COUNT(*) AS c_xy
        FROM tok t1 JOIN tok t2 ON t1.rid = t2.rid AND t2.pos = t1.pos + 1
        GROUP BY 1, 2
    ), nu AS (SELECT SUM(c) AS n FROM uni),
    nb AS (SELECT SUM(c_xy) AS n FROM big),
    scored AS (
        SELECT b.w1, b.w2, b.c_xy,
               LN((b.c_xy / nb.n) / ((u1.c / nu.n) * (u2.c / nu.n))) AS pmi
        FROM big b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN nu CROSS JOIN nb
        WHERE b.c_xy >= 5
    ), top AS (
        SELECT w1, w2, c_xy, pmi
        FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 40
    )
    SELECT w1, w2, c_xy, ROUND(pmi, 6) AS pmi,
           CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT)
               AS rank
    FROM top
"""

ORACLES["score_calibrate"] = """
    WITH t AS (
        SELECT doc_id, source, text, TRIM(text) AS tt FROM documents
    ), m AS (
        SELECT doc_id, source,
               CAST(CASE WHEN LENGTH(tt)=0 THEN 0
                    ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END AS DOUBLE) AS toks,
               CASE WHEN LENGTH(text)=0 THEN 0.0
                    ELSE CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                         '[.,;:!?''"()\\[\\]{}\\-]', '', 'g')) AS DOUBLE)/LENGTH(text)
               END AS pr,
               CASE WHEN (CASE WHEN LENGTH(tt)=0 THEN 0
                          ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END) = 0 THEN 0.0
                    ELSE CAST(LENGTH(REGEXP_REPLACE(tt, '\\s+', '', 'g')) AS DOUBLE)
                         / (CASE WHEN LENGTH(tt)=0 THEN 0
                            ELSE LEN(REGEXP_SPLIT_TO_ARRAY(tt, '\\s+')) END)
               END AS awl
        FROM t
    ), q AS (
        SELECT doc_id, source,
               0.4*(LEAST(toks, 100.0)/100.0)
                   + 0.3*(1.0 - LEAST(pr*4, 1.0))
                   + 0.3*LEAST(GREATEST((awl-2)/6.0, 0.0), 1.0) AS q
        FROM m
    )
    SELECT doc_id, source, ROUND(q, 6) AS quality,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY ROUND(q, 6) ASC), 6) AS q_pct
    FROM q
"""

ORACLES["fd_report"] = """
    WITH pair1 AS (
        SELECT o_orderkey AS a, o_orderstatus AS b, COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), per1 AS (
        SELECT a, MAX(c) AS m, SUM(c) AS n, COUNT(*) AS k FROM pair1 GROUP BY a
    ), r1 AS (
        SELECT 'o_orderkey' AS lhs, 'o_orderstatus' AS rhs,
               CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS violating_groups,
               ROUND(1.0 - CAST(SUM(m) AS DOUBLE) / SUM(n), 6) AS g3_rate
        FROM per1
    ), pair2 AS (
        SELECT o_custkey AS a, o_orderstatus AS b, COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), per2 AS (
        SELECT a, MAX(c) AS m, SUM(c) AS n, COUNT(*) AS k FROM pair2 GROUP BY a
    ), r2 AS (
        SELECT 'o_custkey' AS lhs, 'o_orderstatus' AS rhs,
               CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS violating_groups,
               ROUND(1.0 - CAST(SUM(m) AS DOUBLE) / SUM(n), 6) AS g3_rate
        FROM per2
    ), pair3 AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), per3 AS (
        SELECT a, MAX(c) AS m, SUM(c) AS n, COUNT(*) AS k FROM pair3 GROUP BY a
    ), r3 AS (
        SELECT 'o_orderpriority' AS lhs, 'o_orderstatus' AS rhs,
               CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS violating_groups,
               ROUND(1.0 - CAST(SUM(m) AS DOUBLE) / SUM(n), 6) AS g3_rate
        FROM per3
    ), pair4 AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), per4 AS (
        SELECT a, MAX(c) AS m, SUM(c) AS n, COUNT(*) AS k FROM pair4 GROUP BY a
    ), r4 AS (
        SELECT 'o_orderstatus' AS lhs, 'o_orderpriority' AS rhs,
               CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_groups,
               CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS violating_groups,
               ROUND(1.0 - CAST(SUM(m) AS DOUBLE) / SUM(n), 6) AS g3_rate
        FROM per4
    )
    SELECT * FROM r1 UNION ALL SELECT * FROM r2
    UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
    ORDER BY lhs, rhs
"""




ORACLES["interval_join"] = """
    WITH e AS (
        SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS t, event_type
        FROM events
    ), l AS (
        SELECT event_id, user_id, t AS ls, t + 3600000000 AS le
        FROM e WHERE event_type = 'view'
    ), r AS (
        SELECT event_id AS click_id, user_id, t AS rs, t + 3600000000 AS re
        FROM e WHERE event_type = 'click'
    )
    SELECT l.event_id, r.click_id, l.user_id, l.ls, r.rs
    FROM l JOIN r ON l.user_id = r.user_id
                 AND l.ls <= r.re AND r.rs <= l.le
"""

ORACLES["ols_multi"] = """
    WITH m AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               SUM(l_extendedprice) AS sy,
               SUM(l_extendedprice * l_extendedprice) AS syy,
               SUM(l_quantity) AS s1,
               SUM(l_quantity * l_extendedprice) AS s1y,
               SUM(l_quantity * l_quantity) AS s11,
               SUM(l_quantity * l_discount) AS s12,
               SUM(l_discount) AS s2,
               SUM(l_discount * l_extendedprice) AS s2y,
               SUM(l_discount * l_discount) AS s22
        FROM lineitem GROUP BY l_returnflag
    ), c AS (
        SELECT l_returnflag, n, sy, syy, s1, s1y, s11, s12, s2, s2y, s22,
               CAST(n AS DOUBLE) AS nd,
               CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
                   - s1 * (s1 * s22 - s12 * s2)
                   + s2 * (s1 * s12 - s11 * s2) AS det,
               sy * (s11 * s22 - s12 * s12)
                   - s1 * (s1y * s22 - s12 * s2y)
                   + s2 * (s1y * s12 - s11 * s2y) AS det0,
               CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
                   - sy * (s1 * s22 - s12 * s2)
                   + s2 * (s1 * s2y - s1y * s2) AS det1,
               CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
                   - s1 * (s1 * s2y - s1y * s2)
                   + sy * (s1 * s12 - s11 * s2) AS det2
        FROM m
    ), b AS (
        SELECT l_returnflag, n, sy, syy, s1y, s2y, nd,
               CASE WHEN ABS(det) > 1e-9 * nd * nd * nd THEN det0 / det END AS b0,
               CASE WHEN ABS(det) > 1e-9 * nd * nd * nd THEN det1 / det END AS b1,
               CASE WHEN ABS(det) > 1e-9 * nd * nd * nd THEN det2 / det END AS b2
        FROM c
    )
    SELECT l_returnflag, n,
           ROUND(b0, 6) AS intercept,
           ROUND(b1, 6) AS b_qty,
           ROUND(b2, 6) AS b_disc,
           ROUND(CASE WHEN (syy - sy * sy / nd) > 0
                 THEN 1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                          / (syy - sy * sy / nd) END, 6) AS r2
    FROM b ORDER BY l_returnflag
"""

ORACLES["zipf"] = """
    WITH norm AS (
        SELECT REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), tok AS (
        SELECT UNNEST(STRING_SPLIT(t, ' ')) AS term FROM norm
    ), counts AS (
        SELECT term, COUNT(*) AS c FROM tok WHERE LENGTH(term) > 0
        GROUP BY term
    ), totals AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        FROM counts
    ), top AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rnk
        FROM counts ORDER BY c DESC, term ASC LIMIT 500
    ), xy AS (
        SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y FROM top
    ), fit AS (
        SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM xy
    ), sl AS (
        SELECT CAST(m AS DOUBLE) AS md, sx, sy, sxy, sxx, syy,
               CASE WHEN (CAST(m AS DOUBLE) * sxx - sx * sx) != 0
                    THEN (CAST(m AS DOUBLE) * sxy - sx * sy)
                         / (CAST(m AS DOUBLE) * sxx - sx * sx) END AS slope
        FROM fit
    )
    SELECT t.n_tokens, t.n_types,
           ROUND(CAST(t.n_types AS DOUBLE) / t.n_tokens, 6) AS ttr,
           ROUND(CAST(t.hapax AS DOUBLE) / t.n_types, 6) AS hapax_ratio,
           ROUND(s.slope, 6) AS zipf_slope,
           ROUND((s.sy - s.slope * s.sx) / s.md, 6) AS zipf_intercept,
           ROUND(CASE WHEN (s.md * s.sxx - s.sx * s.sx) != 0
                       AND (s.md * s.syy - s.sy * s.sy) != 0
                 THEN ((s.md * s.sxy - s.sx * s.sy) * (s.md * s.sxy - s.sx * s.sy))
                      / ((s.md * s.sxx - s.sx * s.sx) * (s.md * s.syy - s.sy * s.sy))
                 END, 6) AS zipf_r2
    FROM totals t, sl s
"""




ORACLES["assoc_rules"] = """
    WITH b AS (
        SELECT DISTINCT
               CAST(user_id AS VARCHAR) || '|' || CAST(CAST(ts AS DATE) AS VARCHAR) AS k,
               event_type AS i
        FROM events WHERE event_type IS NOT NULL
    ), n AS (SELECT COUNT(DISTINCT k) AS nb FROM b),
    it AS (SELECT i, COUNT(*) AS ci FROM b GROUP BY i),
    pr AS (
        SELECT a.i AS ia, c.i AS ib, COUNT(*) AS pair_n
        FROM b a JOIN b c ON a.k = c.k AND a.i < c.i
        GROUP BY 1, 2
        HAVING COUNT(*) >= 0.01 * (SELECT nb FROM n)
    ), j AS (
        SELECT p.ia, p.ib, p.pair_n, ua.ci AS ca, ub.ci AS cb, n.nb
        FROM pr p JOIN it ua ON p.ia = ua.i JOIN it ub ON p.ib = ub.i
        CROSS JOIN n
    ), rules AS (
        SELECT ia AS antecedent, ib AS consequent, pair_n,
               pair_n / CAST(nb AS DOUBLE) AS support,
               pair_n / CAST(ca AS DOUBLE) AS confidence,
               pair_n * CAST(nb AS DOUBLE) / (ca * cb) AS lift
        FROM j
        UNION ALL
        SELECT ib, ia, pair_n,
               pair_n / CAST(nb AS DOUBLE),
               pair_n / CAST(cb AS DOUBLE),
               pair_n * CAST(nb AS DOUBLE) / (ca * cb)
        FROM j
    )
    SELECT antecedent, consequent, pair_n,
           ROUND(support, 6) AS support,
           ROUND(confidence, 6) AS confidence,
           ROUND(lift, 6) AS lift
    FROM rules
    ORDER BY lift DESC, antecedent ASC, consequent ASC
    LIMIT 20
"""




ORACLES["dsir_select"] = """
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0
    ), tgt AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
    ), cn AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM corpus
    ), ca AS (
        SELECT doc_id,
               CASE WHEN t IS NULL OR length(t) = 0 THEN []::VARCHAR[]
                    ELSE string_split(t, ' ') END AS a
        FROM cn
    ), ctok AS (
        SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos FROM ca
    ), tn AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM tgt
    ), ta AS (
        SELECT doc_id,
               CASE WHEN t IS NULL OR length(t) = 0 THEN []::VARCHAR[]
                    ELSE string_split(t, ' ') END AS a
        FROM tn
    ), ttok AS (
        SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos FROM ta
    ), runi AS (SELECT w, COUNT(*) AS c FROM ctok GROUP BY w),
    rbig AS (
        SELECT t1.w AS w1, t2.w AS w2, COUNT(*) AS c
        FROM ctok t1 JOIN ctok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        GROUP BY 1, 2
    ), tuni AS (SELECT w, COUNT(*) AS c FROM ttok GROUP BY w),
    tbig AS (
        SELECT t1.w AS w1, t2.w AS w2, COUNT(*) AS c
        FROM ttok t1 JOIN ttok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        GROUP BY 1, 2
    ), tv AS (SELECT COUNT(*) + 1.0 AS v1 FROM tuni),
    rv AS (SELECT COUNT(*) + 1.0 AS v1 FROM runi),
    pairs AS (
        SELECT t1.doc_id, t1.w AS w1, t2.w AS w2
        FROM ctok t1 JOIN ctok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
    ), dlp AS (
        SELECT p.doc_id,
               ln((COALESCE(tb.c, 0) + 0.1) / (COALESCE(tu.c, 0) + 0.1 * tv.v1))
             - ln((COALESCE(rb.c, 0) + 0.1) / (COALESCE(ru.c, 0) + 0.1 * rv.v1))
                   AS dlp
        FROM pairs p
        LEFT JOIN tbig tb ON p.w1 = tb.w1 AND p.w2 = tb.w2
        LEFT JOIN tuni tu ON p.w1 = tu.w
        LEFT JOIN rbig rb ON p.w1 = rb.w1 AND p.w2 = rb.w2
        LEFT JOIN runi ru ON p.w1 = ru.w
        CROSS JOIN tv CROSS JOIN rv
    ), per AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, SUM(dlp) AS log_w
        FROM dlp GROUP BY doc_id
    ), keyed AS (
        SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, log_w,
               log_w + (-ln(-ln(
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'dsir'), 1, 8))
                         AS UBIGINT) % 1000000 + 0.5) / 1000000.0
               ))) AS sel_key
        FROM per
    )
    SELECT doc_id, n_bigrams, ROUND(log_w, 6) AS log_w,
           ROUND(sel_key, 6) AS sel_key
    FROM keyed
    ORDER BY sel_key DESC, doc_id ASC
    LIMIT 50
"""




# pii_redact twin: the patterns are imported from PII_PATTERNS at module
# load in __spark_entry__ spirit — here inlined verbatim (Java/RE2-shared
# syntax), nested in sorted-kind order (email, ipv4, phone, ssn)
ORACLES["pii_redact"] = """
    WITH pl AS (
        SELECT doc_id,
               text || ' ' || 'user' || CAST(doc_id AS VARCHAR) || '@mail.com'
                    || ' ' || 'ssn 123-45-6789 ip 10.0.0.1' AS t
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[PII]', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[PII]', 'g'),
               '\\+?\\d{1,3}[-. ]?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}', '[PII]', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[PII]', 'g') AS text_redacted
    FROM pl
"""




ORACLES["seasonal"] = """
    WITH b AS (
        SELECT event_id, event_type, value,
               CAST(dayofweek(ts) * 24 + hour(ts) AS INT) AS bucket
        FROM events
    ), prof AS (
        SELECT event_type, bucket, COUNT(*) AS n,
               AVG(value) AS m, STDDEV(value) AS sd
        FROM b GROUP BY event_type, bucket
    )
    SELECT b.event_id, b.event_type, b.bucket,
           ROUND(b.value - p.m, 6) AS resid,
           ROUND(CASE WHEN p.n >= 5 AND p.sd > 0
                 THEN (b.value - p.m) / p.sd END, 6) AS resid_z
    FROM b JOIN prof p ON b.event_type = p.event_type AND b.bucket = p.bucket
"""




ORACLES["rake"] = """
    WITH c0 AS (
        SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM c0),
    w0 AS (SELECT event_type, dow, n, CAST(n AS DOUBLE) AS w FROM c0),
    m1 AS (SELECT event_type, SUM(w) AS s FROM w0 GROUP BY event_type),
    w1 AS (
        SELECT w0.event_type, w0.dow, w0.n, w0.w * (0.2 * tot.t / m1.s) AS w
        FROM w0 JOIN m1 USING (event_type) CROSS JOIN tot
    ),
    m2 AS (SELECT dow, SUM(w) AS s FROM w1 GROUP BY dow),
    w2 AS (
        SELECT w1.event_type, w1.dow, w1.n, w1.w * ((1.0/7.0) * tot.t / m2.s) AS w
        FROM w1 JOIN m2 USING (dow) CROSS JOIN tot
    ),
    m3 AS (SELECT event_type, SUM(w) AS s FROM w2 GROUP BY event_type),
    w3 AS (
        SELECT w2.event_type, w2.dow, w2.n, w2.w * (0.2 * tot.t / m3.s) AS w
        FROM w2 JOIN m3 USING (event_type) CROSS JOIN tot
    ),
    m4 AS (SELECT dow, SUM(w) AS s FROM w3 GROUP BY dow),
    w4 AS (
        SELECT w3.event_type, w3.dow, w3.n, w3.w * ((1.0/7.0) * tot.t / m4.s) AS w
        FROM w3 JOIN m4 USING (dow) CROSS JOIN tot
    ),
    m5 AS (SELECT event_type, SUM(w) AS s FROM w4 GROUP BY event_type),
    w5 AS (
        SELECT w4.event_type, w4.dow, w4.n, w4.w * (0.2 * tot.t / m5.s) AS w
        FROM w4 JOIN m5 USING (event_type) CROSS JOIN tot
    ),
    m6 AS (SELECT dow, SUM(w) AS s FROM w5 GROUP BY dow),
    w6 AS (
        SELECT w5.event_type, w5.dow, w5.n, w5.w * ((1.0/7.0) * tot.t / m6.s) AS w
        FROM w5 JOIN m6 USING (dow) CROSS JOIN tot
    )
    SELECT event_type, dow, CAST(n AS BIGINT) AS n,
           ROUND(w, 6) AS w,
           ROUND(w / n, 6) AS factor
    FROM w6
"""


def _kcenter_oracle_sql(k: int = 8) -> str:
    """Unrolled Gonzalez greedy k-center twin for q_kcenter: round 0 is
    the min-id seed; each round r picks argmax (ROUND(d, 6) DESC, id
    ASC — the SORT KEY is rounded to match kcenter_select's
    argmax_round=6, so a 1-ulp cross-engine dot difference can never
    flip a pick and cascade through the remaining sequence) of the
    running min cosine-distance d over centers 0..r-1, then dN+1
    updates d with LEAST against the new center. Same unrolled-CTE
    trick as rake's IPF oracle — the iteration count is a fixed
    literal, so the 'iterative, no SQL twin' exemption no longer
    applies at fixed k. list_dot_product matches Spark's fold dot at
    6-dp rounding (the semantic_dedup/ann oracles already rely on
    this)."""
    parts = [
        """
    WITH u AS (
        SELECT vec_id AS id,
               CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                    ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
               END AS v
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
              WHERE embedding IS NOT NULL)
    ), r0 AS (SELECT id, v FROM u ORDER BY id ASC LIMIT 1),
    d1 AS (SELECT u.id, u.v, 1.0 - list_dot_product(u.v, r0.v) AS d
           FROM u CROSS JOIN r0 WHERE u.id <> r0.id)"""
    ]
    for r in range(1, k):
        parts.append(
            f""",
    r{r} AS (SELECT id, v, d FROM d{r} ORDER BY ROUND(d, 6) DESC, id ASC LIMIT 1)"""
        )
        if r < k - 1:
            parts.append(
                f""",
    d{r + 1} AS (SELECT t.id, t.v,
                 LEAST(t.d, 1.0 - list_dot_product(t.v, r{r}.v)) AS d
                 FROM d{r} t CROSS JOIN r{r} WHERE t.id <> r{r}.id)"""
            )
    selects = [
        "SELECT CAST(0 AS BIGINT) AS round, id, CAST(NULL AS DOUBLE) AS dist FROM r0"
    ] + [
        f"SELECT CAST({r} AS BIGINT) AS round, id, ROUND(d, 6) AS dist FROM r{r}"
        for r in range(1, k)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


ORACLES["kcenter"] = _kcenter_oracle_sql(k=8)


def _mmr_oracle_sql(k: int = 6, lam: float = 0.7) -> str:
    """Unrolled MMR twin for q_mmr: rel = dot(unit v, unit q) computed
    once; round r picks argmax (ROUND(score, 6) DESC, id ASC — sort-key
    rounding matched to mmr_select's argmax_round=6 so a near-tie can't
    flip the pick chain) of lam*rel - (1-lam)*ms,
    then mN+1 updates ms with GREATEST against the new pick. The lam
    coefficients are emitted with repr() so the SQL literal reproduces
    the exact double Spark multiplies by (1.0 - 0.7 is
    0.30000000000000004, not 0.3)."""
    a, b = repr(float(lam)), repr(1.0 - float(lam))
    parts = [
        """
    WITH u AS (
        SELECT vec_id AS id,
               CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                    ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
               END AS v
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
              WHERE embedding IS NOT NULL)
    ), qv AS (SELECT v FROM u WHERE id = 0),
    m0 AS (SELECT u.id, u.v, list_dot_product(u.v, qv.v) AS rel, 0.0 AS ms
           FROM u CROSS JOIN qv WHERE u.id <> 0)"""
    ]
    for r in range(k):
        parts.append(
            f""",
    r{r} AS (SELECT id, v, rel, ({a} * rel) - ({b} * ms) AS score
             FROM m{r} ORDER BY ROUND(score, 6) DESC, id ASC LIMIT 1)"""
        )
        if r < k - 1:
            parts.append(
                f""",
    m{r + 1} AS (SELECT t.id, t.v, t.rel,
                 GREATEST(t.ms, list_dot_product(t.v, r{r}.v)) AS ms
                 FROM m{r} t CROSS JOIN r{r} WHERE t.id <> r{r}.id)"""
            )
    selects = [
        f"SELECT CAST({r} AS BIGINT) AS round, id, ROUND(rel, 6) AS rel,"
        f" ROUND(score, 6) AS mmr FROM r{r}"
        for r in range(k)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(selects)


ORACLES["mmr"] = _mmr_oracle_sql(k=6, lam=0.7)


def _ann_pq_adc_oracle_sql(books: list[list[list[float]]], k: int = 15) -> str:
    """Generated twin for q_ann_pq_adc: per subspace j the squared-L2 to
    each centroid c is an explicit left-associated chain (bit-identical
    to Spark's 0.0-seeded fold — IEEE 0+x0 == x0), code_j is
    list_position-of-list_min (first-min, matching array_position /
    array_min), the LUT is the same chains over the query vector, and
    adc sums the per-subspace lookups in j order. Codebook literals are
    dyadic rationals (repr() emits them exactly). Ranking is over the
    ROUNDED adc so a 1-ulp difference can't reorder."""
    m, kc, dsub = len(books), len(books[0]), len(books[0][0])

    def d_expr(src: str, j: int, c: int) -> str:
        return " + ".join(
            f"({src}[{j * dsub + t + 1}] - {v!r}) * ({src}[{j * dsub + t + 1}] - {v!r})"
            for t, v in enumerate(books[j][c])
        )

    dcols = ",\n           ".join(
        f"({d_expr('e', j, c)}) AS d_{j}_{c}" for j in range(m) for c in range(kc)
    )
    ccols = ",\n           ".join(
        "(list_position([{lst}], list_min([{lst}])) - 1) AS c_{j}".format(
            lst=", ".join(f"d_{j}_{c}" for c in range(kc)), j=j
        )
        for j in range(m)
    )
    lutcols = ",\n           ".join(
        f"({d_expr('qv', j, c)}) AS l_{j}_{c}" for j in range(m) for c in range(kc)
    )
    adc = " + ".join(
        "[{lst}][c_{j} + 1]".format(
            lst=", ".join(f"l_{j}_{c}" for c in range(kc)), j=j
        )
        for j in range(m)
    )
    return f"""
    WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE embedding IS NOT NULL),
    q AS (SELECT e AS qv FROM v WHERE id = 0),
    d AS (SELECT id, {dcols} FROM v WHERE id <> 0),
    c AS (SELECT id, {ccols} FROM d),
    lut AS (SELECT {lutcols} FROM q),
    scored AS (SELECT c.id, ({adc}) AS adc FROM c CROSS JOIN lut),
    top AS (SELECT id, ROUND(adc, 6) AS adc FROM scored
            ORDER BY ROUND(adc, 6) ASC, id ASC LIMIT {k})
    SELECT id AS vec_id, adc,
           CAST(ROW_NUMBER() OVER (ORDER BY adc ASC, id ASC) AS BIGINT) AS rank
    FROM top"""


ORACLES["ann_pq_adc"] = _ann_pq_adc_oracle_sql(_PQ_ADC_BOOKS, k=15)


def _glm_moments_oracle_sql() -> str:
    """Generated twin for q_glm_moments: the 15 upper-triangle moments
    of [l_quantity, disc_c, tax_c, 1, price_d] as a UNION ALL chain.
    Every column is integral by construction, so SUM(x_i*x_j) is exact
    in both engines regardless of summation order."""
    names = ["l_quantity", "disc_c", "tax_c", "_intercept", "_y"]
    parts = [
        """
    WITH b AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x0,
               FLOOR(CAST(l_discount AS DOUBLE) * 100.0 + 0.5) AS x1,
               FLOOR(CAST(l_tax AS DOUBLE) * 100.0 + 0.5) AS x2,
               1.0 AS x3,
               FLOOR(CAST(l_extendedprice AS DOUBLE)) AS x4
        FROM lineitem
    )
    SELECT i, j, term_i, term_j, moment FROM ("""
    ]
    sel = []
    for i in range(5):
        for j in range(i, 5):
            sel.append(
                f"SELECT {i} AS i, {j} AS j, '{names[i]}' AS term_i, "
                f"'{names[j]}' AS term_j, SUM(x{i} * x{j}) AS moment FROM b"
            )
    parts.append("\n    UNION ALL ".join(sel))
    parts.append(") ORDER BY i, j")
    return "\n    ".join(parts)


ORACLES["glm_moments"] = _glm_moments_oracle_sql()


def _nn_forward_oracle_sql() -> str:
    """Generated twin for q_nn_forward: the 2->3(leakyrelu)->1(linear)
    forward pass as explicit mul/add/CASE chains with the same dyadic
    weight literals the Spark-side NNModel carries. Association order
    mirrors numpy's X@W + b (row dot, then bias add); the 6-dp rounding
    absorbs any BLAS FMA/unroll ulp differences."""
    w1, w2 = _fixed_nn_weights()
    # plain Python floats: np.float64!r under NumPy >= 2.0 renders as
    # 'np.float64(0.25)', which DuckDB cannot parse (round-7 ADVICE)
    w1, w2 = w1.tolist(), w2.tolist()
    a_exprs = [
        f"((qty_s * {w1[0][j]!r} + disc * {w1[1][j]!r}) + {w1[2][j]!r})"
        for j in range(3)
    ]
    h_exprs = [
        f"(CASE WHEN {a} > 0 THEN {a} ELSE 0.1 * {a} END)" for a in a_exprs
    ]
    pred = (
        f"((({h_exprs[0]} * {w2[0][0]!r} + {h_exprs[1]} * {w2[1][0]!r}) "
        f"+ {h_exprs[2]} * {w2[2][0]!r}) + {w2[3][0]!r})"
    )
    return f"""
    WITH d AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) / 50.0 AS qty_s,
               CAST(l_discount AS DOUBLE) AS disc
        FROM lineitem WHERE l_orderkey % 17 = 0
    )
    SELECT l_orderkey, l_linenumber,
           ROUND({pred} * 3.141592653589793, 6) AS pred FROM d"""


ORACLES["nn_forward"] = _nn_forward_oracle_sql()


def _marginal_fixed_oracle_sql(n_seg: int = 6, n_sweep: int = 4,
                               take: int = 500) -> str:
    """Generated twin for q_marginal_fixed: replay the WHOLE marginal
    pipeline in SQL — π-scaled dyadic forward pass (mul/add/CASE, same
    left association as numpy's row dot), NTILE over the 6-dp-rounded
    fitted value with the deterministic tie column (identical to
    rank.ntile_bucket_col's closed form), per-segment smallest-tie
    sample of `take`, the q0 + (Δ/5)·g sweep grid from the SAME min/max
    (single IEEE ops in the same order → bit-equal grid points), and the
    (segment, sweep) mean/sd/n aggregation at 6 dp."""
    w1, w2 = _marginal_fixed_weights()
    w1, w2 = w1.tolist(), w2.tolist()

    def fwd(qty: str, disc: str) -> str:
        a = [
            f"(({qty} * {w1[0][j]!r} + {disc} * {w1[1][j]!r}) + {w1[2][j]!r})"
            for j in range(3)
        ]
        h = [f"(CASE WHEN {x} > 0 THEN {x} ELSE 0.1 * {x} END)" for x in a]
        return (
            f"((({h[0]} * {w2[0][0]!r} + {h[1]} * {w2[1][0]!r}) "
            f"+ {h[2]} * {w2[2][0]!r}) + {w2[3][0]!r})"
        )

    grid_vals = ", ".join(f"({float(g)!r})" for g in range(1, n_sweep + 1))
    return f"""
    WITH base AS (
        SELECT l_orderkey * 8 + l_linenumber AS tie,
               CAST(l_quantity AS DOUBLE) / 50.0 AS qty_s,
               CAST(l_discount AS DOUBLE) AS disc
        FROM lineitem WHERE l_orderkey % 17 = 0
    ),
    sc AS (SELECT tie, qty_s, disc, {fwd('qty_s', 'disc')} AS mfit0 FROM base),
    seg AS (SELECT tie, disc,
                   NTILE({n_seg}) OVER (ORDER BY ROUND(mfit0, 6) DESC, tie ASC)
                       AS fit_seg
            FROM sc),
    samp AS (SELECT fit_seg, disc FROM (
                 SELECT fit_seg, disc,
                        ROW_NUMBER() OVER (PARTITION BY fit_seg ORDER BY tie ASC)
                            AS rn
                 FROM seg) WHERE rn <= {take}),
    mm AS (SELECT MIN(qty_s) AS q0, MAX(qty_s) AS q100 FROM base),
    grid AS (SELECT q0 + ((q100 - q0) / 5.0) * g AS x_value
             FROM mm CROSS JOIN (VALUES {grid_vals}) t(g)),
    sw AS (SELECT s.fit_seg, g.x_value, {fwd('g.x_value', 's.disc')} AS mfit1
           FROM samp s CROSS JOIN grid g)
    SELECT CAST(fit_seg AS BIGINT) AS fit_seg,
           ROUND(x_value, 6) AS x_value,
           ROUND(AVG(mfit1), 6) AS mean_fit,
           ROUND(STDDEV_SAMP(mfit1), 6) AS sd_fit,
           COUNT(*) AS n
    FROM sw GROUP BY fit_seg, x_value ORDER BY fit_seg, x_value"""


ORACLES["marginal_fixed"] = _marginal_fixed_oracle_sql()


def _irr_bisect_oracle_sql(steps: int = 40, npv_round: int = 4) -> str:
    """Generated twin for q_irr_bisect: the 40-step bisection unrolled as
    a CTE chain (the kcenter/rake unroll applied to a root-finder). Each
    step is one correlated scalar subquery computing the ROUNDED
    f(mid) = npv(mid) − cost over the indexed flow relation, then a CASE
    bracket update identical to agg.irr_bisect's: flo·fm ≤ 0 keeps
    (lo, flo) and moves hi, else (lo, flo) ← (mid, fm). The dyadic
    bracket [0, 4] makes every midpoint an exact double, so matching
    sign decisions yield a bit-equal rate."""

    def fm(lo: str, hi: str) -> str:
        return (
            f"(SELECT ROUND(SUM(v / POWER(1.0 + ({lo} + {hi}) / 2.0, i)) "
            f"- (SELECT c FROM cst), {npv_round}) FROM flows)"
        )

    parts = [f"""
    WITH flows AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS DOUBLE)
                   AS i,
               CAST(value AS DOUBLE) AS v
        FROM events WHERE user_id = 0
    ),
    cst AS (SELECT SUM(v) / 2.0 AS c FROM flows),
    s0 AS (SELECT 0.0 AS lo, 4.0 AS hi,
                  (SELECT ROUND(SUM(v / POWER(1.0, i))
                                - (SELECT c FROM cst), {npv_round})
                   FROM flows) AS flo)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
    s{k} AS (SELECT CASE WHEN flo * fm <= 0 THEN lo ELSE mid END AS lo,
                    CASE WHEN flo * fm <= 0 THEN mid ELSE hi END AS hi,
                    CASE WHEN flo * fm <= 0 THEN flo ELSE fm END AS flo
             FROM (SELECT lo, hi, flo, (lo + hi) / 2.0 AS mid,
                          {fm('lo', 'hi')} AS fm
                   FROM s{k - 1}))""")
    parts.append(f"""
    SELECT ROUND((lo + hi) / 2.0, 6) AS rate FROM s{steps}""")
    return "".join(parts)


ORACLES["irr_bisect"] = _irr_bisect_oracle_sql()


def _irr_by_bisect_oracle_sql(steps: int = 40, npv_round: int = 4) -> str:
    """Generated twin for q_irr_by_bisect: the grouped 40-step bisection
    unrolled as a CTE chain where each step is ONE grouped aggregate —
    every user's rounded f(mid) = npv((lo+hi)/2) − cost computed in a
    single GROUP BY over the flows-join-bracket relation, then the same
    CASE bracket update as agg.irr_by_bisect. Groups without a sign
    change in [0, 4] carry ok=false and emit rate NULL. Every CTE is
    MATERIALIZED: DuckDB's default inlining re-evaluates the grouped
    step chain ~2x per level (exponential past ~12 steps, measured);
    materialization makes it the linear 40-pass chain the Spark side
    runs (0.2s at sf0.01)."""
    head = f"""
    WITH flows AS MATERIALIZED (
        SELECT user_id AS k,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) - 1 AS DOUBLE)
                   AS i,
               CAST(value AS DOUBLE) AS v
        FROM events WHERE user_id < 12
    ),
    cst AS MATERIALIZED (SELECT k, SUM(v) / 2.0 AS c FROM flows GROUP BY k),
    s0 AS MATERIALIZED (
        SELECT f.k, 0.0 AS lo, 4.0 AS hi,
               ROUND(SUM(f.v / POWER(1.0, f.i)) - MAX(cst.c), {npv_round})
                   AS flo,
               (ROUND(SUM(f.v / POWER(1.0, f.i)) - MAX(cst.c), {npv_round})
                * ROUND(SUM(f.v / POWER(5.0, f.i)) - MAX(cst.c), {npv_round})
                <= 0) AS ok
        FROM flows f JOIN cst ON cst.k = f.k
        GROUP BY f.k
    )"""
    parts = [head]
    for k in range(1, steps + 1):
        parts.append(f""",
    s{k} AS MATERIALIZED (
        SELECT k,
               CASE WHEN flo * fm <= 0 THEN lo ELSE mid END AS lo,
               CASE WHEN flo * fm <= 0 THEN mid ELSE hi END AS hi,
               CASE WHEN flo * fm <= 0 THEN flo ELSE fm END AS flo,
               ok
        FROM (
            SELECT s.k, s.lo, s.hi, s.flo, s.ok,
                   (s.lo + s.hi) / 2.0 AS mid,
                   ROUND(SUM(f.v / POWER(1.0 + (s.lo + s.hi) / 2.0, f.i))
                         - MAX(cst.c), {npv_round}) AS fm
            FROM s{k - 1} s
            JOIN flows f ON f.k = s.k
            JOIN cst ON cst.k = s.k
            GROUP BY s.k, s.lo, s.hi, s.flo, s.ok
        )
    )""")
    parts.append(f"""
    SELECT k AS user_id,
           CASE WHEN ok THEN ROUND((lo + hi) / 2.0, 6) END AS rate
    FROM s{steps} ORDER BY user_id""")
    return "".join(parts)


ORACLES["irr_by_bisect"] = _irr_by_bisect_oracle_sql()


# silhouette twin: reuses the semantic_dedup oracle's seed-centroid
# assignment skeleton (list_dot_product ≡ the Spark fold dot at 6 dp,
# pytest-proven), then a = 1 − cos(own cell), b = 1 − max cos(other cells),
# s = (b − a)/max(a, b), aggregated per cluster
ORACLES["silhouette"] = """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), u AS (
        SELECT vec_id,
               CASE WHEN sqrt(list_dot_product(e, e)) = 0 THEN e
                    ELSE list_transform(e, x -> x / sqrt(list_dot_product(e, e)))
               END AS ve
        FROM v
    ), seeds AS (
        SELECT vec_id AS cell, ve AS cv FROM u ORDER BY vec_id LIMIT 8
    ), scored AS (
        SELECT u.vec_id, s.cell, list_dot_product(u.ve, s.cv) AS cos
        FROM u CROSS JOIN seeds s
    ), assigned AS (
        SELECT vec_id, cell AS own FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cell ASC) AS rk
            FROM scored
        ) WHERE rk = 1
    ), ab AS (
        SELECT sc.vec_id, a.own,
               MAX(CASE WHEN sc.cell = a.own THEN 1.0 - sc.cos END) AS a_d,
               MIN(CASE WHEN sc.cell <> a.own THEN 1.0 - sc.cos END) AS b_d
        FROM scored sc JOIN assigned a USING (vec_id)
        GROUP BY sc.vec_id, a.own
    ), sil AS (
        SELECT own,
               CASE WHEN GREATEST(a_d, b_d) <= 0 THEN 0.0
                    ELSE (b_d - a_d) / GREATEST(a_d, b_d) END AS s
        FROM ab
    )
    SELECT CAST(own AS BIGINT) AS cluster, COUNT(*) AS n,
           ROUND(AVG(s), 6) AS mean_sil, ROUND(MIN(s), 6) AS min_sil
    FROM sil GROUP BY own ORDER BY cluster
"""


def _bpe_train_oracle_sql(n_merges: int = 10) -> str:
    """Generated twin for q_bpe_train: the merge loop unrolled as a CTE
    chain. Per round — pair counts via UNNEST of the adjacent-pair list
    (overlapping, the reference get_stats semantics), argmax by
    (count DESC, pair ASC) over ASCII strings (binary order in both
    engines), merge applied with literal REPLACE of ' a b ' → ' ab '
    (leftmost-first non-overlapping in both engines, verified). All
    counts integral — nothing to round anywhere."""
    parts = ["""
    WITH wc AS (
        SELECT w, COUNT(*) AS cnt FROM (
            SELECT UNNEST(STR_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)),
                                                   '\\s+', ' ', 'g'), ' ')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY w
    ),
    w0 AS (
        SELECT ' ' || REGEXP_REPLACE(w, '(.)', '\\1 ', 'g') || '</w> ' AS s,
               cnt
        FROM wc
    )"""]
    for k in range(1, n_merges + 1):
        parts.append(f""",
    p{k} AS (
        SELECT p, SUM(cnt) AS n FROM (
            SELECT cnt,
                   UNNEST(CASE WHEN LEN(toks) >= 2
                          THEN list_transform(generate_series(1, LEN(toks) - 1),
                               j -> toks[j] || ' ' || toks[j + 1])
                          ELSE [] END) AS p
            FROM (SELECT cnt, STR_SPLIT(TRIM(s), ' ') AS toks FROM w{k - 1})
        ) GROUP BY p
    ),
    t{k} AS (SELECT p, n FROM p{k} ORDER BY n DESC, p ASC LIMIT 1),
    w{k} AS (
        SELECT REPLACE(s, ' ' || p || ' ',
                       ' ' || REPLACE(p, ' ', '') || ' ') AS s, cnt
        FROM w{k - 1} CROSS JOIN t{k}
    )""")
    sel = "\n    UNION ALL ".join(
        f"SELECT {k} AS rank, SPLIT_PART(p, ' ', 1) AS lhs, "
        f"SPLIT_PART(p, ' ', 2) AS rhs, REPLACE(p, ' ', '') AS merged, "
        f"CAST(n AS BIGINT) AS pair_count FROM t{k}"
        for k in range(1, n_merges + 1)
    )
    parts.append(f"""
    SELECT CAST(rank AS BIGINT) AS rank, lhs, rhs, merged, pair_count
    FROM ({sel}) ORDER BY rank""")
    return "".join(parts)


ORACLES["bpe_train"] = _bpe_train_oracle_sql()


def _bpe_encode_oracle_sql(merges: list[tuple[str, str]], k: int = 20) -> str:
    """Generated twin for q_bpe_encode: the same fixed merge chain as
    nested REPLACE calls per word (leftmost-first in both engines),
    token explode, integer counts, (n DESC, tok ASC) top-k."""
    expr = "' ' || REGEXP_REPLACE(w, '(.)', '\\1 ', 'g') || '</w> '"
    for a, b in merges:
        expr = f"REPLACE({expr}, ' {a} {b} ', ' {a + b} ')"
    return f"""
    WITH w AS (
        SELECT UNNEST(STR_SPLIT(REGEXP_REPLACE(LOWER(TRIM(text)),
                                               '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
    ), e AS (
        SELECT {expr} AS s FROM w WHERE regexp_matches(w, '^[a-z]+$')
    ), t AS (
        SELECT UNNEST(STR_SPLIT(TRIM(s), ' ')) AS tok FROM e
    )
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY tok
    ORDER BY n DESC, tok ASC LIMIT {k}"""


ORACLES["bpe_encode"] = _bpe_encode_oracle_sql(_BPE_FIXED_MERGES)


ORACLES["k_anonymity"] = """
    WITH cls AS (
        SELECT lang, source, FLOOR(n_chars / 200) AS len_b,
               COUNT(*) AS cnt
        FROM documents GROUP BY lang, source, FLOOR(n_chars / 200)
    )
    SELECT CAST(5 AS BIGINT) AS k,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(cnt) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_classes,
           CAST(SUM(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
               AS violating_rows
    FROM cls
"""


ORACLES["ranking_metrics"] = """
    WITH ranked AS (
        SELECT event_type AS query,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ROUND(value, 6) DESC, event_id ASC) AS rnk,
               CAST(user_id % 4 AS INTEGER) AS rel
        FROM events WHERE user_id < 200
    ), ideal AS (
        SELECT query, rnk, rel,
               ROW_NUMBER() OVER (PARTITION BY query
                                  ORDER BY CAST(rel AS DOUBLE) DESC, rnk ASC) AS irank
        FROM ranked
    ), agg AS (
        SELECT query, COUNT(*) AS n,
               SUM(CASE WHEN rnk <= 10 THEN
                   (POWER(2.0, CAST(rel AS DOUBLE)) - 1.0) / log2(rnk + 1) END) AS dcg,
               SUM(CASE WHEN irank <= 10 THEN
                   (POWER(2.0, CAST(rel AS DOUBLE)) - 1.0) / log2(irank + 1) END) AS idcg,
               MIN(CASE WHEN rnk <= 10 AND CAST(rel AS DOUBLE) > 0.0 THEN rnk END) AS fr,
               SUM(CASE WHEN rnk <= 10 AND CAST(rel AS DOUBLE) > 0.0 THEN 1 ELSE 0 END) AS hits
        FROM ideal GROUP BY query
    )
    SELECT query, n,
           ROUND(COALESCE(dcg, 0.0), 6) AS dcg,
           ROUND(COALESCE(idcg, 0.0), 6) AS idcg,
           ROUND(CASE WHEN idcg > 0.0 THEN dcg / idcg END, 6) AS ndcg,
           ROUND(CASE WHEN fr IS NOT NULL THEN 1.0 / fr ELSE 0.0 END, 6) AS mrr,
           ROUND(hits / 10.0, 6) AS "precision"
    FROM agg
"""


ORACLES["anova"] = """
    WITH d AS (
        SELECT dayofweek(ts) + 1 AS dow, -- DuckDB dayofweek 0=Sun; Spark 1=Sun
               event_type AS v, CAST(value AS DOUBLE) AS x
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), pv AS (
        SELECT dow, v, CAST(COUNT(*) AS DOUBLE) AS nj,
               SUM(x) AS sj, SUM(x * x) AS qj
        FROM d GROUP BY 1, 2
    ), a AS (
        SELECT dow, COUNT(*) AS k, SUM(nj) AS n, SUM(sj) AS s,
               SUM(qj) AS q, SUM(sj * sj / nj) AS g
        FROM pv GROUP BY dow
    )
    SELECT dow, k, CAST(n AS BIGINT) AS n,
           ROUND(g - s * s / n, 6) AS ssb,
           ROUND(q - g, 6) AS ssw,
           ROUND(CASE WHEN k >= 2 AND n > k AND (q - g) > 0
                      THEN ((g - s * s / n) / (k - 1.0)) / ((q - g) / (n - k))
                 END, 6) AS f_stat,
           ROUND(CASE WHEN (g - s * s / n) + (q - g) > 0
                      THEN (g - s * s / n) / ((g - s * s / n) + (q - g))
                 END, 6) AS eta_sq
    FROM a
"""


ORACLES["kruskal"] = """
    WITH d AS (
        SELECT dayofweek(ts) + 1 AS dow,
               event_type AS v, CAST(value AS DOUBLE) AS x
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), r AS (
        SELECT dow, v, x,
               RANK() OVER (PARTITION BY dow ORDER BY x ASC) AS rk,
               COUNT(*) OVER (PARTITION BY dow, x) AS t
        FROM d
    ), m AS (
        SELECT dow, v, rk + (t - 1) / 2.0 AS mid, t FROM r
    ), pv AS (
        SELECT dow, v, CAST(COUNT(*) AS DOUBLE) AS nj, SUM(mid) AS rj,
               SUM(t * t - 1.0) AS tiej
        FROM m GROUP BY 1, 2
    ), a AS (
        SELECT dow, COUNT(*) AS k, SUM(nj) AS n,
               SUM(rj * rj / nj) AS r2, SUM(tiej) AS ties
        FROM pv GROUP BY dow
    )
    SELECT dow, k, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN k >= 2 AND n >= 2
                      THEN 12.0 / (n * (n + 1.0)) * r2 - 3.0 * (n + 1.0)
                 END, 6) AS h,
           ROUND(CASE WHEN k >= 2 AND n >= 2
                           AND (1.0 - ties / (n * n * n - n)) > 0
                      THEN (12.0 / (n * (n + 1.0)) * r2 - 3.0 * (n + 1.0))
                           / (1.0 - ties / (n * n * n - n))
                 END, 6) AS h_corrected
    FROM a
"""


ORACLES["rrf"] = """
    WITH r AS (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY value DESC NULLS LAST,
                                           event_id ASC) AS rank_value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC NULLS LAST,
                                           event_id ASC) AS rank_recency
        FROM events
    ), f AS (
        SELECT event_type, event_id, rank_value, rank_recency,
               1.0 / (60.0 + rank_value) + 1.0 / (60.0 + rank_recency) AS rrf
        FROM r
    ), t AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY rrf DESC, event_id ASC) AS fr
        FROM f
    )
    SELECT event_type, event_id,
           CAST(rank_value AS BIGINT) AS rank_value,
           CAST(rank_recency AS BIGINT) AS rank_recency,
           ROUND(rrf, 6) AS rrf
    FROM t WHERE fr <= 5
"""


# token_divergence twin: same tokenizer as zipf's, same join shape, and the
# same closed-form missing-mass ln2 term as the Spark aggregation
ORACLES["token_divergence"] = """
    WITH norm AS (
        SELECT source, REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), tok AS (
        SELECT source, UNNEST(STRING_SPLIT(t, ' ')) AS term FROM norm
    ), gterm AS (
        SELECT source, term, COUNT(*) AS c FROM tok
        WHERE LENGTH(term) > 0 GROUP BY 1, 2
    ), cterm AS (
        SELECT term, SUM(c) AS ct FROM gterm GROUP BY 1
    ), ntot AS (SELECT SUM(ct) AS nt FROM cterm),
    gtot AS (SELECT source, SUM(c) AS ng FROM gterm GROUP BY 1),
    j AS (
        SELECT g.source,
               g.c,
               CAST(g.c AS DOUBLE) / gt.ng AS p,
               CAST(ct.ct AS DOUBLE) / ntot.nt AS q
        FROM gterm g
        JOIN cterm ct USING (term)
        JOIN gtot gt USING (source)
        CROSS JOIN ntot
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(SUM(p * LN(p / q)), 6) AS kl,
           ROUND(0.5 * SUM(p * LN(p / ((p + q) / 2.0)))
                 + 0.5 * (SUM(q * LN(q / ((p + q) / 2.0)))
                          + LN(2.0) * (1.0 - SUM(q))), 6) AS js,
           ROUND(SUM(q), 6) AS coverage
    FROM j GROUP BY source
"""


# cms twin: replays the md5-portable cell build, the probe hashing, and the
# min-over-depth lookup of sketches.cms_build/cms_estimate bit-for-bit
ORACLES["cms"] = """
    WITH base AS (
        SELECT CAST(user_id AS VARCHAR) AS item FROM events
        WHERE user_id IS NOT NULL
    ), rws AS (SELECT UNNEST(range(0, 3)) AS rw),
    cells AS (
        SELECT rw,
               CAST(('0x' || substr(md5(item || '#cms' || CAST(rw AS VARCHAR)), 1, 8))
                    AS UBIGINT) % 64 AS bucket,
               COUNT(*) AS cnt
        FROM base CROSS JOIN rws
        GROUP BY 1, 2
    ), items AS (SELECT DISTINCT item FROM base),
    probes AS (
        SELECT item, rw,
               CAST(('0x' || substr(md5(item || '#cms' || CAST(rw AS VARCHAR)), 1, 8))
                    AS UBIGINT) % 64 AS bucket
        FROM items CROSS JOIN rws
    ), est AS (
        SELECT p.item, MIN(COALESCE(c.cnt, 0)) AS est
        FROM probes p LEFT JOIN cells c ON p.rw = c.rw AND p.bucket = c.bucket
        GROUP BY 1
    ), exact AS (SELECT item, COUNT(*) AS true_n FROM base GROUP BY 1)
    SELECT e.item, CAST(e.est AS BIGINT) AS est,
           CAST(x.true_n AS BIGINT) AS true_n,
           e.est >= x.true_n AS bound_ok
    FROM est e JOIN exact x USING (item)
"""


ORACLES["pagerank"] = """
    WITH e AS (
        SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS s,
                        'p' || CAST(l_partkey AS VARCHAR) AS d
        FROM lineitem
    ), nodes AS (
        SELECT s AS node FROM e UNION SELECT d FROM e
    ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT s, COUNT(*) AS deg FROM e GROUP BY s),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
    c1 AS (
        SELECT e.d AS node, SUM(r0.rank / deg.deg) AS c
        FROM r0 JOIN e ON r0.node = e.s JOIN deg ON e.s = deg.s
        GROUP BY e.d
    ),
    r1 AS (
        SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * COALESCE(c1.c, 0.0) AS rank
        FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node
    ),
    c2 AS (
        SELECT e.d AS node, SUM(r1.rank / deg.deg) AS c
        FROM r1 JOIN e ON r1.node = e.s JOIN deg ON e.s = deg.s
        GROUP BY e.d
    ),
    r2 AS (
        SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * COALESCE(c2.c, 0.0) AS rank
        FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node
    ),
    c3 AS (
        SELECT e.d AS node, SUM(r2.rank / deg.deg) AS c
        FROM r2 JOIN e ON r2.node = e.s JOIN deg ON e.s = deg.s
        GROUP BY e.d
    ),
    r3 AS (
        SELECT nodes.node, (1 - 0.85) / nn.n + 0.85 * COALESCE(c3.c, 0.0) AS rank
        FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node
    )
    SELECT r3.node, ROUND(r3.rank * (nn.n * PI()), 6) AS rank_n
    FROM r3 CROSS JOIN nn
"""




ORACLES["url_stats"] = """
    WITH planted AS (
        SELECT doc_id,
               'https://user:pw@www.site' || CAST(doc_id % 7 AS VARCHAR)
                   || '.example' || CAST(doc_id % 3 AS VARCHAR)
                   || '.com:8443/docs/' || CAST(doc_id AS VARCHAR)
                   || '?ref=1' AS url
        FROM documents
    ), parts AS (
        SELECT doc_id,
               regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)
                   AS host,
               regexp_extract(
                   regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1),
                   '([^.]+\\.[^.]+)$', 1) AS domain,
               regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path
        FROM planted
    )
    SELECT domain, COUNT(*) AS n_docs,
           COUNT(DISTINCT host) AS n_hosts,
           MIN(path) AS first_path
    FROM parts GROUP BY domain
"""




ORACLES["ccnet_buckets"] = """
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), arr AS (
        SELECT doc_id,
               CASE WHEN t IS NULL OR length(t) = 0 THEN []::VARCHAR[]
                    ELSE string_split(t, ' ') END AS a
        FROM norm
    ), tok AS (
        SELECT doc_id, unnest(a) AS w, generate_subscripts(a, 1) AS pos FROM arr
    ), uni AS (
        SELECT w, COUNT(*) AS c FROM tok GROUP BY w
    ), big AS (
        SELECT t1.w AS w1, t2.w AS w2, COUNT(*) AS c
        FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
        GROUP BY 1, 2
    ), v AS (SELECT COUNT(*) + 1.0 AS v1 FROM uni),
    pairs AS (
        SELECT t1.doc_id, t1.w AS w1, t2.w AS w2
        FROM tok t1 JOIN tok t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
    ), lp AS (
        SELECT p.doc_id,
               ln((COALESCE(b.c, 0) + 0.1) / (COALESCE(u.c, 0) + 0.1 * v.v1)) AS lp
        FROM pairs p
        LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        LEFT JOIN uni u ON p.w1 = u.w
        CROSS JOIN v
    ), per AS (
        SELECT doc_id, COUNT(*) AS n_bigrams, AVG(lp) AS avg_logprob
        FROM lp GROUP BY doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(per.avg_logprob, 6) AS avg_logprob,
           CAST(NTILE(3) OVER (PARTITION BY d.source
                               ORDER BY ROUND(per.avg_logprob, 6) DESC,
                                        d.doc_id ASC) AS INT) AS ppl_bucket
    FROM documents d JOIN per ON d.doc_id = per.doc_id
"""




ORACLES["hashed_vectors"] = """
    WITH norm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), tok AS (
        SELECT doc_id, UNNEST(STRING_SPLIT(t, ' ')) AS w FROM norm
    ), hashed AS (
        SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(w), 1, 8)) AS UBIGINT) % 64 AS INT)
                   AS bucket,
               CASE WHEN CAST(('0x' || substr(md5(w), 9, 1)) AS UBIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM tok WHERE LENGTH(w) > 0
    ), cells AS (
        SELECT doc_id, bucket, SUM(s) AS raw
        FROM hashed GROUP BY doc_id, bucket
        HAVING SUM(s) != 0
    )
    SELECT doc_id, bucket,
           ROUND(raw / SQRT(SUM(raw * raw) OVER (PARTITION BY doc_id)), 6)
               AS weight
    FROM cells
"""




def _profile_side_sql(table: str, cols: list) -> str:
    return "\n    UNION ALL\n".join(
        f"""
    SELECT '{c}' AS col, '{dt}' AS dtype,
           CAST(COUNT({expr}) AS BIGINT) AS n_non_null,
           CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct
    FROM {table}"""
        for c, dt, expr in cols
    )


_PD_OLD = [
    ("o_orderkey", "bigint", "o_orderkey"),
    ("o_custkey", "bigint", "o_custkey"),
    ("o_orderstatus", "string", "o_orderstatus"),
    ("o_orderpriority", "string", "o_orderpriority"),
    ("o_totalprice", "double", "o_totalprice"),
]
_PD_NEW = [
    ("o_orderkey", "bigint", "o_orderkey"),
    ("o_custkey", "string", "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", "string", "o_orderstatus"),
    (
        "o_totalprice",
        "double",
        "CASE WHEN o_orderkey % 4 != 0 THEN o_totalprice END",
    ),
    ("o_flag", "int", "CAST(o_orderkey % 2 AS INT)"),
]

ORACLES["profile_diff"] = f"""
    WITH oldp AS ({_profile_side_sql("orders", _PD_OLD)}
    ), newp AS ({_profile_side_sql("orders", _PD_NEW)}
    ), j AS (
        SELECT COALESCE(o.col, n.col) AS "column",
               o.dtype AS odt, n.dtype AS ndt,
               CAST(o.n_null AS DOUBLE) / GREATEST(o.n_null + o.n_non_null, 1)
                   AS onr,
               CAST(n.n_null AS DOUBLE) / GREATEST(n.n_null + n.n_non_null, 1)
                   AS nnr,
               o.n_distinct AS ond, n.n_distinct AS nnd
        FROM oldp o FULL JOIN newp n ON o.col = n.col
    )
    SELECT "column",
           CASE WHEN odt IS NULL THEN 'added'
                WHEN ndt IS NULL THEN 'removed'
                WHEN odt != ndt THEN 'dtype_changed'
                WHEN ABS(nnr - onr) > 0.05
                     OR ABS(CAST(nnd - ond AS DOUBLE) / GREATEST(ond, 1)) > 0.5
                THEN 'drifted'
                ELSE 'ok' END AS status,
           odt AS old_dtype, ndt AS new_dtype,
           ROUND(nnr - onr, 6) AS null_rate_delta,
           ROUND(CAST(nnd - ond AS DOUBLE) / GREATEST(ond, 1), 6)
               AS distinct_rel_delta
    FROM j ORDER BY "column"
"""




ORACLES["benford"] = """
    WITH ok AS (
        SELECT l_returnflag,
               CAST(FLOOR(l_extendedprice /
                    POWER(10.0, FLOOR(LOG10(l_extendedprice)))) AS INT) AS digit
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0
    ), counts0 AS (
        SELECT l_returnflag, digit, COUNT(*) AS n_d
        FROM ok GROUP BY 1, 2
    ), skeleton AS (
        -- densify: every group gets all 9 digits, zero-count included
        SELECT k.l_returnflag, CAST(d.digit AS INT) AS digit
        FROM (SELECT DISTINCT l_returnflag FROM counts0) k
        CROSS JOIN (SELECT UNNEST(range(1, 10)) AS digit) d
    ), counts AS (
        SELECT s.l_returnflag, s.digit, COALESCE(c.n_d, 0) AS n_d
        FROM skeleton s LEFT JOIN counts0 c
          ON s.l_returnflag = c.l_returnflag AND s.digit = c.digit
    ), shared AS (
        SELECT l_returnflag, digit, n_d,
               CAST(n_d AS DOUBLE) / SUM(n_d) OVER (PARTITION BY l_returnflag)
                   AS share,
               LOG10(1 + 1.0 / digit) AS ben,
               SUM(n_d) OVER (PARTITION BY l_returnflag) AS n
        FROM counts
    )
    SELECT l_returnflag, digit, n_d,
           ROUND(share, 6) AS share,
           ROUND(ben, 6) AS benford,
           ROUND(SUM((share - ben) * (share - ben) / ben)
                     OVER (PARTITION BY l_returnflag) * n, 6) AS chi2
    FROM shared
"""

ORACLES["gini"] = """
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice AS x,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice ASC) AS i
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 0
    ), agg AS (
        SELECT l_returnflag, COUNT(*) AS n, SUM(x) AS sx, SUM(i * x) AS six
        FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN sx > 0
                 THEN (2.0 * six) / (CAST(n AS DOUBLE) * sx)
                      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) END,
                 6) AS gini
    FROM agg
"""




ORACLES["bootstrap"] = """
    WITH base AS (
        SELECT event_type, value AS x, event_id AS rid
        FROM events WHERE value IS NOT NULL AND user_id % 3 = 0
    ), rep AS (
        SELECT event_type, x, rid, UNNEST(range(0, 60)) AS b FROM base
    ), u AS (
        SELECT event_type, x, b,
               (CAST(('0x' || substr(md5(CAST(rid AS VARCHAR) || '#'
                       || CAST(b AS VARCHAR) || 'boot'), 1, 8)) AS UBIGINT)
                    % 1000000 + 0.5) / 1000000.0 AS uu
        FROM rep
    ), wtab AS (
        SELECT event_type, b, x,
               CASE WHEN uu <= 0.36787944117144233 THEN 0 WHEN uu <= 0.7357588823428847 THEN 1 WHEN uu <= 0.9196986029286058 THEN 2 WHEN uu <= 0.9810118431238463 THEN 3 WHEN uu <= 0.9963401531726563 THEN 4 WHEN uu <= 0.9994058151824183 THEN 5 WHEN uu <= 0.999916758850712 THEN 6 WHEN uu <= 0.9999897508033253 THEN 7 WHEN uu <= 0.999998874797402 THEN 8 WHEN uu <= 0.9999998885745216 THEN 9 WHEN uu <= 0.9999999899522336 THEN 10 WHEN uu <= 0.9999999991683892 THEN 11 ELSE 12 END AS w
        FROM u
    ), mom AS (
        SELECT event_type, b, SUM(w * x) AS wx, SUM(w) AS wn
        FROM wtab GROUP BY 1, 2 HAVING SUM(w) > 0
    ), mm AS (
        SELECT event_type, b, wx / wn AS m FROM mom
    ), r AS (
        SELECT event_type, b, m,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY m ASC, b ASC) AS rr,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM mm
    ), ci AS (
        SELECT event_type,
               MIN(CASE WHEN rr = CAST(CEIL(0.025 * cnt) AS BIGINT)
                   THEN m END) AS lo,
               MIN(CASE WHEN rr = CAST(CEIL(0.975 * cnt) AS BIGINT)
                   THEN m END) AS hi
        FROM r GROUP BY event_type
    ), st AS (
        SELECT event_type, COUNT(*) AS n, AVG(x) AS mean
        FROM base GROUP BY event_type
    )
    SELECT st.event_type, st.n,
           ROUND(st.mean, 6) AS mean,
           ROUND(ci.lo, 6) AS ci_lo,
           ROUND(ci.hi, 6) AS ci_hi
    FROM st JOIN ci ON st.event_type = ci.event_type
"""




ORACLES["cuped"] = """
    WITH per_user AS (
        SELECT user_id,
               SUM(CASE WHEN ts < TIMESTAMP '2024-01-11' THEN value
                        ELSE 0.0 END) AS x,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-11' THEN value
                        ELSE 0.0 END) AS y
        FROM events GROUP BY user_id
    ), d AS (
        SELECT user_id, x, y, CAST(user_id % 2 AS INT) AS variant
        FROM per_user
    ), mom AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM d
    ), th AS (
        SELECT CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) != 0
                    THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                         / (CAST(n AS DOUBLE) * sxx - sx * sx)
                    ELSE 0.0 END AS theta,
               sx / CAST(n AS DOUBLE) AS mx
        FROM mom
    ), adj AS (
        SELECT d.variant, d.y, d.y - th.theta * (d.x - th.mx) AS ya
        FROM d CROSS JOIN th
    )
    SELECT variant, COUNT(*) AS n,
           ROUND(AVG(y), 6) AS mean_y,
           ROUND(AVG(ya), 6) AS mean_adj,
           ROUND(CASE WHEN VAR_SAMP(y) > 0
                 THEN 1.0 - VAR_SAMP(ya) / VAR_SAMP(y) END, 6) AS var_reduction
    FROM adj GROUP BY variant ORDER BY variant
"""




ORACLES["prop_test"] = """
    WITH d AS (
        SELECT CAST(event_id % 2 AS INT) AS v,
               CASE WHEN value > 300.0 THEN 1.0 ELSE 0.0 END AS s
        FROM events
    ), agg AS (
        SELECT v, COUNT(*) AS n, SUM(s) AS sc FROM d GROUP BY v
    ), piv AS (
        SELECT SUM(CASE WHEN v = 0 THEN n END) AS n0,
               SUM(CASE WHEN v = 1 THEN n END) AS n1,
               SUM(CASE WHEN v = 0 THEN sc END) AS s0,
               SUM(CASE WHEN v = 1 THEN sc END) AS s1
        FROM agg
    ), calc AS (
        SELECT n0, n1,
               s0 / CAST(n0 AS DOUBLE) AS p0,
               s1 / CAST(n1 AS DOUBLE) AS p1,
               (s0 + s1) / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)) AS pool
        FROM piv
    ), zc AS (
        SELECT n0, n1, p0, p1,
               CASE WHEN SQRT(pool * (1.0 - pool)
                        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))) > 0
                    THEN (p1 - p0)
                         / SQRT(pool * (1.0 - pool)
                            * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
               END AS z
        FROM calc
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND(p0, 6) AS p0, ROUND(p1, 6) AS p1, ROUND(z, 6) AS z,
           ABS(z) > 1.96 AS significant
    FROM zc
"""

ORACLES["mannwhitney"] = """
    WITH d AS (
        SELECT event_type, CAST(user_id % 2 AS INT) AS v, value AS x
        FROM events WHERE value IS NOT NULL
    ), ranked AS (
        SELECT event_type, v, x,
               RANK() OVER (PARTITION BY event_type ORDER BY x ASC) AS rk,
               COUNT(*) OVER (PARTITION BY event_type, x) AS t
        FROM d
    ), agg AS (
        SELECT event_type,
               SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n0,
               SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN v = 1 THEN rk + (t - 1) / 2.0 END) AS r1,
               SUM(t * CAST(t AS DOUBLE) - 1.0) AS ties
        FROM ranked GROUP BY event_type
    ), calc AS (
        SELECT event_type, n0, n1,
               r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1,
               CAST(n0 AS DOUBLE) AS n0d, CAST(n1 AS DOUBLE) AS n1d,
               CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE) AS nn, ties
        FROM agg
    ), zc AS (
        SELECT event_type, n0, n1, u1,
               CASE WHEN n0d * n1d / 12.0
                         * ((nn + 1.0) - ties / (nn * (nn - 1.0))) > 0
                    THEN (u1 - n0d * n1d / 2.0)
                         / SQRT(n0d * n1d / 12.0
                             * ((nn + 1.0) - ties / (nn * (nn - 1.0))))
               END AS z
        FROM calc
    )
    SELECT event_type, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           ROUND(u1, 6) AS u, ROUND(z, 6) AS z, ABS(z) > 1.96 AS significant
    FROM zc ORDER BY event_type
"""




ORACLES["spearman"] = """
    WITH base AS (
        SELECT l_returnflag, l_quantity AS x, l_extendedprice AS y
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), ranked AS (
        SELECT l_returnflag,
               RANK() OVER (PARTITION BY l_returnflag ORDER BY x ASC)
                   + (COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1) / 2.0
                   AS rx,
               RANK() OVER (PARTITION BY l_returnflag ORDER BY y ASC)
                   + (COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1) / 2.0
                   AS ry
        FROM base
    ), agg AS (
        SELECT l_returnflag, COUNT(*) AS n,
               SUM(rx) AS sx, SUM(ry) AS sy, SUM(rx * ry) AS sxy,
               SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0
                       AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0
                 THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                      / SQRT((CAST(n AS DOUBLE) * sxx - sx * sx)
                             * (CAST(n AS DOUBLE) * syy - sy * sy)) END,
                 6) AS rho
    FROM agg ORDER BY l_returnflag
"""




ORACLES["template_share"] = """
    WITH doc AS (
        SELECT doc_id, source,
               REGEXP_REPLACE(text, '(\\S+ \\S+ \\S+) ', '\\1' || CHR(10), 'g') AS t
        FROM documents
    ), arr AS (
        SELECT doc_id, source, STRING_SPLIT(t, CHR(10)) AS a FROM doc
    ), lines AS (
        SELECT doc_id, source, UNNEST(a) AS line FROM arr
    ), c AS (
        SELECT line, COUNT(*) AS c FROM lines GROUP BY line
    ), tot AS (SELECT SUM(c) AS n FROM c),
    common AS (SELECT line FROM c, tot WHERE c >= 0.0002 * n),
    per AS (
        SELECT l.source,
               COUNT(*) AS n_lines,
               SUM(CASE WHEN cm.line IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
        FROM lines l LEFT JOIN common cm ON l.line = cm.line
        GROUP BY l.source
    )
    SELECT source, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_boiler AS BIGINT) AS n_boiler,
           ROUND(CAST(n_boiler AS DOUBLE) / n_lines, 6) AS boiler_share
    FROM per
"""




ORACLES["trimmed_mode"] = """
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice AS x,
               PERCENT_RANK() OVER (PARTITION BY l_returnflag
                                    ORDER BY l_extendedprice ASC) AS pr
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), tm AS (
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CASE WHEN pr >= 0.1 AND pr <= 0.9 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_used,
               ROUND(AVG(CASE WHEN pr >= 0.1 AND pr <= 0.9 THEN x END), 6)
                   AS trimmed_mean
        FROM ranked GROUP BY l_returnflag
    ), mc AS (
        SELECT l_returnflag, l_quantity AS mode, COUNT(*) AS mode_n,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY COUNT(*) DESC, l_quantity ASC) AS rn
        FROM lineitem WHERE l_quantity IS NOT NULL
        GROUP BY l_returnflag, l_quantity
    )
    SELECT tm.l_returnflag, tm.n, tm.n_used, tm.trimmed_mean,
           mc.mode, mc.mode_n
    FROM tm JOIN mc ON tm.l_returnflag = mc.l_returnflag AND mc.rn = 1
    ORDER BY tm.l_returnflag
"""


ORACLES["pca_moments"] = """
    WITH e AS (
        SELECT ROW_NUMBER() OVER () AS rid, embedding AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ), flat AS (
        SELECT rid, CAST(UNNEST(v) AS DOUBLE) AS x,
               generate_subscripts(v, 1) AS i
        FROM e
    ), gram AS (
        SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS gram
        FROM flat a JOIN flat b USING (rid)
        GROUP BY a.i, b.i
    ), mean AS (
        SELECT i, AVG(x) AS m FROM flat GROUP BY i
    ), nn AS (
        SELECT COUNT(*) AS n FROM e
    )
    SELECT CAST(g.i AS INTEGER) AS i, CAST(g.j AS INTEGER) AS j,
           CAST(nn.n AS BIGINT) AS n,
           ROUND(mi.m, 6) AS mean_i, ROUND(mj.m, 6) AS mean_j,
           ROUND(g.gram, 6) AS gram
    FROM gram g, nn
    JOIN mean mi ON mi.i = g.i
    JOIN mean mj ON mj.i = g.j
"""


ORACLES["isotonic"] = """
    WITH src AS (
        SELECT CAST(value AS DOUBLE) / 500.0 AS score,
               CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS label
        FROM events
        WHERE value IS NOT NULL
    ), qs AS (
        SELECT UNNEST(quantile_cont(score,
            [0.0,0.05,0.1,0.15,0.2,0.25,0.3,0.35,0.4,0.45,
             0.5,0.55,0.6,0.65,0.7,0.75,0.8,0.85,0.9,0.95])) AS e
        FROM src
    ), edges AS (
        SELECT DISTINCT e FROM qs
    ), redges AS (
        SELECT e, ROW_NUMBER() OVER (ORDER BY e ASC) AS r FROM edges
    ), binned AS (
        -- bin = number of distinct quantile edges <= score, 1-based
        -- (identical to the engine's aggregate over the edge array)
        SELECT s.score, s.label,
               (SELECT COUNT(*) FROM edges WHERE edges.e <= s.score) AS bin
        FROM src s
    ), cells AS (
        SELECT bin, COUNT(*) AS n, AVG(score) AS mean_score,
               AVG(label) AS mean_label
        FROM binned GROUP BY bin
    ), pairs AS (
        -- weighted mean of mean_label over every bin interval [j, k]
        SELECT j.bin AS j, k.bin AS k,
               SUM(c.n * c.mean_label) / SUM(c.n) AS m
        FROM cells j JOIN cells k ON j.bin <= k.bin
        JOIN cells c ON c.bin >= j.bin AND c.bin <= k.bin
        GROUP BY j.bin, k.bin
    ), mins AS (
        SELECT p.j, i.bin AS bin, MIN(p.m) AS mn
        FROM pairs p JOIN cells i ON p.j <= i.bin AND p.k >= i.bin
        GROUP BY p.j, i.bin
    ), iso AS (
        -- minimax closed form of weighted PAV:
        -- iso(i) = max_{j<=i} min_{k>=i} weightedMean(label, bins j..k)
        SELECT bin, MAX(mn) AS calibrated FROM mins GROUP BY bin
    )
    SELECT CAST(c.bin AS INTEGER) AS bin,
           ROUND(re.e, 6) AS score_lo,
           CAST(c.n AS BIGINT) AS n,
           ROUND(c.mean_score, 6) AS mean_score,
           ROUND(c.mean_label, 6) AS mean_label,
           ROUND(i.calibrated, 6) AS calibrated
    FROM cells c
    JOIN iso i ON i.bin = c.bin
    JOIN redges re ON re.r = c.bin
"""

ORACLES["target_encode"] = """
    WITH base AS (
        SELECT doc_id, source,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ), stats AS (
        SELECT source, SUM(y) AS s, COUNT(y)::DOUBLE AS c
        FROM base GROUP BY source
    ), pr AS (
        SELECT SUM(y) / COUNT(y) AS prior FROM base
    )
    SELECT b.doc_id, b.source,
           ROUND((st.s + 20.0 * pr.prior) / (st.c + 20.0), 6) AS te,
           ROUND(((st.s - b.y) + 20.0 * pr.prior) / ((st.c - 1) + 20.0), 6)
               AS te_loo
    FROM base b
    -- LEFT + IS NOT DISTINCT FROM: the implementation's null-safe LEFT
    -- join (a NULL source is its own level, never dropped) — an inner
    -- USING join would silently drop NULL-source rows
    LEFT JOIN stats st ON st.source IS NOT DISTINCT FROM b.source
    CROSS JOIN pr
    ORDER BY b.doc_id
"""

ORACLES["auc"] = """
    WITH base AS (
        SELECT l_linestatus AS k, l_discount AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL
    ), r AS (
        SELECT k, y,
               RANK() OVER (PARTITION BY k ORDER BY s ASC)
                 + (COUNT(*) OVER (PARTITION BY k, s) - 1) / 2.0 AS mid
        FROM base
    ), a AS (
        SELECT k, SUM(y) AS n_pos, SUM(1 - y) AS n_neg,
               SUM(mid * y) AS r1
        FROM r GROUP BY k
    )
    SELECT k AS l_linestatus,
           CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           ROUND((r1 - n_pos * (n_pos + 1.0) / 2.0)
                 / (n_pos * 1.0 * n_neg), 6) AS auc
    FROM a ORDER BY l_linestatus
"""

ORACLES["auc_global"] = """
    WITH base AS (
        SELECT l_extendedprice AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ), r AS (
        SELECT y,
               RANK() OVER (ORDER BY s ASC)
                 + (COUNT(*) OVER (PARTITION BY s) - 1) / 2.0 AS mid
        FROM base
    ), a AS (
        SELECT SUM(y) AS n_pos, SUM(1 - y) AS n_neg, SUM(mid * y) AS r1
        FROM r
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           ROUND((r1 - n_pos * (n_pos + 1.0) / 2.0)
                 / (n_pos * 1.0 * n_neg), 6) AS auc
    FROM a
"""

ORACLES["logrank"] = """
    WITH subj AS (
        SELECT user_id % 3 AS cohort, user_id % 2 AS arm,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE) AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY user_id
    ), tagged AS (
        SELECT cohort, dur AS t, e,
               CASE WHEN arm = MIN(arm) OVER (PARTITION BY cohort)
                    THEN 0 ELSE 1 END AS side,
               COUNT(DISTINCT arm) OVER (PARTITION BY cohort) AS nv
        FROM subj
    ), g AS (
        SELECT cohort, t, MAX(nv) AS nv,
               SUM(CASE WHEN side = 1 THEN e ELSE 0 END) AS d1,
               SUM(e) AS d,
               SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS l1,
               COUNT(*) AS l
        FROM tagged GROUP BY cohort, t
    ), w AS (
        SELECT cohort, t, nv, d1, d, l1, l,
               SUM(l) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(l) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n,
               SUM(l1) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(l1) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n1r
        FROM g
    ), terms AS (
        SELECT cohort, nv, d1, l, l1,
               d::DOUBLE * (n1r::DOUBLE / n) AS e1,
               CASE WHEN n > 1
                    THEN d::DOUBLE * (n1r::DOUBLE / n)
                         * (1.0 - n1r::DOUBLE / n)
                         * (n - d)::DOUBLE / (n - 1)
                    ELSE 0.0 END AS v
        FROM w
    ), agg AS (
        SELECT cohort, MAX(nv) AS nv,
               SUM(l - l1) AS n0, SUM(l1) AS n1,
               SUM(d1) AS observed1, SUM(e1) AS expected1,
               SUM(d1::DOUBLE - e1) AS oe, SUM(v) AS vv
        FROM terms GROUP BY cohort
    )
    SELECT CAST(cohort AS INT) AS cohort,
           CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(observed1 AS BIGINT) AS observed1,
           ROUND(expected1, 6) AS expected1,
           ROUND(CASE WHEN nv = 2 AND vv > 0.0
                      THEN oe * oe / vv END, 6) AS chi2,
           CASE WHEN nv = 2 AND vv > 0.0
                THEN (oe * oe / vv) > 3.841 END AS significant
    FROM agg ORDER BY cohort
"""

ORACLES["cox_moments"] = """
    WITH subj AS (
        SELECT user_id,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE)::DOUBLE AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e,
               (user_id % 2)::DOUBLE AS arm,
               (user_id % 5) / 4.0 AS x2
        FROM events GROUP BY user_id
    ), terms AS (
        SELECT dur AS t,
               SUM(exp(0.5 * arm - 0.25 * x2)) AS s0_,
               SUM(exp(0.5 * arm - 0.25 * x2) * arm) AS s1a_,
               SUM(exp(0.5 * arm - 0.25 * x2) * x2) AS s1b_,
               SUM(e) AS d,
               SUM(e * arm) AS dxa,
               SUM(e * x2) AS dxb
        FROM subj GROUP BY dur
    ), suff AS (
        SELECT t, d, dxa, dxb,
               SUM(s0_) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S0,
               SUM(s1a_) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S1a,
               SUM(s1b_) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S1b
        FROM terms
    )
    SELECT t, CAST(d AS BIGINT) AS d,
           ROUND(S0, 6) AS s0, ROUND(S1a, 6) AS s1a, ROUND(S1b, 6) AS s1b,
           ROUND(dxa - d * S1a / S0, 6) AS grad_a,
           ROUND(dxb - d * S1b / S0, 6) AS grad_b
    FROM suff WHERE d > 0 ORDER BY t
"""

ORACLES["cox_moments_keyed"] = """
    WITH subj AS (
        SELECT user_id, user_id % 3 AS cohort,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE)::DOUBLE AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e,
               (user_id % 2)::DOUBLE AS arm,
               (user_id % 5) / 4.0 AS x2
        FROM events GROUP BY user_id
    ), terms AS (
        SELECT cohort, dur AS t,
               SUM(exp((0.5 - 0.25 * cohort) * arm
                       + (-0.25 + 0.125 * cohort) * x2)) AS s0_,
               SUM(exp((0.5 - 0.25 * cohort) * arm
                       + (-0.25 + 0.125 * cohort) * x2) * arm) AS s1a_,
               SUM(exp((0.5 - 0.25 * cohort) * arm
                       + (-0.25 + 0.125 * cohort) * x2) * x2) AS s1b_,
               SUM(e) AS d,
               SUM(e * arm) AS dxa,
               SUM(e * x2) AS dxb
        FROM subj GROUP BY cohort, dur
    ), suff AS (
        SELECT cohort, t, d, dxa, dxb,
               SUM(s0_) OVER (PARTITION BY cohort ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S0,
               SUM(s1a_) OVER (PARTITION BY cohort ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S1a,
               SUM(s1b_) OVER (PARTITION BY cohort ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S1b
        FROM terms
    )
    SELECT CAST(cohort AS INT) AS cohort, t, CAST(d AS BIGINT) AS d,
           ROUND(S0, 6) AS s0, ROUND(S1a, 6) AS s1a, ROUND(S1b, 6) AS s1b,
           ROUND(dxa - d * S1a / S0, 6) AS grad_a,
           ROUND(dxb - d * S1b / S0, 6) AS grad_b
    FROM suff WHERE d > 0 ORDER BY cohort, t
"""

ORACLES["did"] = """
    WITH bounds AS (
        SELECT MIN(ts)::DATE AS d0, MAX(ts)::DATE AS d1 FROM events
    ), base AS (
        SELECT event_type,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
               CASE WHEN ts::DATE > (SELECT d0 + CAST((d1 - d0) // 2 AS INTEGER)
                                     FROM bounds)
                    THEN 1 ELSE 0 END AS p,
               value::DOUBLE AS y
        FROM events WHERE value IS NOT NULL
    ), g AS (
        SELECT event_type,
               SUM(CASE WHEN t = 1 AND p = 0 THEN 1 ELSE 0 END) AS n_t_pre,
               SUM(CASE WHEN t = 1 AND p = 1 THEN 1 ELSE 0 END) AS n_t_post,
               SUM(CASE WHEN t = 0 AND p = 0 THEN 1 ELSE 0 END) AS n_c_pre,
               SUM(CASE WHEN t = 0 AND p = 1 THEN 1 ELSE 0 END) AS n_c_post,
               SUM(CASE WHEN t = 1 AND p = 0 THEN y END) AS s_t_pre,
               SUM(CASE WHEN t = 1 AND p = 1 THEN y END) AS s_t_post,
               SUM(CASE WHEN t = 0 AND p = 0 THEN y END) AS s_c_pre,
               SUM(CASE WHEN t = 0 AND p = 1 THEN y END) AS s_c_post
        FROM base GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_t_pre AS BIGINT) AS n_t_pre,
           CAST(n_t_post AS BIGINT) AS n_t_post,
           CAST(n_c_pre AS BIGINT) AS n_c_pre,
           CAST(n_c_post AS BIGINT) AS n_c_post,
           ROUND(s_t_pre / n_t_pre, 6) AS y_t_pre,
           ROUND(s_t_post / n_t_post, 6) AS y_t_post,
           ROUND(s_c_pre / n_c_pre, 6) AS y_c_pre,
           ROUND(s_c_post / n_c_post, 6) AS y_c_post,
           ROUND((s_t_post / n_t_post - s_t_pre / n_t_pre)
                 - (s_c_post / n_c_post - s_c_pre / n_c_pre), 6) AS att
    FROM g ORDER BY event_type
"""

ORACLES["ipw_ate"] = """
    WITH base AS (
        SELECT event_type,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS t,
               value::DOUBLE AS y,
               LEAST(GREATEST(0.25 + 0.5 * (user_id % 7) / 6.0, 0.01), 0.99)
                   AS e
        FROM events WHERE value IS NOT NULL
    ), w AS (
        SELECT event_type, t, y, e,
               CASE WHEN t = 1 THEN 1.0 / e ELSE 0.0 END AS w1,
               CASE WHEN t = 0 THEN 1.0 / (1.0 - e) ELSE 0.0 END AS w0
        FROM base
    ), g AS (
        SELECT event_type,
               COUNT(*) AS n, SUM(t) AS n_treated,
               SUM(w1) AS sum_w1, SUM(w0) AS sum_w0,
               SUM(w1 * y) AS wy1, SUM(w0 * y) AS wy0
        FROM w GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n, CAST(n_treated AS BIGINT) AS n_treated,
           ROUND(sum_w1, 6) AS sum_w1, ROUND(sum_w0, 6) AS sum_w0,
           ROUND(wy1 / sum_w1, 6) AS mu1,
           ROUND(wy0 / sum_w0, 6) AS mu0,
           ROUND(wy1 / sum_w1 - wy0 / sum_w0, 6) AS ate
    FROM g ORDER BY event_type
"""

ORACLES["psm_match"] = """
    WITH base AS (
        SELECT lang, doc_id AS id,
               CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS t,
               ((doc_id * 37) % 1000) / 1000.0 AS s
        FROM documents
    ), cand AS (
        SELECT lang, id, t, s,
               LAST_VALUE(CASE WHEN t = 0 THEN s END IGNORE NULLS) OVER (
                   PARTITION BY lang ORDER BY s ASC, t ASC, id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS lo_s,
               LAST_VALUE(CASE WHEN t = 0 THEN id END IGNORE NULLS) OVER (
                   PARTITION BY lang ORDER BY s ASC, t ASC, id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS lo_id,
               LAST_VALUE(CASE WHEN t = 0 THEN s END IGNORE NULLS) OVER (
                   PARTITION BY lang ORDER BY s DESC, t DESC, id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS hi_s,
               LAST_VALUE(CASE WHEN t = 0 THEN id END IGNORE NULLS) OVER (
                   PARTITION BY lang ORDER BY s DESC, t DESC, id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS hi_id
        FROM base
    ), picked AS (
        SELECT lang, id AS treated_id, s AS treated_score,
               CASE WHEN lo_s IS NOT NULL
                         AND (hi_s IS NULL OR ABS(s - lo_s) <= ABS(hi_s - s))
                    THEN lo_id ELSE hi_id END AS control_id,
               CASE WHEN lo_s IS NOT NULL
                         AND (hi_s IS NULL OR ABS(s - lo_s) <= ABS(hi_s - s))
                    THEN lo_s ELSE hi_s END AS control_score,
               CASE WHEN lo_s IS NOT NULL
                         AND (hi_s IS NULL OR ABS(s - lo_s) <= ABS(hi_s - s))
                    THEN ABS(s - lo_s) ELSE ABS(hi_s - s) END AS distance
        FROM cand WHERE t = 1
    )
    SELECT lang, treated_id, control_id,
           ROUND(treated_score, 6) AS treated_score,
           ROUND(control_score, 6) AS control_score,
           ROUND(distance, 6) AS distance
    FROM picked
    WHERE control_id IS NOT NULL AND distance <= 0.005
    ORDER BY lang, treated_id
"""

ORACLES["logrank_strat"] = """
    WITH subj AS (
        SELECT user_id % 3 AS cohort, user_id % 2 AS arm,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE) AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY user_id
    ), tagged AS (
        -- side labels are GLOBAL (keys empty); risk sets are per-stratum
        SELECT cohort, dur AS t, e,
               CASE WHEN arm = MIN(arm) OVER () THEN 0 ELSE 1 END AS side,
               COUNT(DISTINCT arm) OVER () AS nv
        FROM subj
    ), g AS (
        SELECT cohort, t, MAX(nv) AS nv,
               SUM(CASE WHEN side = 1 THEN e ELSE 0 END) AS d1,
               SUM(e) AS d,
               SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS l1,
               COUNT(*) AS l
        FROM tagged GROUP BY cohort, t
    ), w AS (
        SELECT cohort, t, nv, d1, d, l1, l,
               SUM(l) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(l) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n,
               SUM(l1) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(l1) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n1r
        FROM g
    ), terms AS (
        SELECT nv, d1, l, l1,
               d::DOUBLE * (n1r::DOUBLE / n) AS e1,
               CASE WHEN n > 1
                    THEN d::DOUBLE * (n1r::DOUBLE / n)
                         * (1.0 - n1r::DOUBLE / n)
                         * (n - d)::DOUBLE / (n - 1)
                    ELSE 0.0 END AS v
        FROM w
    ), agg AS (
        SELECT MAX(nv) AS nv,
               SUM(l - l1) AS n0, SUM(l1) AS n1,
               SUM(d1) AS observed1, SUM(e1) AS expected1,
               SUM(d1::DOUBLE - e1) AS oe, SUM(v) AS vv
        FROM terms
    )
    SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(observed1 AS BIGINT) AS observed1,
           ROUND(expected1, 6) AS expected1,
           ROUND(CASE WHEN nv = 2 AND vv > 0.0
                      THEN oe * oe / vv END, 6) AS chi2,
           CASE WHEN nv = 2 AND vv > 0.0
                THEN (oe * oe / vv) > 3.841 END AS significant
    FROM agg
"""

ORACLES["impute"] = """
    WITH base AS (
        SELECT l_orderkey, l_linenumber, l_linestatus,
               CASE WHEN l_orderkey % 7 = 0 THEN NULL
                    ELSE l_quantity END AS qty,
               CASE WHEN l_orderkey % 11 = 0 THEN NULL
                    ELSE l_returnflag END AS rf
        FROM lineitem
    ), mean_s AS (
        SELECT l_linestatus, SUM(qty) / COUNT(qty) AS m
        FROM base GROUP BY l_linestatus
    ), gmean AS (
        SELECT SUM(qty) / COUNT(qty) AS gm FROM base
    ), mode_c AS (
        SELECT l_linestatus, rf, COUNT(*) AS c
        FROM base WHERE rf IS NOT NULL GROUP BY l_linestatus, rf
    ), mode_s AS (
        SELECT l_linestatus, rf AS mo,
               ROW_NUMBER() OVER (PARTITION BY l_linestatus
                                  ORDER BY c DESC, rf ASC) AS rk
        FROM mode_c
    ), gmode AS (
        SELECT rf AS gmo FROM (
            SELECT rf, COUNT(*) AS c FROM base WHERE rf IS NOT NULL
            GROUP BY rf ORDER BY c DESC, rf ASC LIMIT 1
        )
    )
    SELECT b.l_orderkey,
           CAST(b.l_linenumber AS INT) AS l_linenumber,
           ROUND(COALESCE(b.qty, ms.m, g.gm), 6) AS qty_imp,
           COALESCE(b.rf, mo.mo, gmode.gmo) AS rf_imp
    FROM base b
    LEFT JOIN mean_s ms USING (l_linestatus)
    LEFT JOIN (SELECT l_linestatus, mo FROM mode_s WHERE rk = 1) mo
        USING (l_linestatus)
    CROSS JOIN gmean g CROSS JOIN gmode
    ORDER BY b.l_orderkey, b.l_linenumber
"""

ORACLES["conformal"] = """
    WITH base AS (
        SELECT l_orderkey * 10 + l_linenumber AS rid,
               l_quantity * 1000.0 AS pred,
               l_extendedprice AS actual
        FROM lineitem
    ), tagged AS (
        SELECT *,
               (('0x' || substr(md5(CAST(rid AS VARCHAR) || 'conformal'),
                                1, 8))::BIGINT % 1000000) < 500000 AS cal
        FROM base
    ), calib AS (
        SELECT ABS(actual - pred) AS r
        FROM tagged
        WHERE cal AND pred IS NOT NULL AND actual IS NOT NULL
    ), nn AS (
        SELECT COUNT(*) AS n FROM calib
    ), q AS (
        SELECT r FROM calib ORDER BY r
        LIMIT 1 OFFSET (SELECT CAST(CEIL((n + 1) * 0.9) AS BIGINT) - 1
                        FROM nn)
    )
    SELECT t.rid,
           ROUND(t.pred - q.r, 6) AS conf_lo,
           ROUND(t.pred + q.r, 6) AS conf_hi,
           t.actual >= t.pred - q.r AND t.actual <= t.pred + q.r AS covered
    FROM tagged t CROSS JOIN q
    WHERE NOT t.cal
    ORDER BY t.rid LIMIT 2000
"""

ORACLES["logrank_wilcoxon"] = """
    WITH subj AS (
        SELECT user_id % 3 AS cohort, user_id % 2 AS arm,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE) AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY user_id
    ), tagged AS (
        SELECT cohort, dur AS t, e,
               CASE WHEN arm = MIN(arm) OVER (PARTITION BY cohort)
                    THEN 0 ELSE 1 END AS side,
               COUNT(DISTINCT arm) OVER (PARTITION BY cohort) AS nv
        FROM subj
    ), g AS (
        SELECT cohort, t, MAX(nv) AS nv,
               SUM(CASE WHEN side = 1 THEN e ELSE 0 END) AS d1,
               SUM(e) AS d,
               SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS l1,
               COUNT(*) AS l
        FROM tagged GROUP BY cohort, t
    ), w AS (
        SELECT cohort, t, nv, d1, d, l1, l,
               SUM(l) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(l) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n,
               SUM(l1) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(l1) OVER (PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n1r
        FROM g
    ), terms AS (
        SELECT cohort, nv, d1, l, l1, n,
               d::DOUBLE * (n1r::DOUBLE / n) AS e1,
               CASE WHEN n > 1
                    THEN d::DOUBLE * (n1r::DOUBLE / n)
                         * (1.0 - n1r::DOUBLE / n)
                         * (n - d)::DOUBLE / (n - 1)
                    ELSE 0.0 END AS v
        FROM w
    ), agg AS (
        SELECT cohort, MAX(nv) AS nv,
               SUM(l - l1) AS n0, SUM(l1) AS n1,
               SUM(d1) AS observed1, SUM(e1) AS expected1,
               SUM(n::DOUBLE * (d1::DOUBLE - e1)) AS oe,
               SUM(n::DOUBLE * n::DOUBLE * v) AS vv
        FROM terms GROUP BY cohort
    )
    SELECT CAST(cohort AS INT) AS cohort,
           CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
           CAST(observed1 AS BIGINT) AS observed1,
           ROUND(expected1, 6) AS expected1,
           ROUND(CASE WHEN nv = 2 AND vv > 0.0
                      THEN oe * oe / vv END, 6) AS chi2,
           CASE WHEN nv = 2 AND vv > 0.0
                THEN (oe * oe / vv) > 3.841 END AS significant
    FROM agg ORDER BY cohort
"""

ORACLES["ks_grouped"] = """
    WITH base AS (
        SELECT l_linestatus AS k, l_extendedprice AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ), rng AS (
        SELECT k, MIN(s) AS lo, MAX(s) AS hi,
               SUM(y) AS n1, SUM(1 - y) AS n0
        FROM base GROUP BY k
    ), cells AS (
        SELECT b.k,
               CASE WHEN r.hi = r.lo THEN 0
                    ELSE LEAST(CAST(FLOOR((b.s - r.lo)
                                   / ((r.hi - r.lo) / 1000.0)) AS INT),
                               999) END AS bin,
               r.n1, r.n0,
               SUM(b.y) AS c1, SUM(1 - b.y) AS c0
        FROM base b JOIN rng r USING (k)
        GROUP BY 1, 2, r.n1, r.n0
    ), cum AS (
        SELECT k, n1, n0,
               ABS(SUM(c1) OVER (PARTITION BY k ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::DOUBLE / n1
                   - SUM(c0) OVER (PARTITION BY k ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::DOUBLE / n0) AS d
        FROM cells
    )
    SELECT k AS l_linestatus, CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_neg,
           ROUND(100.0 * MAX(d), 6) AS ks
    FROM cum GROUP BY k, n1, n0 ORDER BY k
"""

ORACLES["fdr_bh"] = """
    WITH t AS (
        SELECT DISTINCT lang, source FROM documents
    ), pv AS (
        SELECT lang, source,
               ((('0x' || substr(md5(source || ':' || lang), 1, 4))::INT
                 % 997) + 1)::DOUBLE / 1000.0 AS p
        FROM t
    ), r AS (
        SELECT lang, source, p,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p ASC) AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS m
        FROM pv
    ), raw AS (
        SELECT lang, source, p, rk,
               p * m / rk AS praw
        FROM r
    ), adj AS (
        SELECT lang, source, p,
               LEAST(MIN(praw) OVER (PARTITION BY lang ORDER BY rk DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   1.0) AS p_adj
        FROM raw
    )
    SELECT lang, source, ROUND(p, 6) AS p, ROUND(p_adj, 6) AS p_adj,
           p_adj <= 0.05 AS rejected
    FROM adj ORDER BY lang, source
"""

ORACLES["brier"] = """
    WITH base AS (
        SELECT LEAST(GREATEST(l_discount * 5.0, 0.0), 1.0) AS p,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL
    ), g AS (
        SELECT LEAST(CAST(FLOOR(p * 10.0) AS INT), 9) AS bin,
               COUNT(*) AS n, SUM(p) AS sp, SUM(y) AS sy,
               SUM((p - y) * (p - y)) AS sq
        FROM base GROUP BY 1
    ), tot AS (
        SELECT SUM(n) AS n, SUM(sq) AS ssq, SUM(sy) AS tsy,
               SUM((sp - sy) * (sp - sy) / n) AS rel_n,
               SUM(sy * sy / n) AS sy2n
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(ssq / n, 6) AS brier,
           ROUND(rel_n / n, 6) AS reliability,
           ROUND(sy2n / n - (tsy / n) * (tsy / n), 6) AS resolution,
           ROUND((tsy / n) * (1.0 - tsy / n), 6) AS uncertainty,
           ROUND(ssq / n - (rel_n / n
                            - (sy2n / n - (tsy / n) * (tsy / n))
                            + (tsy / n) * (1.0 - tsy / n)), 6) AS within_bin
    FROM tot
"""

ORACLES["l_diversity"] = """
    WITH combo AS (
        SELECT source, CAST(n_chars % 5 AS INT) AS qi2, lang,
               COUNT(*) AS cnt
        FROM documents GROUP BY source, n_chars % 5, lang
    ), cls AS (
        SELECT source, qi2, SUM(cnt) AS rows_,
               SUM(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS div_
        FROM combo GROUP BY source, qi2
    )
    SELECT CAST(3 AS BIGINT) AS l,
           CAST(SUM(rows_) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(div_) AS BIGINT) AS min_distinct_sensitive,
           CAST(SUM(CASE WHEN div_ < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_classes,
           CAST(SUM(CASE WHEN div_ < 3 THEN rows_ ELSE 0 END) AS BIGINT)
               AS violating_rows
    FROM cls
"""

ORACLES["average_precision"] = """
    WITH base AS (
        SELECT l_linestatus AS k, l_discount AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL
    ), g AS (
        SELECT k, s, SUM(y) AS pos, SUM(1 - y) AS neg
        FROM base GROUP BY k, s
    ), c AS (
        SELECT k, pos, neg,
               SUM(pos) OVER (PARTITION BY k ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               SUM(neg) OVER (PARTITION BY k ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
        FROM g
    ), a AS (
        SELECT k, SUM(pos) AS n_pos, SUM(neg) AS n_neg,
               SUM(pos * (tp::DOUBLE / (tp + fp))) AS apn
        FROM c GROUP BY k
    )
    SELECT k AS l_linestatus,
           CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(apn / n_pos, 6) AS ap
    FROM a ORDER BY l_linestatus
"""

ORACLES["average_precision_global"] = """
    WITH base AS (
        SELECT l_extendedprice AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    ), g AS (
        SELECT s, SUM(y) AS pos, SUM(1 - y) AS neg FROM base GROUP BY s
    ), c AS (
        SELECT pos, neg,
               SUM(pos) OVER (ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
               SUM(neg) OVER (ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
        FROM g
    ), a AS (
        SELECT SUM(pos) AS n_pos, SUM(neg) AS n_neg,
               SUM(pos * (tp::DOUBLE / (tp + fp))) AS apn
        FROM c
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(apn / n_pos, 6) AS ap
    FROM a
"""

ORACLES["cusum_changepoint"] = """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day, COUNT(*)::DOUBLE AS cnt
        FROM events GROUP BY event_type, ts::DATE
    ), st AS (
        SELECT event_type, day, cnt,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               AVG(cnt) OVER (PARTITION BY event_type) AS m,
               STDDEV_SAMP(cnt) OVER (PARTITION BY event_type) AS sd
        FROM daily
    ), s AS (
        SELECT event_type, day, n, sd,
               ABS(SUM(cnt - m) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS abs_s
        FROM st
    ), r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY ROUND(abs_s, 6) DESC, day ASC) AS rk
        FROM s
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, day AS t_star,
           ROUND(abs_s, 6) AS s_max,
           ROUND(CASE WHEN n >= 2 AND sd > 0
                      THEN abs_s / (sd * sqrt(n)) END, 6) AS stat
    FROM r WHERE rk = 1 ORDER BY event_type
"""

ORACLES["survival_km"] = """
    WITH subj AS (
        SELECT user_id % 3 AS cohort,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE) AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY user_id
    ), g AS (
        SELECT cohort, dur AS t, SUM(e) AS d, SUM(1 - e) AS c
        FROM subj GROUP BY cohort, dur
    ), w AS (
        SELECT cohort, t, d, c,
               SUM(d + c) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(d + c) OVER (
                       PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM g
    ), s AS (
        SELECT cohort, t, n_risk, d, c,
               SUM(CASE WHEN n_risk = d THEN 1 ELSE 0 END) OVER (
                   PARTITION BY cohort ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zeros,
               SUM(CASE WHEN n_risk > d
                        THEN ln((n_risk - d)::DOUBLE / n_risk) END) OVER (
                   PARTITION BY cohort ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum
        FROM w
    )
    SELECT CAST(cohort AS INT) AS cohort, t::DOUBLE AS t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_event, CAST(c AS BIGINT) AS n_censor,
           ROUND(CASE WHEN zeros > 0 THEN 0.0
                      ELSE exp(COALESCE(lsum, 0.0)) END, 6) AS survival,
           ROUND(SUM(d::DOUBLE / n_risk) OVER (PARTITION BY cohort ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS cumhaz
    FROM s ORDER BY cohort, t
"""

ORACLES["rmst"] = """
    WITH subj AS (
        SELECT user_id % 3 AS cohort,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE) AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY user_id
    ), g AS (
        SELECT cohort, dur AS t, SUM(e) AS d, SUM(1 - e) AS c
        FROM subj GROUP BY cohort, dur
    ), w AS (
        SELECT cohort, t, d, c,
               SUM(d + c) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(d + c) OVER (
                       PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM g
    ), s AS (
        SELECT cohort, t::DOUBLE AS t,
               CASE WHEN SUM(CASE WHEN n_risk = d THEN 1 ELSE 0 END) OVER (
                        PARTITION BY cohort ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                    THEN 0.0
                    ELSE exp(COALESCE(SUM(CASE WHEN n_risk > d
                             THEN ln((n_risk - d)::DOUBLE / n_risk) END) OVER (
                        PARTITION BY cohort ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        0.0)) END AS surv
        FROM w
    ), seg AS (
        SELECT cohort, t, surv,
               COALESCE(LAG(surv) OVER (PARTITION BY cohort ORDER BY t), 1.0)
                   * (LEAST(t, 20.0)
                      - LEAST(COALESCE(LAG(t) OVER (
                            PARTITION BY cohort ORDER BY t), 0.0), 20.0))
                   AS body
        FROM s
    )
    SELECT CAST(cohort AS INT) AS cohort, 20.0 AS tau,
           ROUND(SUM(body)
                 + MAX_BY(surv, t)
                   * GREATEST(20.0 - LEAST(MAX(t), 20.0), 0.0), 6) AS rmst
    FROM seg GROUP BY cohort ORDER BY cohort
"""

ORACLES["aipw_ate"] = """
    WITH base AS (
        SELECT event_type,
               CASE WHEN user_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS t,
               value::DOUBLE AS y,
               LEAST(GREATEST(0.25 + 0.5 * (user_id % 7) / 6.0, 0.01), 0.99)
                   AS e,
               50.0 + 2.0 * (user_id % 5) AS m1,
               48.0 + (user_id % 5) AS m0
        FROM events WHERE value IS NOT NULL
    ), psi AS (
        SELECT event_type,
               m1 - m0 + t * (y - m1) / e - (1.0 - t) * (y - m0) / (1.0 - e)
                   AS p
        FROM base
    ), g AS (
        SELECT event_type, COUNT(*) AS n, SUM(p) AS s, SUM(p * p) AS ss
        FROM psi GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(s / n, 6) AS ate,
           ROUND(SQRT(GREATEST((ss - n * (s / n) * (s / n)) / (n - 1.0),
                               0.0) / n), 6) AS se
    FROM g ORDER BY event_type
"""

ORACLES["km_ci"] = """
    WITH subj AS (
        SELECT user_id % 3 AS cohort,
               date_diff('day', MIN(ts)::DATE,
                   COALESCE(MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END),
                            MAX(ts))::DATE) AS dur,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY user_id
    ), g AS (
        SELECT cohort, dur AS t, SUM(e) AS d, SUM(1 - e) AS c
        FROM subj GROUP BY cohort, dur
    ), w AS (
        SELECT cohort, t, d, c,
               SUM(d + c) OVER (PARTITION BY cohort)
                 - COALESCE(SUM(d + c) OVER (
                       PARTITION BY cohort ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS n_risk
        FROM g
    ), s AS (
        SELECT cohort, t::DOUBLE AS t, n_risk,
               CASE WHEN SUM(CASE WHEN n_risk = d THEN 1 ELSE 0 END) OVER (
                        PARTITION BY cohort ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                    THEN 0.0
                    ELSE exp(COALESCE(SUM(CASE WHEN n_risk > d
                             THEN ln((n_risk - d)::DOUBLE / n_risk) END) OVER (
                        PARTITION BY cohort ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        0.0)) END AS surv,
               COALESCE(SUM(CASE WHEN n_risk > d
                            THEN d::DOUBLE / (n_risk * (n_risk - d)) END)
                   OVER (PARTITION BY cohort ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   0.0) AS gw
        FROM w
    )
    SELECT CAST(cohort AS INT) AS cohort, t,
           CAST(n_risk AS BIGINT) AS n_risk,
           ROUND(surv, 6) AS survival,
           ROUND(SQRT(surv * surv * gw), 6) AS se,
           ROUND(GREATEST(surv - 1.959963984540054
                          * SQRT(surv * surv * gw), 0.0), 6) AS ci_lo,
           ROUND(LEAST(surv + 1.959963984540054
                       * SQRT(surv * surv * gw), 1.0), 6) AS ci_hi
    FROM s ORDER BY cohort, t
"""

ORACLES["uplift"] = """
    WITH base AS (
        SELECT event_type, event_id AS id,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS t,
               CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y,
               ((user_id * 61) % 1000) / 1000.0 AS s
        FROM events WHERE value IS NOT NULL
    ), cut AS (
        SELECT event_type, t, y,
               NTILE(10) OVER (PARTITION BY event_type
                               ORDER BY s DESC, id ASC) AS b
        FROM base
    ), g AS (
        SELECT event_type, b,
               COUNT(*) AS n, SUM(t) AS nt, SUM(1 - t) AS nc,
               SUM(t * y) AS yt, SUM((1 - t) * y) AS yc
        FROM cut GROUP BY event_type, b
    ), cum AS (
        SELECT event_type, b,
               SUM(n) OVER wc AS n, SUM(nt) OVER wc AS nt,
               SUM(nc) OVER wc AS nc, SUM(yt) OVER wc AS yt,
               SUM(yc) OVER wc AS yc
        FROM g
        WINDOW wc AS (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(b AS INT) AS bucket,
           CAST(n AS BIGINT) AS n, CAST(nt AS BIGINT) AS n_t,
           CAST(nc AS BIGINT) AS n_c,
           CAST(yt AS BIGINT) AS y_t, CAST(yc AS BIGINT) AS y_c,
           ROUND(CASE WHEN nc > 0
                      THEN yt - yc * nt::DOUBLE / nc::DOUBLE END, 6) AS qini
    FROM cum ORDER BY event_type, bucket
"""

# qini_total via the group TOTALS rather than the last cumulative row:
# the sums are exact integers, so the doubles are bit-identical to the
# curve's final-bucket qini; the trapezoid fold mirrors the Spark
# expression shape term by term and runs as a left-to-right running sum.
ORACLES["qini_auc"] = """
    WITH base AS (
        SELECT event_type, event_id AS id,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS t,
               CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y,
               ((user_id * 61) % 1000) / 1000.0 AS s
        FROM events WHERE value IS NOT NULL
    ), cut AS (
        SELECT event_type, t, y,
               NTILE(10) OVER (PARTITION BY event_type
                               ORDER BY s DESC, id ASC) AS b
        FROM base
    ), g AS (
        SELECT event_type, b,
               COUNT(*) AS n, SUM(t) AS nt, SUM(1 - t) AS nc,
               SUM(t * y) AS yt, SUM((1 - t) * y) AS yc
        FROM cut GROUP BY event_type, b
    ), cum AS (
        SELECT event_type, b,
               SUM(n) OVER wc AS n, SUM(nt) OVER wc AS nt,
               SUM(nc) OVER wc AS nc, SUM(yt) OVER wc AS yt,
               SUM(yc) OVER wc AS yc
        FROM g
        WINDOW wc AS (PARTITION BY event_type ORDER BY b
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), curve AS (
        SELECT event_type, b AS bucket, n,
               CASE WHEN nc > 0
                    THEN yt - yc * nt::DOUBLE / nc::DOUBLE END AS qini
        FROM cum
    ), tot AS (
        SELECT event_type, COUNT(*) AS tn,
               SUM(t) AS tnt, SUM(1 - t) AS tnc,
               SUM(t * y) AS tyt, SUM((1 - t) * y) AS tyc
        FROM base GROUP BY event_type
    ), seg AS (
        SELECT c.event_type, c.bucket, c.qini,
               t.tn,
               CASE WHEN t.tnc > 0
                    THEN t.tyt - t.tyc * t.tnt::DOUBLE / t.tnc::DOUBLE
               END AS qtot,
               c.n::DOUBLE / t.tn::DOUBLE AS x,
               c.qini - (c.n::DOUBLE / t.tn::DOUBLE)
                 * (CASE WHEN t.tnc > 0
                         THEN t.tyt - t.tyc * t.tnt::DOUBLE / t.tnc::DOUBLE
                    END) AS d
        FROM curve c JOIN tot t USING (event_type)
    ), fold AS (
        SELECT event_type, bucket, qini, tn, qtot,
               (x - COALESCE(LAG(x) OVER wo, 0.0))
                 * (d + COALESCE(LAG(d) OVER wo, 0.0)) / 2.0 AS piece
        FROM seg
        WINDOW wo AS (PARTITION BY event_type ORDER BY bucket)
    ), run AS (
        SELECT event_type, bucket, tn, qtot,
               SUM(piece) OVER wr AS auc,
               MAX(CASE WHEN qini IS NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY event_type) AS has_null,
               MAX(bucket) OVER (PARTITION BY event_type) AS lb
        FROM fold
        WINDOW wr AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(tn AS BIGINT) AS n,
           ROUND(qtot, 6) AS qini_total,
           ROUND(CASE WHEN has_null = 0 THEN auc END, 6) AS qini_auc
    FROM run WHERE bucket = lb ORDER BY event_type
"""

# mirrors temporal.page_hinkley expression-by-expression; the alarm and
# argmax compare the 6-dp ROUNDED statistic (round_col/ROUND bit-parity)
ORACLES["quantiles_exact"] = """
    WITH base AS (
        SELECT event_type AS k, value::DOUBLE AS v
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT k, v,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY v ASC) AS rn,
               COUNT(*) OVER (PARTITION BY k) AS n
        FROM base
    )
    SELECT k AS event_type, CAST(q AS DOUBLE) AS q, v AS value,
           CAST(n AS BIGINT) AS n
    FROM r, (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99))
         AS probs(q)
    WHERE rn = GREATEST(1, CAST(CEIL(CAST(q AS DOUBLE) * n::DOUBLE)
                                AS BIGINT))
    ORDER BY event_type, q
"""

ORACLES["page_hinkley"] = """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day, COUNT(*)::DOUBLE AS x
        FROM events GROUP BY event_type, ts::DATE
    ), s1 AS (
        SELECT event_type, day, x,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               AVG(x) OVER (PARTITION BY event_type) AS mu
        FROM daily
    ), s2 AS (
        SELECT event_type, day, n,
               SUM(x - mu - 0.0) OVER (PARTITION BY event_type
                   ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        FROM s1
    ), s3 AS (
        SELECT event_type, day, n,
               ROUND(m - MIN(m) OVER (PARTITION BY event_type
                   ORDER BY day ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                   AS ph
        FROM s2
    ), s4 AS (
        SELECT event_type, day, n, ph,
               MIN(CASE WHEN ph > 100.0 THEN day END)
                   OVER (PARTITION BY event_type) AS t_alarm,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ph DESC, day ASC) AS rk
        FROM s3
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, ph AS ph_max,
           day AS t_max, t_alarm,
           CAST(t_alarm IS NOT NULL AS INT) AS detected
    FROM s4 WHERE rk = 1 ORDER BY event_type
"""

ORACLES["lorenz"] = """
    WITH base AS (
        SELECT o_orderpriority AS k, o_orderkey AS id,
               o_totalprice::DOUBLE AS v
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    ), r AS (
        SELECT k, CAST(ROUND(v * 100.0) AS HUGEINT) AS sv,
               NTILE(10) OVER (PARTITION BY k ORDER BY v ASC, id ASC)
                   AS bk
        FROM base
    ), g AS (
        SELECT k, bk, COUNT(*) AS bn, SUM(sv) AS bv
        FROM r GROUP BY k, bk
    ), cum AS (
        SELECT k, bk, bn, bv,
               SUM(bv) OVER (PARTITION BY k ORDER BY bk
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cv,
               SUM(bv) OVER (PARTITION BY k) AS tv
        FROM g
    )
    SELECT k AS o_orderpriority, CAST(bk AS INT) AS bucket,
           CAST(bn AS BIGINT) AS n,
           bv::DOUBLE / 100.0 AS bucket_value,
           cv::DOUBLE / 100.0 AS cum_value,
           ROUND(CASE WHEN tv > 0 THEN cv::DOUBLE / tv::DOUBLE END, 6)
               AS cum_share
    FROM cum ORDER BY o_orderpriority, bucket
"""

ORACLES["attribution"] = """
    WITH base AS (
        SELECT user_id AS u, event_type AS c, ts AS t, event_id AS id
        FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
          AND ts IS NOT NULL
    ), marked AS (
        SELECT u, c,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY u
                        ORDER BY t ASC, id ASC) = 1 THEN 1 ELSE 0 END AS f,
               CASE WHEN ROW_NUMBER() OVER (PARTITION BY u
                        ORDER BY t DESC, id DESC) = 1 THEN 1 ELSE 0 END AS l,
               COUNT(*) OVER (PARTITION BY u) AS n
        FROM base
    ), cells AS (
        SELECT c, n, COUNT(*) AS k_total, SUM(f) AS f, SUM(l) AS l
        FROM marked GROUP BY c, n
    ), run AS (
        SELECT c, n,
               SUM(k_total) OVER (PARTITION BY c) AS n_touches,
               SUM(f) OVER (PARTITION BY c) AS ft,
               SUM(l) OVER (PARTITION BY c) AS lt,
               SUM(k_total::DOUBLE / n::DOUBLE)
                   OVER (PARTITION BY c ORDER BY n ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lin_run,
               ROW_NUMBER() OVER (PARTITION BY c ORDER BY n ASC) AS rn
        FROM cells
    ), fin AS (
        SELECT c, n_touches, ft, lt, rn,
               MAX(lin_run) OVER (PARTITION BY c) AS lin
        FROM run
    )
    SELECT c AS channel, CAST(n_touches AS BIGINT) AS n_touches,
           CAST(ft AS BIGINT) AS first_touch,
           CAST(lt AS BIGINT) AS last_touch,
           ROUND(lin, 6) AS linear
    FROM fin WHERE rn = 1 ORDER BY channel
"""

ORACLES["mann_kendall"] = """
    WITH daily AS (
        SELECT event_type,
               (ts::DATE - DATE '1970-01-01')::DOUBLE AS x,
               COUNT(*)::DOUBLE AS v
        FROM events GROUP BY event_type, ts::DATE
    ), pairs AS (
        SELECT a.event_type,
               SIGN(b.v - a.v) AS sgn,
               (b.v - a.v) / (b.x - a.x) AS m
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.x > a.x
    ), srel AS (
        SELECT event_type, SUM(sgn) AS s FROM pairs GROUP BY event_type
    ), ties AS (
        SELECT event_type,
               SUM(t * (t - 1) * (2 * t + 5)) AS tie, SUM(t) AS n
        FROM (SELECT event_type, v, COUNT(*) AS t
              FROM daily GROUP BY event_type, v)
        GROUP BY event_type
    ), ranked AS (
        SELECT event_type, m,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m ASC)
                   AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM pairs
    ), med AS (
        SELECT event_type, AVG(m) AS sen
        FROM ranked
        WHERE rn = CEIL(cnt / 2.0) OR rn = FLOOR(cnt / 2.0) + 1
        GROUP BY event_type
    ), g AS (
        SELECT s.event_type, s.s, t.n, t.tie, med.sen,
               (t.n * (t.n - 1) * (2 * t.n + 5) - t.tie) / 18.0 AS var_s
        FROM srel s JOIN ties t USING (event_type)
        JOIN med USING (event_type)
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
           ROUND(var_s, 6) AS var_s,
           ROUND(CASE WHEN var_s <= 0.0 THEN 0.0
                      WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                      WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                      ELSE 0.0 END, 6) AS z,
           CAST(CASE WHEN ABS(CASE WHEN var_s <= 0.0 THEN 0.0
                                   WHEN s > 0 THEN (s - 1) / SQRT(var_s)
                                   WHEN s < 0 THEN (s + 1) / SQRT(var_s)
                                   ELSE 0.0 END) > 1.959963984540054
                     THEN SIGN(s) ELSE 0 END AS INT) AS trend,
           ROUND(sen, 6) AS sen_slope
    FROM g ORDER BY event_type
"""

ORACLES["cluster_ttest"] = """
    WITH cl AS (
        SELECT event_type, user_id,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS t,
               AVG(value::DOUBLE) AS m
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, user_id
    ), mo AS (
        SELECT event_type,
               SUM(CASE WHEN t = 1 THEN 1.0 ELSE 0.0 END) AS n1,
               SUM(CASE WHEN t = 1 THEN 0.0 ELSE 1.0 END) AS n0,
               SUM(m * CASE WHEN t = 1 THEN 1.0 ELSE 0.0 END) AS s1,
               SUM(m * CASE WHEN t = 1 THEN 0.0 ELSE 1.0 END) AS s0,
               SUM(m * m * CASE WHEN t = 1 THEN 1.0 ELSE 0.0 END) AS q1,
               SUM(m * m * CASE WHEN t = 1 THEN 0.0 ELSE 1.0 END) AS q0
        FROM cl GROUP BY event_type
    ), s AS (
        SELECT event_type, n1, n0, s1/n1 AS m1, s0/n0 AS m0,
               (n1*q1 - s1*s1)/(n1*(n1-1.0)) AS v1,
               (n0*q0 - s0*s0)/(n0*(n0-1.0)) AS v0
        FROM mo
    ), e AS (
        SELECT *, v1/n1 + v0/n0 AS se2 FROM s
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           ROUND(m1, 6) AS mean1, ROUND(m0, 6) AS mean0,
           ROUND(m1 - m0, 6) AS diff,
           ROUND(CASE WHEN n1 >= 2 AND n0 >= 2 AND se2 > 0
                      THEN (m1 - m0)/SQRT(se2) END, 6) AS t_stat,
           ROUND(CASE WHEN n1 >= 2 AND n0 >= 2 AND se2 > 0
                      THEN (se2*se2)/((v1/n1)*(v1/n1)/(n1-1.0)
                                      + (v0/n0)*(v0/n0)/(n0-1.0)) END, 6)
               AS df
    FROM e ORDER BY event_type
"""

ORACLES["power_mde"] = """
    WITH g AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(value::DOUBLE) AS s,
               SUM(value::DOUBLE * value::DOUBLE) AS ss
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(s / n, 6) AS mean,
           ROUND((ss - n * (s / n) * (s / n)) / (n - 1.0), 6) AS var,
           ROUND((1.959963984540054 + 0.8416212335729143)
                 * SQRT(GREATEST((ss - n * (s / n) * (s / n)) / (n - 1.0),
                                 0.0) * 4.0 / n), 6) AS mde,
           ROUND(CASE WHEN s / n <> 0.0 THEN
                 (1.959963984540054 + 0.8416212335729143)
                 * SQRT(GREATEST((ss - n * (s / n) * (s / n)) / (n - 1.0),
                                 0.0) * 4.0 / n) / (s / n) END, 6) AS mde_rel
    FROM g ORDER BY event_type
"""

ORACLES["srm"] = """
    WITH base AS (
        SELECT event_type,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS t
        FROM events
    ), g AS (
        SELECT event_type, COUNT(*) AS n, SUM(t) AS nt, SUM(1 - t) AS nc
        FROM base GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(nt AS BIGINT) AS n_t, CAST(nc AS BIGINT) AS n_c,
           ROUND(n * 0.5, 6) AS expected_t,
           ROUND((nt - n * 0.5) * (nt - n * 0.5) / (n * 0.5)
                 + (nc - n * 0.5) * (nc - n * 0.5) / (n * 0.5), 6) AS chi2,
           ((nt - n * 0.5) * (nt - n * 0.5) / (n * 0.5)
            + (nc - n * 0.5) * (nc - n * 0.5) / (n * 0.5)) > 3.841 AS srm
    FROM g ORDER BY event_type
"""

ORACLES["phash_neardup"] = """
    WITH hexd AS (
        SELECT doc_id, md5('IMG:' || CAST(doc_id // 3 AS VARCHAR)) AS h
        FROM documents
    ), sig AS (
        SELECT doc_id,
               xor(('0x' || substr(h,  1, 4))::INT,
                   CASE WHEN doc_id % 3 = 1 THEN 1
                        WHEN doc_id % 3 = 2 THEN 7 ELSE 0 END) AS w0,
               ('0x' || substr(h,  5, 4))::INT AS w1,
               ('0x' || substr(h,  9, 4))::INT AS w2,
               ('0x' || substr(h, 13, 4))::INT AS w3
        FROM hexd
    ), cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.w0 AS a0, a.w1 AS a1, a.w2 AS a2, a.w3 AS a3,
               b.w0 AS b0, b.w1 AS b1, b.w2 AS b2, b.w3 AS b3
        FROM sig a JOIN sig b ON a.w0 = b.w0 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id, a.w0, a.w1, a.w2, a.w3,
               b.w0, b.w1, b.w2, b.w3
        FROM sig a JOIN sig b ON a.w1 = b.w1 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id, a.w0, a.w1, a.w2, a.w3,
               b.w0, b.w1, b.w2, b.w3
        FROM sig a JOIN sig b ON a.w2 = b.w2 AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id, a.w0, a.w1, a.w2, a.w3,
               b.w0, b.w1, b.w2, b.w3
        FROM sig a JOIN sig b ON a.w3 = b.w3 AND a.doc_id < b.doc_id
    ), ham AS (
        SELECT id_a, id_b,
               (bit_count(xor(a0::BIGINT, b0::BIGINT))
                + bit_count(xor(a1::BIGINT, b1::BIGINT))
                + bit_count(xor(a2::BIGINT, b2::BIGINT))
                + bit_count(xor(a3::BIGINT, b3::BIGINT)))::INT AS hamming
        FROM cand
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           hamming
    FROM ham WHERE hamming <= 2 ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_groupby_agg(spark, "/root/testdata/sf0.001")


# mirrors agg.levene_by: arm medians by the identical rank arithmetic
# (avg of the two middle ROW_NUMBERs), then anova_by's moment association
ORACLES["levene"] = """
    WITH d AS (
        SELECT event_type AS et, dayofweek(ts) + 1 AS v,
               CAST(value AS DOUBLE) AS x
        FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ), r AS (
        SELECT et, v, x,
               ROW_NUMBER() OVER (PARTITION BY et, v ORDER BY x ASC) AS rn,
               COUNT(*) OVER (PARTITION BY et, v) AS cnt
        FROM d
    ), med AS (
        SELECT et, v, AVG(x) AS m
        FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        GROUP BY et, v
    ), z AS (
        SELECT d.et, d.v, ABS(d.x - med.m) AS z
        FROM d JOIN med USING (et, v)
    ), pv AS (
        SELECT et, v, CAST(COUNT(*) AS DOUBLE) AS nj,
               SUM(z) AS sj, SUM(z * z) AS qj
        FROM z GROUP BY et, v
    ), a AS (
        SELECT et, COUNT(*) AS k, SUM(nj) AS n, SUM(sj) AS s,
               SUM(qj) AS q, SUM(sj * sj / nj) AS gg
        FROM pv GROUP BY et
    )
    SELECT et AS event_type, k, CAST(n AS BIGINT) AS n,
           ROUND(gg - s * s / n, 2) AS ssb,
           ROUND(q - gg, 2) AS ssw,
           ROUND(CASE WHEN k >= 2 AND n > k AND (q - gg) > 0
                      THEN ((gg - s * s / n) / (k - 1.0))
                           / ((q - gg) / (n - k))
                 END, 6) AS f_stat,
           ROUND(CASE WHEN (gg - s * s / n) + (q - gg) > 0
                      THEN (gg - s * s / n)
                           / ((gg - s * s / n) + (q - gg))
                 END, 6) AS eta_sq
    FROM a ORDER BY event_type
"""

# mirrors agg.cramers_v_pairs: zero-cell-safe chi2 expansion per pair,
# V from the same guarded sqrt
ORACLES["cramers_v"] = """
    WITH p AS (
        SELECT 'l_returnflag' AS cx, 'l_linestatus' AS cy,
               CAST(l_returnflag AS VARCHAR) AS a,
               CAST(l_linestatus AS VARCHAR) AS b
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        UNION ALL
        SELECT 'l_returnflag', 'l_linenumber',
               CAST(l_returnflag AS VARCHAR), CAST(l_linenumber AS VARCHAR)
        FROM lineitem
        WHERE l_returnflag IS NOT NULL AND l_linenumber IS NOT NULL
        UNION ALL
        SELECT 'l_linestatus', 'l_linenumber',
               CAST(l_linestatus AS VARCHAR), CAST(l_linenumber AS VARCHAR)
        FROM lineitem
        WHERE l_linestatus IS NOT NULL AND l_linenumber IS NOT NULL
    ), c AS (
        SELECT cx, cy, a, b, CAST(COUNT(*) AS DOUBLE) AS o
        FROM p GROUP BY cx, cy, a, b
    ), t AS (
        SELECT cx, cy, a, b, o,
               SUM(o) OVER (PARTITION BY cx, cy, a) AS rt,
               SUM(o) OVER (PARTITION BY cx, cy, b) AS ct,
               SUM(o) OVER (PARTITION BY cx, cy) AS n
        FROM c
    )
    SELECT cx AS col_x, cy AS col_y,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(n) * SUM(o*o/(rt*ct)) - MAX(n), 6) AS chi2,
           CAST((COUNT(DISTINCT a)-1)*(COUNT(DISTINCT b)-1) AS BIGINT)
               AS dof,
           ROUND(CASE WHEN LEAST(COUNT(DISTINCT a), COUNT(DISTINCT b)) >= 2
                           AND MAX(n) > 0
                      THEN SQRT(GREATEST(
                               MAX(n) * SUM(o*o/(rt*ct)) - MAX(n), 0.0)
                           / (MAX(n) * (CAST(LEAST(COUNT(DISTINCT a),
                                  COUNT(DISTINCT b)) AS DOUBLE) - 1.0)))
                 END, 6) AS v
    FROM t GROUP BY cx, cy ORDER BY col_x, col_y
"""

# mirrors temporal.acf_by: same collapsed daily series, LAG row offsets,
# constant-denominator biased estimator
ORACLES["acf"] = """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day, COUNT(*)::DOUBLE AS x
        FROM events GROUP BY event_type, ts::DATE
    ), s1 AS (
        SELECT event_type, day, x,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               AVG(x) OVER (PARTITION BY event_type) AS mu
        FROM daily
    ), s2 AS (
        SELECT event_type, day, x, n, mu,
               SUM((x - mu) * (x - mu))
                   OVER (PARTITION BY event_type) AS ss,
               LAG(x, 1) OVER w AS l1, LAG(x, 2) OVER w AS l2,
               LAG(x, 3) OVER w AS l3, LAG(x, 4) OVER w AS l4,
               LAG(x, 5) OVER w AS l5, LAG(x, 6) OVER w AS l6,
               LAG(x, 7) OVER w AS l7
        FROM s1
        WINDOW w AS (PARTITION BY event_type ORDER BY day ASC)
    ), long AS (
        SELECT event_type, n, ss, lg,
               (x - mu) * (CASE lg WHEN 1 THEN l1 WHEN 2 THEN l2
                                   WHEN 3 THEN l3 WHEN 4 THEN l4
                                   WHEN 5 THEN l5 WHEN 6 THEN l6
                                   WHEN 7 THEN l7 END - mu) AS term
        FROM s2, (VALUES (1),(2),(3),(4),(5),(6),(7)) AS lags(lg)
    )
    SELECT event_type, CAST(lg AS INT) AS lag,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(term) AS BIGINT) AS n_pairs,
           ROUND(CASE WHEN MAX(ss) > 0 THEN SUM(term) / MAX(ss) END, 6)
               AS acf
    FROM long GROUP BY event_type, lg ORDER BY event_type, lag
"""

# mirrors quality.t_closeness: positive-part TVD identity over observed
# (class, value) cells only; verdicts compare the 6-dp ROUNDED distance
ORACLES["t_closeness"] = """
    WITH cell AS (
        SELECT source, CAST(n_chars % 5 AS INT) AS qi2, lang,
               CAST(COUNT(*) AS DOUBLE) AS cnt
        FROM documents WHERE lang IS NOT NULL
        GROUP BY source, CAST(n_chars % 5 AS INT), lang
    ), cw AS (
        SELECT *, SUM(cnt) OVER (PARTITION BY source, qi2) AS crows
        FROM cell
    ), g AS (
        SELECT lang, SUM(cnt) AS gcnt FROM cell GROUP BY lang
    ), gt AS (
        SELECT SUM(gcnt) AS gtot FROM g
    ), cls AS (
        SELECT source, qi2, MAX(crows) AS nrows,
               ROUND(SUM(GREATEST(cnt / crows - gcnt / gtot, 0.0)), 6)
                   AS tvd
        FROM cw JOIN g USING (lang), gt GROUP BY source, qi2
    )
    SELECT CAST(0.4 AS DOUBLE) AS t,
           CAST(SUM(nrows) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           MAX(tvd) AS max_tvd,
           CAST(SUM(CASE WHEN tvd > 0.4 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_classes,
           CAST(SUM(CASE WHEN tvd > 0.4 THEN nrows ELSE 0 END) AS BIGINT)
               AS violating_rows
    FROM cls
"""


# mirrors temporal.ewma_by: the twin runs the LITERAL recursion the
# banded block scan replaces — a recursive CTE stepping rn -> rn+1
ORACLES["ewma"] = """
    WITH RECURSIVE daily AS (
        SELECT event_type, ts::DATE AS day, COUNT(*)::DOUBLE AS x
        FROM events GROUP BY event_type, ts::DATE
    ), r AS (
        SELECT event_type, day, x,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day ASC) AS rn
        FROM daily
    ), rec AS (
        SELECT event_type, rn, day, x, x AS s FROM r WHERE rn = 1
        UNION ALL
        SELECT r.event_type, r.rn, r.day, r.x, 0.2 * r.x + 0.8 * rec.s
        FROM r JOIN rec
          ON r.event_type = rec.event_type AND r.rn = rec.rn + 1
    )
    SELECT event_type, day, x AS cnt, ROUND(s, 6) AS ewma
    FROM rec ORDER BY event_type, day
"""

# mirrors temporal.durbin_watson_by on the demeaned daily series
ORACLES["durbin_watson"] = """
    WITH daily AS (
        SELECT event_type, ts::DATE AS day, COUNT(*)::DOUBLE AS x
        FROM events GROUP BY event_type, ts::DATE
    ), d AS (
        SELECT event_type, day,
               x - AVG(x) OVER (PARTITION BY event_type) AS e
        FROM daily
    ), s AS (
        SELECT event_type, e,
               e - LAG(e, 1) OVER (PARTITION BY event_type
                                   ORDER BY day ASC) AS de
        FROM d
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CASE WHEN SUM(e * e) > 0
                      THEN SUM(de * de) / SUM(e * e) END, 6) AS dw
    FROM s GROUP BY event_type ORDER BY event_type
"""


# mirrors agg.weighted_quantiles_by: the same running-mass crossing test
# over the identical (value ASC) order; integer-valued weights make every
# cumulative sum exact, so tie permutations cannot flip the picked value
ORACLES["quantiles_weighted"] = """
    WITH base AS (
        SELECT l_returnflag AS k, l_extendedprice::DOUBLE AS v,
               l_quantity::DOUBLE AS w
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
              AND l_quantity > 0
    ), r AS (
        SELECT k, v, w,
               SUM(w) OVER (PARTITION BY k ORDER BY v ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
               COUNT(*) OVER (PARTITION BY k) AS n,
               SUM(w) OVER (PARTITION BY k) AS tw
        FROM base
    )
    SELECT k AS l_returnflag, CAST(q AS DOUBLE) AS q, v AS value,
           CAST(n AS BIGINT) AS n, tw AS w_total
    FROM r, (VALUES (0.1), (0.5), (0.9), (0.99)) AS probs(q)
    WHERE cw >= CAST(q AS DOUBLE) * tw
          AND cw - w < CAST(q AS DOUBLE) * tw
    ORDER BY l_returnflag, q
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
