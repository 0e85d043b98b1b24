"""attach_running_ops: distributed global running ops must match the
single-partition window reference exactly — including null handling and
partition-boundary carries (the repartitionByRange seams)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from seafan_spark.rank import attach_running_ops


@pytest.fixture()
def seamy(spark):
    # 40 rows over >=8 range partitions forces several partition seams;
    # nulls sprinkled at seam-adjacent positions
    rows = []
    for i in range(40):
        v = None if i % 7 == 3 else float((-1) ** i * (i % 5))
        rows.append((i, v))
    return spark.createDataFrame(rows, "k long, v double").repartition(8)


def _reference(df):
    w = Window.orderBy("k")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return {
        r["k"]: (r["rn"], r["s"], r["l"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(run).alias("s"),
            F.lag("v", 1).over(w).alias("l"),
        ).collect()
    }


def test_running_ops_match_global_window(seamy):
    got = {
        r["k"]: (r["rn"], r["s"], r["l"])
        for r in attach_running_ops(
            seamy,
            [("k", True)],
            [("rn", "rownum", None), ("s", "sum", F.col("v")), ("l", "lag", F.col("v"))],
        ).collect()
    }
    assert got == _reference(seamy)


def test_running_ops_all_null_prefix(spark):
    # running sum must stay NULL until the first non-null value
    df = spark.createDataFrame(
        [(0, None), (1, None), (2, 5.0), (3, None)], "k long, v double"
    ).repartition(3)
    out = {
        r["k"]: r["s"]
        for r in attach_running_ops(
            df, [("k", True)], [("s", "sum", F.col("v"))]
        ).collect()
    }
    assert out == {0: None, 1: None, 2: 5.0, 3: 5.0}


def test_running_ops_empty(spark):
    df = spark.createDataFrame([], "k long, v double")
    out = attach_running_ops(
        df, [("k", True)], [("rn", "rownum", None), ("s", "sum", F.col("v"))]
    )
    assert out.count() == 0 and {"rn", "s"} <= set(out.columns)


@pytest.fixture()
def seams(spark):
    # 8 range partitions with coalescing off, so every carry crosses seams
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_co = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_co)


def _typed(spark):
    import datetime
    import decimal

    t0 = datetime.datetime(2020, 3, 8, 1, 15)
    rows = []
    for i in range(48):
        null = i % 5 == 2 or i % 6 == 5  # NULLs land at and beside seams
        lead = i < 9  # the sums stay NULL through the first partition
        rows.append((
            i,
            None if null else bytes([i, 255 - i, 0]),
            None if null else t0 + datetime.timedelta(minutes=47 * i, microseconds=i),
            None if null else t0 + datetime.timedelta(hours=5 * i, microseconds=3 * i),
            None if null else datetime.date(2020, 2, 27) + datetime.timedelta(days=i),
            None if null else decimal.Decimal(i * 37 % 200 - 100) / 8,
            None if null else i % 3 == 0,
            None if null else f"ü{i}",
            None if lead or null else decimal.Decimal(i * 53 % 300 - 150) / 4,
            None if lead or null else (i * 29 % 17 - 8) * 0.25,
        ))
    return spark.createDataFrame(
        rows,
        "k long, bin binary, ntz timestamp_ntz, ts timestamp, d date, "
        "dec decimal(10,2), b boolean, s string, sdec decimal(10,2), sdbl double",
    ).repartition(5)


@pytest.mark.parametrize(
    "case",
    ["bin", "ntz", "ts", "d", "dec", "b", "s", "sum:sdec", "sum:sdbl",
     "global_row_number", "ntile_exact"],
)
def test_carries_of_every_type_match_the_window(seams, case):
    from seafan_spark.rank import global_row_number, ntile_exact

    df = _typed(seams)
    w = Window.orderBy("k")
    if case == "global_row_number":
        d, total = global_row_number(df, [("k", True)], "x")
        ref = F.row_number().over(w)
    elif case == "ntile_exact":
        d, total = ntile_exact(df, [("k", True)], 7, "x")
        ref = F.ntile(7).over(w)
    else:
        kind, _, c = case.rpartition(":")
        col = F.col(c)
        d = attach_running_ops(
            df, [("k", True)], [("rn", "rownum", None), ("x", kind or "lag", col)]
        )
        total = 48
        ref = (
            F.sum(col).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            if kind
            else F.lag(col, 1).over(w)
        )
    got = d.select("k", "x").orderBy("k").collect()
    exp = df.select("k", ref.alias("x")).orderBy("k").collect()
    assert total == 48 and got == exp
    if ":" not in case and case in df.columns:  # a lag keeps its type
        assert d.schema["x"].dataType == df.schema[case].dataType


def test_spread_skips_already_repartitioned(spark):
    from seafan_spark.partitions import spread_if_narrow

    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    wide = df.repartition(8, "c_custkey")
    out = spread_if_narrow(wide, 32, "c_custkey")
    assert out is wide  # no second shuffle on an already-spread frame


# --------------------------------------------------------------------- RRF ----
def test_rrf_matches_manual_fusion(spark):
    from seafan_spark.rank import rrf_fuse

    rows = [
        ("q1", 1, 0.9, 10.0),
        ("q1", 2, 0.8, 30.0),
        ("q1", 3, 0.7, 20.0),
        ("q2", 4, 0.5, 5.0),
        ("q2", 5, 0.6, 1.0),
    ]
    df = spark.createDataFrame(rows, "q string, id int, cos double, clicks double")
    out = {
        (r["q"], r["id"]): r
        for r in rrf_fuse(df, "id", ["cos", "clicks"], keys=["q"]).collect()
    }
    # q1: cos ranks 1,2,3 ; clicks ranks 3,1,2
    assert out[("q1", 1)]["rank_cos"] == 1 and out[("q1", 1)]["rank_clicks"] == 3
    assert out[("q1", 2)]["rrf"] == pytest.approx(1 / 62 + 1 / 61)
    assert out[("q2", 5)]["rank_cos"] == 1 and out[("q2", 5)]["rank_clicks"] == 2
    # top=1 keeps only each group's best fused row
    top = rrf_fuse(df, "id", ["cos", "clicks"], keys=["q"], top=1).collect()
    assert sorted((r["q"], r["id"]) for r in top) == [("q1", 2), ("q2", 4)]


def test_rrf_null_scores_rank_last(spark):
    from seafan_spark.rank import rrf_fuse

    rows = [("q", 1, None), ("q", 2, 0.1), ("q", 3, 0.5)]
    df = spark.createDataFrame(rows, "q string, id int, s double")
    out = {r["id"]: r["rank_s"] for r in rrf_fuse(df, "id", ["s"], keys=["q"]).collect()}
    assert out == {3: 1, 2: 2, 1: 3}


def test_rrf_ungrouped_distributed_matches_keyed(spark):
    """keys=() stages through global_row_number — same fusion values as a
    constant-key run, and no single-partition exchange feeding the ranks."""
    import pyspark.sql.functions as F

    from seafan_spark.planaudit import scale_report
    from seafan_spark.rank import rrf_fuse

    rows = [(i, float((i * 37) % 101), float((i * 53) % 89)) for i in range(300)]
    df = spark.createDataFrame(rows, "id int, a double, b double")
    ung = {r["id"]: r["rrf"] for r in rrf_fuse(df, "id", ["a", "b"]).collect()}
    key = {
        r["id"]: r["rrf"]
        for r in rrf_fuse(
            df.withColumn("k", F.lit(1)), "id", ["a", "b"], keys=["k"]
        ).collect()
    }
    assert ung == key
    flags = [
        f
        for f in scale_report(rrf_fuse(df, "id", ["a", "b"])).flags
        if "single-partition" in f
    ]
    assert not flags, flags


def test_ranking_metrics_hand_computed(spark):
    """nDCG/MRR/precision vs the textbook formulas on one query."""
    import math

    from seafan_spark.rank import ranking_metrics

    # system ranking: ranks 1..5 with graded rels [0, 2, 1, 0, 3]
    rows = [("q1", r + 1, rel) for r, rel in enumerate([0, 2, 1, 0, 3])]
    df = spark.createDataFrame(rows, "q string, rank int, rel int")
    got = ranking_metrics(df, "q", "rank", "rel", k=3).collect()[0]
    gains = [0, 3, 1, 0, 7]  # 2^rel - 1
    dcg = sum(g / math.log2(r + 2) for r, g in enumerate(gains[:3]))
    ideal = sorted(gains, reverse=True)
    idcg = sum(g / math.log2(r + 2) for r, g in enumerate(ideal[:3]))
    assert got["n"] == 5
    assert got["dcg"] == pytest.approx(dcg, abs=1e-6)
    assert got["idcg"] == pytest.approx(idcg, abs=1e-6)
    assert got["ndcg"] == pytest.approx(dcg / idcg, abs=1e-6)
    assert got["mrr"] == pytest.approx(0.5)       # first relevant at rank 2
    assert got["precision"] == pytest.approx(2 / 3)
    # a query with NO relevant results: ndcg NULL, mrr 0, precision 0
    df2 = spark.createDataFrame(
        [("q2", 1, 0), ("q2", 2, 0)], "q string, rank int, rel int"
    )
    r2 = ranking_metrics(df2, "q", "rank", "rel", k=3).collect()[0]
    assert r2["ndcg"] is None and r2["mrr"] == 0.0 and r2["precision"] == 0.0
