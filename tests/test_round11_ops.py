"""Round-11 optimization pins.

The rank substrate's per-partition carry-ins attach as one folded array
literal indexed by partition id, at every partition count: never a
literal create_map (a 2xP-child map fails janino codegen at production
partition counts) and never a broadcast join (one job more per call).
These tests pin (a) value equality against the single-partition window
reference at an artificially HIGH shuffle-partition count, (b) the plan
shape, and (c) the job count, which must not grow with the partition
count.
"""

import uuid

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from seafan_spark.rank import attach_running_ops, global_row_number, ntile_exact


@pytest.fixture()
def high_partitions(spark):
    # AQE coalescing would shrink the tiny test exchange back to a
    # handful of partitions; disable it so the substrate actually runs
    # with a production-scale partition count
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_co = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "2048")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_co)


def _seamy(spark, n=300):
    rows = []
    for i in range(n):
        v = None if i % 7 == 3 else float((-1) ** i * (i % 5))
        rows.append((i, v))
    return spark.createDataFrame(rows, "k long, v double").repartition(16)


def test_global_row_number_high_partition_count(high_partitions):
    df = _seamy(high_partitions)
    d, total = global_row_number(df, [("k", True)], "rn")
    got = {r["k"]: r["rn"] for r in d.collect()}
    assert total == 300
    assert got == {i: i + 1 for i in range(300)}


def test_attach_running_ops_high_partition_count(high_partitions):
    df = _seamy(high_partitions)
    got = {
        r["k"]: (r["rn"], r["s"], r["l"])
        for r in attach_running_ops(
            df,
            [("k", True)],
            [
                ("rn", "rownum", None),
                ("s", "sum", F.col("v")),
                ("l", "lag", F.col("v")),
            ],
        ).collect()
    }
    w = Window.orderBy("k")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ref = {
        r["k"]: (r["rn"], r["s"], r["l"])
        for r in df.select(
            "k",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(run).alias("s"),
            F.lag("v", 1).over(w).alias("l"),
        ).collect()
    }
    assert got == ref


def test_ntile_exact_high_partition_count(high_partitions):
    df = _seamy(high_partitions)
    d, total = ntile_exact(df, [("k", True)], 7, "b")
    got = {r["k"]: r["b"] for r in d.collect()}
    ref = {
        r["k"]: r["b"]
        for r in df.withColumn(
            "b", F.ntile(7).over(Window.orderBy("k"))
        ).collect()
    }
    assert total == 300 and got == ref


def test_rank_substrate_plan_has_no_literal_map_at_scale(high_partitions):
    # plan-shape insurance: at 2048 partitions the carries are one folded
    # array constant, not a map literal whose child count grows with the
    # partition count (janino fails ~10^4 children), not a broadcast join,
    # and no JSON parse is left for the rows to run
    df = _seamy(high_partitions)
    d, _ = global_row_number(df, [("k", True)], "rn")
    d2 = attach_running_ops(
        df, [("k", True)], [("s", "sum", F.col("v")), ("l", "lag", F.col("v"))]
    )
    for frame in (d, d2):
        qe = frame._jdf.queryExecution()
        optimized = qe.optimizedPlan().toString().lower()
        executed = qe.executedPlan().toString().lower()
        assert "create_map" not in executed and "broadcast" not in executed, executed
        assert "from_json" not in optimized and "jsontostructs" not in optimized, optimized
        assert "element_at" in optimized, optimized


def _jobs(spark, build):
    """Spark jobs launched by ``build()`` and collecting what it returns,
    counted through the status tracker."""
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "rank substrate jobs")
    try:
        build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_rank_substrate_jobs_do_not_grow_with_partition_count(spark):
    def counts():
        df = _seamy(spark)
        return (
            _jobs(spark, lambda: global_row_number(df, [("k", True)], "rn")[0]),
            _jobs(
                spark,
                lambda: attach_running_ops(
                    df,
                    [("k", True)],
                    [("rn", "rownum", None), ("s", "sum", F.col("v")),
                     ("l", "lag", F.col("v"))],
                ),
            ),
        )

    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_co = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        few = counts()
        spark.conf.set("spark.sql.shuffle.partitions", "2048")
        many = counts()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old_co)
    assert few == many, (few, many)
