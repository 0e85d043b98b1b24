"""Local frames (``session._local_frame``): driver-side rows become a
DataFrame through one Arrow table. The frame must have the schema and
the values ``createDataFrame(list)`` gives, bit for bit, refuse a row
that does not fit as the list path does, and collect without a Spark
job. A guard keeps every other list-based ``createDataFrame`` out of
``seafan_spark`` and the driver entry."""

import ast
import datetime
import decimal
import pathlib
import struct
import sys
import time
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import seafan_spark.session as session
from seafan_spark.session import _local_frame

PKG = pathlib.Path(session.__file__).parent
ENTRY = PKG.parent / "__spark_entry__.py"


def _bits(v):
    """Doubles by their bytes (NaN, -0.0), everything else as is."""
    if isinstance(v, float):
        return struct.pack(">d", v)
    if isinstance(v, (list, tuple)):
        return [_bits(x) for x in v]
    return v


def _same_as_list_path(spark, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    got = _local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
    assert [_bits(r) for r in got.collect()] == [_bits(r) for r in ref.collect()]
    return got


def test_doubles_are_bit_equal(spark):
    vals = [
        float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324,
        1.7976931348623157e308, -1.7976931348623157e308, 0.1, 1 / 3, None,
    ]
    got = _same_as_list_path(spark, [(v, i) for i, v in enumerate(vals)], "x double, i int")
    rows = got.collect()
    assert struct.pack(">d", rows[3]["x"]) == struct.pack(">d", -0.0)
    assert rows[10]["x"] is None


def test_bigints_strings_and_arrays(spark):
    _same_as_list_path(
        spark,
        [
            (2**53 + 1, "über 中文", [1.0, None, float("nan"), -0.0]),
            (-(2**63), "", []),
            (None, None, None),
        ],
        "n bigint, s string, v array<double>",
    )


def test_structs_from_tuples_rows_and_dicts(spark):
    _same_as_list_path(
        spark,
        [((1, "x"),), (Row(a=2, b="y"),), ({"b": "z", "a": 3},), (None,)],
        "s struct<a:bigint,b:string>",
    )
    _same_as_list_path(
        spark,
        [Row(round=1, id=2**40, dist=0.5), Row(round=2, id=7, dist=-0.0)],
        "round int, id bigint, dist double",
    )


def test_dates_timestamps_and_decimals(spark):
    _same_as_list_path(
        spark,
        [
            (
                datetime.date(2020, 2, 29),
                datetime.datetime(2021, 3, 4, 5, 6, 7, 890123),
                decimal.Decimal("-12345678.90"),
                [datetime.datetime(1969, 12, 31, 23, 59, 59, 999999), None],
            ),
            (None, None, None, None),
        ],
        "d date, t timestamp, m decimal(10,2), ts array<timestamp>",
    )


def test_a_naive_datetime_is_local_time_as_in_the_list_path(spark, monkeypatch):
    if not hasattr(time, "tzset"):
        pytest.skip("no time.tzset on this platform")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(datetime.datetime(2021, 7, 1, 12, 0),)]
        micros = [
            df.select(F.unix_micros("t")).collect()[0][0]
            for df in (
                spark.createDataFrame(rows, "t timestamp"),
                _local_frame(spark, rows, "t timestamp"),
            )
        ]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert micros[0] == micros[1] == 1625155200000000  # 16:00 UTC


def test_zero_rows_keep_the_schema(spark):
    got = _same_as_list_path(spark, [], "a double, v array<bigint>, s string")
    assert got.collect() == []


def test_names_only_take_the_inferred_schema(spark):
    # the shape of ann_ivf_topk's probe rows and join_cat_codes' dictionary
    _same_as_list_path(spark, [(3, [0.5, -0.0], 1), (4, [1.5, 2.0], 0)], ["qid", "qv", "_cell"])
    _same_as_list_path(spark, [("a", 0), ("über", 1)], ["lvl", "code"])
    with pytest.raises(ValueError):
        _local_frame(spark, [], ["a", "b"])


def _jobs_to_collect(spark, df):
    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "jobs_to_collect")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


def test_collecting_a_local_frame_launches_no_job(spark):
    schema = "i bigint, x double, v array<double>"
    one = [(1, 0.5, [1.0, 2.0])]
    many = [(i, i / 3, [float(i)] * 4) for i in range(5000)]
    # the list path this replaces: the counter does see its job
    n_list, _ = _jobs_to_collect(spark, spark.createDataFrame(one, schema))
    assert n_list >= 1
    for rows in (one, many):
        n, got = _jobs_to_collect(spark, _local_frame(spark, rows, schema))
        assert n == 0, (len(rows), n)
        assert len(got) == len(rows)


@pytest.mark.parametrize(
    "row, schema, error",
    [
        ((1,), "x double", TypeError),
        (("x",), "x double", TypeError),
        ((2**70,), "n bigint", ValueError),
        ((1.5,), "n bigint", TypeError),
        ((1.0, 2.0), "x double", ValueError),
        (((None,),), "s struct<a:bigint not null>", ValueError),
    ],
)
def test_a_row_that_does_not_fit_raises_as_in_the_list_path(spark, row, schema, error):
    with pytest.raises(error):
        spark.createDataFrame([row], schema)
    with pytest.raises(error):
        _local_frame(spark, [row], schema)


# ---- guard: driver rows enter a DataFrame only through _local_frame ---------

#: (file relative to the repo root, function) allowed to call createDataFrame
ALLOWED = {
    ("seafan_spark/session.py", "_local_frame"),
    # stands in for scanned tables in the tests (see its docstring)
    ("seafan_spark/sources.py", "vec_to_pipe"),
}


def _create_dataframe_calls(path, rel):
    """``rel:line`` of every ``createDataFrame(`` call outside ALLOWED."""
    bad = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and (rel, func) not in ALLOWED
        ):
            bad.append(f"{rel}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(path.read_text()), None)
    return bad


def test_driver_rows_enter_a_dataframe_only_through_local_frame():
    root = PKG.parent
    bad = []
    for path in sorted(PKG.rglob("*.py")) + [ENTRY]:
        bad += _create_dataframe_calls(path, path.relative_to(root).as_posix())
    assert not bad, f"use session._local_frame for these driver-side rows: {bad}"


def test_guard_rejects_a_planted_site(tmp_path, monkeypatch):
    pkg = tmp_path / "seafan_spark"
    pkg.mkdir()
    (pkg / "sources.py").write_text(
        "def vec_to_pipe(spark, rows):\n"
        "    return spark.createDataFrame(rows, ['a'])\n"
        "def other(spark, rows):\n"
        "    return spark.createDataFrame(rows, 'a double')\n"
    )
    (pkg / "bad.py").write_text(
        "def op(df, v):\n"
        "    return df.sparkSession.createDataFrame(\n"
        "        [(v,)], 'ks double')\n"
    )
    entry = tmp_path / "__spark_entry__.py"
    entry.write_text("def q(spark):\n    return spark.createDataFrame([(1.0,)], 'x double')\n")
    mod = sys.modules[__name__]
    monkeypatch.setattr(mod, "PKG", pkg)
    monkeypatch.setattr(mod, "ENTRY", entry)
    with pytest.raises(
        AssertionError,
        match=r"\['seafan_spark/bad.py:2', 'seafan_spark/sources.py:4', '__spark_entry__.py:2'\]",
    ):
        test_driver_rows_enter_a_dataframe_only_through_local_frame()
