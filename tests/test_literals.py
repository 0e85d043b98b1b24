"""Plan literals (``session._plan_literal``): a driver-side list enters a
plan as one constant. The value must equal the per-element ``F.lit`` form
bit for bit, raise at the call when it does not fit its type, fold away before
the query runs, and cost a fixed number of gateway calls whatever its
size. A guard keeps per-element constant lists out of ``seafan_spark``."""

import ast
import datetime
import decimal
import gc
import math
import pathlib
import random
import struct
import sys

import py4j.clientserver
import py4j.protocol as proto
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import seafan_spark.session as session
from seafan_spark.session import _plan_literal

PKG = pathlib.Path(session.__file__).parent


def _one(spark, col):
    return spark.range(1).select(col.alias("x")).collect()[0]["x"]


def _bits(v):
    return None if v is None else struct.pack(">d", v)


def test_doubles_are_bit_equal_to_per_element_lits(spark):
    vals = [
        float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 5e-324,
        2.2250738585072014e-308, 1.7976931348623157e308,
        -1.7976931348623157e308, 0.1, 1 / 3, -2.5e-17, None,
    ]
    rng = random.Random(7)
    vals += [rng.uniform(-1e6, 1e6) for _ in range(100)]
    vals += [rng.gauss(0, 1) * 10.0 ** rng.randint(-300, 300) for _ in range(100)]
    got = _one(spark, _plan_literal(vals, "array<double>"))
    ref = _one(spark, F.array(*[F.lit(v).cast("double") for v in vals]))
    assert [_bits(v) for v in got] == [_bits(v) for v in ref]
    assert math.copysign(1.0, got[3]) == -1.0 and got[12] is None


def test_empty_list_keeps_its_type(spark):
    df = spark.range(1).select(_plan_literal([], "array<double>").alias("x"))
    assert df.schema["x"].dataType.simpleString() == "array<double>"
    assert df.collect()[0]["x"] == []


def test_strings_round_trip(spark):
    words = ['a"b', "c\\d", "\\\"", "über", "中文", "tab\tnew\nline", "", None]
    assert _one(spark, _plan_literal(words, "array<string>")) == words


def test_nested_and_struct_types(spark):
    nested = [[1.5, -0.0], [], [float("inf"), None]]
    got = _one(spark, _plan_literal(nested, "array<array<double>>"))
    assert [[_bits(v) for v in row] for row in got] == [
        [_bits(v) for v in row] for row in nested
    ]
    table = [{"cell": 2**53 + 1, "cv": [0.25, -1.0]}, {"cell": -(2**63), "cv": []}]
    got = _one(
        spark, _plan_literal(table, "array<struct<cell:bigint,cv:array<double>>>")
    )
    assert [r.asDict() for r in got] == table
    # a struct given as a Row (by field name) or a tuple (by position)
    ddl = "array<struct<p:struct<a:bigint,b:string>>>"
    for inner in (Row(a=1, b="x"), (1, "x")):
        got = _one(spark, _plan_literal([{"p": inner}, {"p": None}], ddl))
        assert [r.asDict(recursive=True) for r in got] == [
            {"p": {"a": 1, "b": "x"}}, {"p": None}
        ]
    got = _one(spark, _plan_literal([Row(cell=3, cv=[0.5]), (4, [])],
                                    "array<struct<cell:bigint,cv:array<double>>>"))
    assert [r.asDict() for r in got] == [{"cell": 3, "cv": [0.5]}, {"cell": 4, "cv": []}]
    assert _one(spark, _plan_literal([2**63 - 1, 2**53 + 1], "array<bigint>")) == [
        2**63 - 1,
        2**53 + 1,
    ]


_NTZ = [
    datetime.datetime(2021, 3, 4, 5, 6, 7, 890123),
    datetime.datetime(2021, 3, 14, 2, 30),  # not a New York wall time
    None,
]


def test_dates_timestamps_and_decimals_match_per_element_lits(spark):
    for vals, ddl in [
        ([datetime.date(2020, 2, 29), None], "array<date>"),
        ([datetime.datetime(2021, 3, 4, 5, 6, 7, 890123)], "array<timestamp>"),
        ([decimal.Decimal("-12345678.90"), decimal.Decimal("0.01")], "array<decimal(10,2)>"),
        (_NTZ, "array<timestamp_ntz>"),
        ([b"ab\x00\xff", b"", None, bytes(range(256))], "array<binary>"),
    ]:
        ref = _one(spark, F.array(*[F.lit(v).cast(ddl[6:-1]) for v in vals]))
        assert _one(spark, _plan_literal(vals, ddl)) == ref == vals


def test_timestamp_ntz_keeps_wall_clock_in_any_local_zone(spark, monkeypatch):
    import time

    # a naive datetime is wall-clock time for timestamp_ntz: the local
    # zone must not shift it, even across a daylight-saving gap
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = _one(spark, _plan_literal(_NTZ, "array<timestamp_ntz>"))
        nested = _one(
            spark,
            _plan_literal([{"t": _NTZ[0], "b": b"\x01"}], "array<struct<t:timestamp_ntz,b:binary>>"),
        )
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == _NTZ
    assert nested[0].asDict() == {"t": _NTZ[0], "b": bytearray(b"\x01")}


@pytest.mark.parametrize(
    "value, ddl",
    [
        ([2**70], "array<bigint>"),
        ([1.5], "array<bigint>"),
        (["x"], "array<double>"),
        ([1], "array<double>"),
        ([{"cell": 1, "cv": ["x"]}], "array<struct<cell:bigint,cv:array<double>>>"),
    ],
)
def test_a_value_that_does_not_fit_raises(spark, value, ddl):
    # at the call, from createDataFrame's row check, not at collect time
    with pytest.raises((TypeError, ValueError)):
        _plan_literal(value, ddl)


def test_the_parse_is_folded_before_the_query_runs(spark):
    lit = _plan_literal([1.0, 2.0, 3.0], "array<double>")
    df = spark.range(3).select(
        F.size(lit).alias("n"),
        F.transform(lit, lambda x: x * F.col("id")).alias("t"),
        F.filter(F.array(F.lit("a")), lambda t: F.array_contains(
            _plan_literal(["a", "b"], "array<string>"), t
        )).alias("f"),
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan.lower() and "jsontostructs" not in plan.lower(), plan
    assert "3 AS n" in plan, plan
    assert df.collect()[2]["t"] == [2.0, 4.0, 6.0]


# ---- gateway cost of centroid scoring ----------------------------------------


def _gateway_calls(monkeypatch, build) -> int:
    """Py4J commands sent while ``build`` runs. Releases of dead proxies
    are not counted: Python's collector decides when they are sent."""
    calls = [0]
    original = py4j.clientserver.ClientServerConnection.send_command
    release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command):
        if not command.startswith(release):
            calls[0] += 1
        return original(self, command)

    gc.collect()
    with monkeypatch.context() as m:
        m.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
        build()
    return calls[0]


def test_centroid_scoring_gateway_calls_do_not_grow_with_k(spark, monkeypatch):
    from seafan_spark.llmops.dedup import _assign_to_centroids

    rng = random.Random(3)
    dim = 16
    unit = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(20)],
        "_id long, _v array<double>",
    )

    def cents(k):
        return spark.createDataFrame(
            [(c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(k)],
            "_cell long, _cv array<double>",
        )

    small, large = cents(4), cents(64)
    for c in (small, large):  # cache each frame's schema on the Python side
        _assign_to_centroids(unit, c)
    n_small = _gateway_calls(monkeypatch, lambda: _assign_to_centroids(unit, small))
    n_large = _gateway_calls(monkeypatch, lambda: _assign_to_centroids(unit, large))
    assert n_small > 0
    assert n_large == n_small, (n_small, n_large)


# ---- guard: no per-element constant lists in seafan_spark --------------------


def _callee(node):
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _per_element_constant(node) -> bool:
    """``F.array(*[F.lit(...) for ...])``, ``x.isin(*name)`` or
    ``F.create_map(*name)``."""
    if not isinstance(node, ast.Call):
        return False
    starred = [a.value for a in node.args if isinstance(a, ast.Starred)]
    name = _callee(node.func)
    if name == "array":
        return any(
            isinstance(s, (ast.ListComp, ast.GeneratorExp))
            and isinstance(s.elt, ast.Call)
            and _callee(s.elt.func) == "lit"
            for s in starred
        )
    if name == "create_map" or (name == "isin" and isinstance(node.func, ast.Attribute)):
        return any(isinstance(s, ast.Name) for s in starred)
    return False


def test_no_constant_list_is_built_one_lit_at_a_time():
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = path.relative_to(PKG.parent)
        bad += [f"{rel}:{n.lineno}" for n in ast.walk(tree) if _per_element_constant(n)]
    assert not bad, f"use session._plan_literal for these constant lists: {bad}"


def test_guard_rejects_a_planted_site(tmp_path, monkeypatch):
    pkg = tmp_path / "seafan_spark"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def op(col, xs, words):\n"
        "    a = F.array(*[F.lit(float(x)) for x in xs])\n"
        "    b = col.isin(*words)\n"
        "    ok = F.array(*[(col == F.lit(i)).cast('double') for i in xs])\n"
        "    c = F.create_map(*words)\n"
        "    return a, b, ok, c\n"
    )
    monkeypatch.setattr(sys.modules[__name__], "PKG", pkg)
    with pytest.raises(
        AssertionError,
        match=r"\['seafan_spark/bad.py:3', 'seafan_spark/bad.py:4', 'seafan_spark/bad.py:6'\]",
    ):
        test_no_constant_list_is_built_one_lit_at_a_time()
