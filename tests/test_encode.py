"""Encoding semantics from gdata_test.go:101-174 (FIXTURES.md §3)."""

import datetime

import pytest

from seafan_spark.encode import (
    EncodeError,
    append_cat,
    append_cts,
    cat_code_col,
    fit_levels,
    make_one_hot,
    reinit,
    un_normalize_col,
)
from seafan_spark.ftypes import FParam, FRole, FTypes
from seafan_spark.sources import vec_to_pipe


@pytest.fixture()
def enc_pipe(spark):
    return vec_to_pipe(
        spark,
        {
            "Field0": [float(i) for i in range(10)],
            "Field1": ["a", "b", "c", "a", "b", "c", "a", "c", "c", "c"],
        },
    )


def test_normalize_fitted(enc_pipe):
    p = append_cts(enc_pipe, "Field0", normalize=True)
    ft = p.fts.get("Field0")
    assert abs(ft.fp.location - 4.5) < 1e-9
    vals = p.collect_field("Field0")
    assert abs(sum(vals)) < 1e-9  # mean 0
    # round-trip back to raw
    back = [r[0] for r in p.ordered_df().select(un_normalize_col(ft)).collect()]
    assert back == pytest.approx([float(i) for i in range(10)])


def test_normalize_supplied(enc_pipe):
    p = append_cts(enc_pipe, "Field0", normalize=True, fp=FParam(location=1.0, scale=2.0))
    assert p.collect_field("Field0") == pytest.approx([(i - 1.0) / 2.0 for i in range(10)])


def test_normalize_zero_variance(spark):
    p = vec_to_pipe(spark, {"x": [5.0, 5.0, 5.0]})
    with pytest.raises(EncodeError):
        append_cts(p, "x", normalize=True)


def test_cat_sorted_unique_codes(enc_pipe):
    p = append_cat(enc_pipe, "Field1", materialize_code=True)
    ft = p.fts.get("Field1")
    assert ft.fp.levels == {"a": 0, "b": 1, "c": 2}
    codes = [r[0] for r in p.ordered_df().select("Field1__code").collect()]
    assert codes == [0, 1, 2, 0, 1, 2, 0, 2, 2, 2]


def test_cat_supplied_dict_default(spark):
    # supplied dict {a:2,b:3,c:4} default b; unseen r -> 3 (gdata_test.go:155-173)
    p = vec_to_pipe(spark, {"F": ["a", "r", "c"]})
    fp = FParam(levels={"a": 2, "b": 3, "c": 4}, default="b")
    p = append_cat(p, "F", fp=fp, materialize_code=True)
    codes = [r[0] for r in p.ordered_df().select("F__code").collect()]
    assert codes == [2, 3, 4]


_D = datetime.date
_T = datetime.datetime


@pytest.mark.parametrize(
    "ddl, vals",
    [
        ("string", ["b", None, "a", "c", "zz"]),
        ("int", [3, None, 1, 2, 7]),
        ("bigint", [3, None, 1, 2, 7]),  # int-sized keys on a bigint column
        ("bigint", [2**40, None, 1, 2, 7]),
        ("boolean", [True, None, True, False]),
        ("date", [_D(2020, 1, 3), None, _D(2020, 1, 1), _D(2021, 5, 6)]),
        ("timestamp", [_T(2020, 1, 3, 4, 5), None, _T(2020, 1, 1), _T(2021, 5, 6)]),
        ("int", [None, None, 5]),  # an all-NULL column fits no level
    ],
)
def test_cat_code_lookup_is_one_folded_literal(spark, ddl, vals):
    """The level -> code lookup is one map literal after optimization and
    gives the codes of a per-level ``create_map`` of ``F.lit`` pairs; a
    NULL (second value) and an unseen value (last) get no code."""
    from pyspark.sql import functions as F

    from seafan_spark.ftypes import FType

    df = spark.createDataFrame([(v,) for v in vals], f"v {ddl}")
    ft = FType(name="v", role=FRole.CAT)
    ft.fp = FParam(levels={v: i for i, v in enumerate(sorted(set(vals[:-1]) - {None}))})
    pairs = []
    for v, code in ft.fp.levels.items():
        pairs += [F.lit(v), F.lit(code)]
    want = F.element_at(F.create_map(*pairs), F.col("v")).cast("int")
    out = df.select(cat_code_col(ft).alias("got"), want.alias("want"))
    rows = out.collect()
    assert [r["got"] for r in rows] == [r["want"] for r in rows]
    assert rows[1]["got"] is None and rows[-1]["got"] is None
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan and "map_from_arrays" not in plan, plan


def test_cat_float_rejected(spark):
    p = vec_to_pipe(spark, {"F": [1.5, 2.5]})
    with pytest.raises(EncodeError):
        fit_levels(p, "F")


def test_one_hot(enc_pipe):
    p = append_cat(enc_pipe, "Field1")
    p = make_one_hot(p, "Field1", "Field1_oh")
    oh = p.collect_field("Field1_oh")
    assert oh[0] == [1.0, 0.0, 0.0]
    assert oh[1] == [0.0, 1.0, 0.0]
    assert oh[7] == [0.0, 0.0, 1.0]
    ft = p.fts.get("Field1_oh")
    assert ft.role == FRole.ONE_HOT and ft.cats == 3 and ft.from_field == "Field1"


def test_ftypes_json_roundtrip(enc_pipe, tmp_path):
    p = append_cts(enc_pipe, "Field0", normalize=True)
    p = append_cat(p, "Field1")
    path = str(tmp_path / "fts.json")
    p.fts.save(path)
    loaded = FTypes.load(path)
    f0, f1 = loaded.get("Field0"), loaded.get("Field1")
    assert f0.normalized and abs(f0.fp.location - 4.5) < 1e-9
    assert f1.role == FRole.CAT and f1.fp.levels == {"a": 0, "b": 1, "c": 2}


def test_reinit_refits(spark):
    p = vec_to_pipe(spark, {"F": ["x", "y"]})
    p = append_cat(p, "F")
    p2 = p.filter(p.df.F == "x")
    p3 = reinit(p2)
    assert p3.fts.get("F").fp.levels == {"x": 0}


def test_join_drops_one_hot(enc_pipe, spark):
    p = append_cat(enc_pipe, "Field1")
    p = make_one_hot(p, "Field1", "Field1_oh")
    right = vec_to_pipe(spark, {"Field1": ["a", "b"], "z": [1.0, 2.0]})
    j = p.join(right, "Field1", "inner")
    assert "Field1_oh" not in j.df.columns


def test_fit_levels_cardinality_cap(spark):
    from seafan_spark.sources import vec_to_pipe

    p = vec_to_pipe(spark, {"c": [f"v{i}" for i in range(50)]})
    with pytest.raises(EncodeError, match="distinct"):
        fit_levels(p, "c", max_levels=10)
    # at-or-under the cap still fits the full sorted dictionary
    fp = fit_levels(p, "c", max_levels=50)
    assert len(fp.levels) == 50
    assert fp.levels["v0"] == 0


def test_fit_levels_null_not_counted_toward_cap(spark):
    from seafan_spark.sources import vec_to_pipe

    p = vec_to_pipe(spark, {"c": ["a", "b", "c", None, None]})
    fp = fit_levels(p, "c", max_levels=3)  # 3 non-null levels + NULLs: fits
    assert len(fp.levels) == 3


def test_ftypes_datetime_levels_roundtrip(tmp_path):
    import datetime as dt

    from seafan_spark.ftypes import FParam, FRole, FType, FTypes

    lv = {
        dt.datetime(2020, 1, 2, 3, 4, 5): 0,
        dt.datetime(2021, 6, 7, 8, 9, 10): 1,
    }
    fts = FTypes()
    ft = FType(name="t", role=FRole.CAT)
    ft.fp = FParam(levels=lv)
    fts.add(ft)
    path = str(tmp_path / "fts.json")
    fts.save(path)
    back = FTypes.load(path)
    assert back.get("t").fp.levels == lv
