"""local_df parity: the Arrow LocalTableScan path must produce the
same values/schema as stock createDataFrame, and unsupported types
must fall back to the classic path."""

from __future__ import annotations

import math

from dotnetvectorsearch_spark.localdf import (
    _arrow_local_df, collect_bounded, local_df)


def _norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, list):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=str)


def test_local_df_matches_create_dataframe(spark):
    cases = [
        ("a bigint, b double, c string, d boolean",
         [(1, 1.5, "x", True), (None, None, None, None),
          (2, float("nan"), "", False)]),
        ("v array<float>", [([1.5, 2.25, -0.125],), (None,),
                            ([],)]),
        ("cell int, centroid array<float>, nprobe int, seed int",
         [(0, [0.1, 0.2], 4, 42), (1, [0.3, 0.4], 4, 42)]),
        ("version int, n_rows bigint, is_current int, retained int, "
         "note string", [(1, 10, 0, 1, "build"), (2, 20, 1, 1, "x")]),
    ]
    for ddl, rows in cases:
        got = local_df(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema, ddl
        g, w = _norm(got.collect()), _norm(want.collect())
        assert len(g) == len(w)
        for gr, wr in zip(g, w):
            for gv, wv in zip(gr, wr):
                if isinstance(gv, float) and math.isnan(gv):
                    assert isinstance(wv, float) and math.isnan(wv)
                else:
                    assert gv == wv, (ddl, gr, wr)
        # the Arrow path engages for every supported case above
        assert _arrow_local_df(spark, rows, ddl) is not None, ddl
        # and plans as a JVM-local scan (no RDD / Python runner)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan or "EmptyRelation" in plan


def test_local_df_rejects_like_create_dataframe(spark):
    # stock createDataFrame rejects a Python int in a double column;
    # local_df must surface the SAME error (Arrow path defers to the
    # classic verifier instead of silently casting)
    import pytest
    from pyspark.errors.exceptions.base import PySparkTypeError
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([(1,), (2.5,)], "q double").collect()
    # the RDD fallback surfaces the same verifier error at action time
    # (deferred, as documented in the module docstring)
    with pytest.raises(Exception, match="DoubleType.*can not accept"):
        local_df(spark, [(1,), (2.5,)], "q double").collect()


def test_local_df_not_nullable_raises_like_create_dataframe(spark):
    # a None in a nullable=False field skips the Arrow path (which would
    # store the null silently), so the classic verifier raises the same
    # error stock createDataFrame does
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType
    st = StructType([StructField("x", LongType(), nullable=False)])
    rows = [(1,), (None,)]
    assert _arrow_local_df(spark, rows, st) is None
    assert _arrow_local_df(spark, [(1,), (2,)], st) is not None
    with pytest.raises(Exception, match="NOT_NULLABLE"):
        spark.createDataFrame(rows, st).collect()
    with pytest.raises(Exception, match="NOT_NULLABLE"):
        local_df(spark, rows, st).collect()


def test_local_df_falls_back_for_unsupported_types(spark):
    import datetime
    rows = [(datetime.datetime(2031, 3, 1, 12, 0, 0),)]
    ddl = "ts timestamp"
    got = local_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.collect() == want.collect()
    assert _arrow_local_df(spark, rows, ddl) is None


def test_local_df_float32_narrowing_matches(spark):
    # a float64 that is not exactly representable in float32 narrows
    # identically on both paths
    rows = [([0.1, 1e-40, 3.4e38],)]
    a = local_df(spark, rows, "v array<float>").collect()
    b = spark.createDataFrame(rows, "v array<float>").collect()
    assert a == b


# ------------------------------------------------------ collect_bounded

def test_collect_bounded_row_bound_is_inclusive(spark):
    df = spark.range(0, 10, 1, 3).selectExpr("id", "cast(id as string) s")
    table, reason = collect_bounded(df, 10, 1 << 20)
    assert reason == "within bound"
    assert sorted(table.column("id").to_pylist()) == list(range(10))
    assert collect_bounded(df, 9, 1 << 20) == (None, "more than 9 rows")


def test_collect_bounded_refuses_wide_rows_after_one_sizing_job(
        spark, jobs_launched):
    df = spark.range(0, 8, 1, 2).selectExpr(
        "id", "repeat('x', 4000) as text")
    out = []
    jobs = jobs_launched(lambda: out.append(
        collect_bounded(df, 100, 16 * 1024)))
    assert out == [(None, f"more than {16 * 1024} bytes")]
    assert len(jobs) == 1          # the sizing job; nothing collected


def test_collect_bounded_fixed_width_costs_one_job(spark, jobs_launched):
    df = spark.range(0, 50, 1, 4).selectExpr(
        "id", "cast(id as int) i", "id * 0.5 as d", "id % 2 = 0 as b")
    out = []
    assert len(jobs_launched(lambda: out.append(
        collect_bounded(df, 50, 1 << 20)))) == 1
    assert out[0][0].num_rows == 50
    # the byte bound becomes a row bound, still without a sizing job
    out.clear()
    assert len(jobs_launched(lambda: out.append(
        collect_bounded(df, 50, 100)))) == 1
    assert out == [(None, "more than 100 bytes")]


def test_collect_bounded_keeps_nulls_as_none(spark):
    df = spark.createDataFrame(
        [(1, [1.5, None], 2.0), (None, None, None)],
        "a bigint, v array<double>, d double")
    table, _ = collect_bounded(df, 10, 1 << 20)
    assert str(table.schema.field("v").type) == "list<element: double>"
    assert sorted(table.to_pylist(), key=str) == sorted(
        [{"a": 1, "v": [1.5, None], "d": 2.0},
         {"a": None, "v": None, "d": None}], key=str)


def test_collect_bounded_empty_frame_and_zero_budget(spark, jobs_launched):
    df = spark.createDataFrame([], "a bigint, s string")
    table, reason = collect_bounded(df, 10, 1 << 20)
    assert reason == "within bound"
    assert table.num_rows == 0 and table.column_names == ["a", "s"]
    # a 0-byte budget refuses without a job
    out = []
    assert jobs_launched(lambda: out.append(
        collect_bounded(df, 10, 0))) == []
    assert out == [(None, "more than 0 bytes")]
