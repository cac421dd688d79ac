"""local_df parity: the Arrow LocalTableScan path must produce the
same values/schema as stock createDataFrame, and unsupported types
must fall back to the classic path."""

from __future__ import annotations

import math

from dotnetvectorsearch_spark.localdf import _arrow_local_df, local_df


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
