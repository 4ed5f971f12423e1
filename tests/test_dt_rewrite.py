"""Tests for the ``_dt`` rewriter (SURVEY §5: property tests — rewrite is
idempotent, non-_dt fields untouched, all six fixture sites converted)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_to_parquet_spark.functions.dt_rewrite import (
    dt_rewrite_columns,
    dt_rewrite_paths,
    rewrite_dt_fields,
)

UTC = datetime.timezone.utc


def _ts_sites(dtype, name="", path=""):
    """All dotted paths with TimestampType in a schema."""
    out = []
    if isinstance(dtype, T.TimestampType):
        out.append(path)
    elif isinstance(dtype, T.StructType):
        for f in dtype.fields:
            out += _ts_sites(f.dataType, f.name, f"{path}.{f.name}" if path else f.name)
    elif isinstance(dtype, T.ArrayType):
        out += _ts_sites(dtype.elementType, name, f"{path}[]")
    return out


def test_flat_rewrite(spark):
    df = spark.createDataFrame(
        [("2025-06-01T10:20:30Z", "keep", 5)], "a_dt string, b string, n long"
    )
    out = rewrite_dt_fields(df)
    assert [f.dataType for f in out.schema.fields] == [
        T.TimestampType(),
        T.StringType(),
        T.LongType(),
    ]
    row = out.collect()[0]
    assert row.a_dt == datetime.datetime(2025, 6, 1, 10, 20, 30)
    assert row.b == "keep" and row.n == 5


def test_nested_sites_and_null_preservation(spark):
    schema = T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("x_dt", T.StringType()),
                        T.StructField("y", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("c_dt", T.StringType()),
                            T.StructField("k", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            Row(meta=Row(x_dt="2025-01-01T00:00:00Z", y="s"), items=[Row(c_dt=None, k=1)]),
            Row(meta=None, items=None),  # null struct / null array must stay null
        ],
        schema,
    )
    out = rewrite_dt_fields(df)
    assert sorted(dt_rewrite_paths(df.schema)) == ["items[].c_dt", "meta.x_dt"]
    assert sorted(_ts_sites(out.schema)) == ["items[].c_dt", "meta.x_dt"]
    rows = out.collect()
    assert rows[0].meta.x_dt == datetime.datetime(2025, 1, 1) and rows[0].meta.y == "s"
    assert rows[0].items[0].c_dt is None and rows[0].items[0].k == 1
    assert rows[1].meta is None and rows[1].items is None


def test_idempotent(spark):
    df = spark.createDataFrame([("2025-06-01T10:20:30Z",)], "a_dt string")
    once = rewrite_dt_fields(df)
    twice = rewrite_dt_fields(once)
    # After the first pass a_dt is a timestamp, no string *_dt sites remain.
    assert dt_rewrite_paths(once.schema) == []
    assert twice.schema == once.schema
    assert twice.collect() == once.collect()


def test_non_dt_untouched_no_project_needed(spark):
    df = spark.createDataFrame([("x", 1)], "a string, b long")
    out = rewrite_dt_fields(df)
    assert out is df  # no _dt sites → identical DataFrame object, zero plan cost


def test_coerce_vs_strict(spark):
    df = spark.createDataFrame([("not a date",)], "a_dt string")
    coerced = rewrite_dt_fields(df, mode="coerce").collect()
    assert coerced[0].a_dt is None
    with pytest.raises(Exception, match="unparseable"):
        rewrite_dt_fields(df, mode="strict").collect()


def test_array_of_dt_strings_passes_through(spark):
    """Reference parity: the list path (pyarrow/main.py:258-279) recurses
    only into list<struct>; a top-level array<string> named '*_dt' is NOT
    converted — element strings stay strings even in strict mode."""
    df = spark.createDataFrame(
        [Row(seen_dt=["2025-01-01T00:00:00Z", "not a date at all"])],
        "seen_dt array<string>",
    )
    out = rewrite_dt_fields(df, mode="strict")
    assert out is df  # no rewrite site → identity
    assert out.schema["seen_dt"].dataType == T.ArrayType(T.StringType())


def test_columns_stay_in_schema_order(spark):
    df = spark.createDataFrame([("2025-01-01T00:00:00Z", "v", 1)], "z_dt string, a string, m long")
    out = rewrite_dt_fields(df)
    assert out.columns == df.columns


def test_no_python_udf_in_plan(spark):
    """The rewrite must stay JVM-side: no BatchEvalPython/ArrowEvalPython."""
    df = spark.createDataFrame(
        [Row(meta=Row(x_dt="2025-01-01T00:00:00Z"), n=1)],
        "meta struct<x_dt string>, n long",
    )
    plan = rewrite_dt_fields(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_map_value_sites(spark):
    """A struct in a map's value slot has its ``_dt`` fields rewritten and
    reported as ``m{}.x_dt``; a ``map<string,string>`` named ``*_dt``
    passes through, because the value slot is anonymous (as for arrays)."""
    df = spark.createDataFrame(
        [({"a": Row(x_dt="2025-01-01T06:00:00Z", y=1)}, {"k": "not a date"})],
        "m map<string, struct<x_dt: string, y: long>>, s_dt map<string, string>",
    )
    assert dt_rewrite_paths(df.schema) == ["m{}.x_dt"]
    out = rewrite_dt_fields(df, mode="strict")
    assert out.schema["m"].dataType.valueType == T.StructType(
        [T.StructField("x_dt", T.TimestampType()), T.StructField("y", T.LongType())]
    )
    assert out.schema["s_dt"].dataType == T.MapType(T.StringType(), T.StringType())
    row = out.collect()[0]
    assert row.m["a"].x_dt == datetime.datetime(2025, 1, 1, 6) and row.m["a"].y == 1
    assert row.s_dt == {"k": "not a date"}

    plain = spark.createDataFrame([({"k": "v"},)], "s_dt map<string, string>")
    assert dt_rewrite_paths(plain.schema) == []
    assert rewrite_dt_fields(plain, mode="strict") is plain


def test_py4j_budget_on_findings_schema(spark, tmp_path):
    """Finding the sites is a walk over the Python schema (no py4j round
    trip), and the strict compile builds Columns only along the site paths
    (~1k calls). A compile that visits every field, or builds a probe
    subtree per array level, makes ~4k and trips the budget."""
    from py4j.java_gateway import GatewayClient

    from tests.findings_fixture import DT_PATHS, write_fixture

    _, shuffled = write_fixture(str(tmp_path), n=50)
    df = spark.read.json(shuffled)
    schema = df.schema  # fetched (and cached on the frame) before counting
    calls = [0]
    orig = GatewayClient.send_command

    def counting(client, *args, **kwargs):
        calls[0] += 1
        return orig(client, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        paths = dt_rewrite_paths(schema)
        paths_calls, calls[0] = calls[0], 0
        rewrite_dt_fields(df, mode="strict")
        strict_calls = calls[0]
    finally:
        GatewayClient.send_command = orig
    assert sorted(paths) == DT_PATHS
    assert paths_calls == 0
    assert strict_calls < 1500, strict_calls
