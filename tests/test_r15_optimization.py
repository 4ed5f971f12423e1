"""Round-15 (optimization round 2) focused guards.

1. The drift family's adoption decision now has ONE definition
   (`similarity._drift_adoption`, VERDICT r14 ask #2): x237's output
   column, x260's routing choice, and x261's ledger branch must all
   report the identical adopted quantizer — extending the r14
   x261-vs-x237 equivalence to the whole family.

2. x208's r15 running-min rewrite must pick the identical coreset as
   the pre-r15 re-fold shape (distances to the whole grown seed set
   recomputed every round): min over the same rounded doubles is
   associative, so the incremental `least(md, d(v, newest))` update is
   bit-identical — this test executes the OLD shape inline and compares
   every (pick, vec_id, dist_at_pick) row.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_drift_family_single_adoption_definition(spark, sf_dir):
    from json_to_parquet_spark.queries import registry
    from json_to_parquet_spark.queries.similarity import _drift_adoption

    reg = registry()
    helper_word = _drift_adoption(spark, sf_dir)[0]
    adopted_237 = (
        reg["x237_drift_retrain"].spark(spark, sf_dir).collect()[0].adopted
    )
    adopted_260 = (
        reg["x260_drift_reindex_execute"]
        .spark(spark, sf_dir)
        .collect()[0]
        .adopted
    )
    adopted_261 = (
        reg["x261_drift_reindex_io"].spark(spark, sf_dir).collect()[0].adopted
    )
    assert adopted_237 == helper_word
    assert adopted_260 == helper_word
    assert adopted_261 == helper_word


def _x208_refold_reference(spark, sf_dir):
    """The pre-r15 x208 shape: every round re-folds distances against
    the whole selected set via crossJoin+groupBy(MIN)."""
    from json_to_parquet_spark.queries.modeling import CORESET_K
    from json_to_parquet_spark.queries.similarity import _sq_dist
    from json_to_parquet_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).persist()
    first = emb.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    picks = [(1, int(first.vec_id), 0.0)]
    sel = [(int(first.vec_id), list(first.v))]
    for r in range(2, CORESET_K + 1):
        sel_df = spark.createDataFrame(
            [(i, vv) for i, vv in sel], "s_id long, s_vec array<double>"
        )
        sel_ids = [i for i, _ in sel]
        md = (
            emb.filter(~F.col("vec_id").isin(sel_ids))
            .crossJoin(F.broadcast(sel_df))
            .select(
                "vec_id", "v",
                _sq_dist(F.col("v"), F.col("s_vec")).alias("d"),
            )
            .groupBy("vec_id")
            .agg(F.min("d").alias("md"), F.first("v").alias("v"))
        )
        top = md.orderBy(F.desc("md"), F.asc("vec_id")).limit(1).collect()[0]
        picks.append((r, int(top.vec_id), float(top.md)))
        sel.append((int(top.vec_id), list(top.v)))
    emb.unpersist()
    return picks


def test_x208_running_min_bit_identical_to_refold(spark, sf_dir):
    from json_to_parquet_spark.queries import registry

    got = [
        (int(r.pick), int(r.vec_id), float(r.dist_at_pick))
        for r in registry()["x208_kcenter_coreset"]
        .spark(spark, sf_dir)
        .collect()
    ]
    assert got == _x208_refold_reference(spark, sf_dir)


def test_inline_rows_bit_identical_to_createDataFrame(spark):
    """inline_rows (the r15 VALUES-table spine/rollup builder) must
    reproduce createDataFrame exactly: schema AND values, including
    round-trip-hostile doubles, quoted strings, and NULLs."""
    import math

    from json_to_parquet_spark.queries.helpers import inline_rows

    rows = [
        (1, -(2**62), 0.1, "plain", True),
        (None, 7, 1.5e300, "it's 'quoted'", False),
        (3, None, -4.9e-324, "back\\slash", None),
        (4, 0, float("inf"), None, True),
        (5, 12, float("-inf"), "", False),
        (6, 13, math.pi, "ends in space ", True),
        (7, 14, None, "unicode é漢", False),
    ]
    schema = "a int, b long, c double, d string, e boolean"
    want = spark.createDataFrame(rows, schema)
    got = inline_rows(spark, rows, schema)
    assert got.schema == want.schema
    import struct

    def key(r):
        return tuple(
            struct.pack(">d", x).hex() if isinstance(x, float) else x
            for x in r
        )

    assert sorted(map(key, got.collect()), key=repr) == sorted(
        map(key, want.collect()), key=repr
    )
    # NaN compares unequal to itself — check it survives separately
    nan = inline_rows(spark, [(1, 1, float("nan"), "x", True)], schema)
    assert math.isnan(nan.collect()[0].c)
    # empty input falls back cleanly
    assert inline_rows(spark, [], schema).count() == 0
    # no-NULL rows must still come out all-nullable (createDataFrame
    # parity — the driver's schema compare and downstream unions)
    dense = inline_rows(spark, [(1, 2, 3.0, "x", True)], schema)
    assert dense.schema == spark.createDataFrame(
        [(1, 2, 3.0, "x", True)], schema
    ).schema


def test_inline_rows_rejects_malformed_rows(spark):
    """inline_rows must fail loudly where zip and int() would silently
    truncate: a short or long row, or a non-integral int/long value."""
    import pytest

    from json_to_parquet_spark.queries.helpers import inline_rows

    schema = "a int, b long, c double"
    for bad in ([(1, 2)], [(1, 2, 3.0, 4)], [(2.5, 2, 3.0)], [(1, 7.25, 3.0)]):
        with pytest.raises(ValueError):
            inline_rows(spark, bad, schema)
    # integral values of a numeric type are still accepted
    assert inline_rows(spark, [(1, 2.0, 3)], schema).collect()[0].b == 2
