"""Round-14 (optimization round) focused guards.

1. The vector kernels (``dot``, ``_sq_dist``, ``_l2_dist``) return the
   exact values of the zip_with+aggregate fold on a small row.

2. x261's r14 pass-sharing restructure must keep the adoption decision
   identical to x237's (the ledger's `adopted` column is x237's
   `adopted` verbatim — one shared assignment per quantizer instead of
   four).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_kernel_values(spark):
    from json_to_parquet_spark.queries.similarity import _l2_dist, _sq_dist, dot

    row = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "id long, a array<double>, b array<double>"
    ).select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        _sq_dist(F.col("a"), F.col("b")).alias("sq"),
        _l2_dist(F.col("a"), F.col("b")).alias("l2"),
    ).collect()[0]
    assert row.dot == 32.0
    assert row.sq == 27.0
    assert row.l2 == 5.196152


def test_x261_adoption_matches_x237(spark, sf_dir):
    from json_to_parquet_spark.queries import registry

    reg = registry()
    adopted_237 = (
        reg["x237_drift_retrain"].spark(spark, sf_dir).collect()[0].adopted
    )
    adopted_261 = (
        reg["x261_drift_reindex_io"].spark(spark, sf_dir).collect()[0].adopted
    )
    assert adopted_261 == adopted_237
