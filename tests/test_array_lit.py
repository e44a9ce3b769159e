"""util.array_lit: a literal integer array built in one JVM call must be
the same expression ``F.lit(list)`` builds, and fold the same way."""

from __future__ import annotations

from pyspark.sql import functions as F

from zcurve_spark.functions.columns import zkey2_col
from zcurve_spark.util import array_lit


def _data_type(spark, col):
    return spark.range(1).select(col.alias("a")).schema["a"].dataType


def test_int_array_type_matches_lit(spark):
    values = list(range(256))
    assert _data_type(spark, array_lit(values)) == _data_type(spark, F.lit(values))


def test_mixed_int_bigint_type_matches_lit(spark):
    values = [1 << j for j in range(48)]  # int up to 2^30, bigint from 2^31
    got = _data_type(spark, array_lit(values))
    assert got == _data_type(spark, F.lit(values))
    assert got.elementType.typeName() == "long"
    assert spark.range(1).select(array_lit(values)).first()[0] == values


def test_zkey2_plan_folds_lut_literals(spark):
    """The analyzed plan builds the byte LUTs with CreateArray; the
    optimizer folds each into one array literal."""
    qe = spark.range(4).select(F.col("id").alias("x"), F.col("id").alias("y"))
    qe = qe.select(zkey2_col("x", "y"))._jdf.queryExecution()
    assert "array(0, 1, 4, 5," in qe.analyzed().toString()
    optimized = qe.optimizedPlan().toString()
    assert "array(" not in optimized
    assert optimized.count("element_at([0,1,4,5,") == 8
