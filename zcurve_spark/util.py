"""Shared plan utilities."""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def local_df(spark: SparkSession, rows: Iterable[Sequence], schema_ddl: str) -> DataFrame:
    """Driver rows (tuples in `schema_ddl` column order) as a DataFrame.

    The rows travel as one Arrow table and Spark plans them as a JVM
    ``LocalTableScan``.  ``createDataFrame(list, ddl)`` instead pickles
    them into a Python RDD (``Scan ExistingRDD``) that Python workers
    unpickle again for every consumer in the plan — for a 32-row build
    side that costs more than the join it feeds.
    """
    schema = _parse_datatype_string(schema_ddl)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def array_lit(values: Iterable[int]) -> Column:
    """Literal integer array as ONE JVM call.

    ``F.lit(list)`` expands to ``array(lit(v0), lit(v1), ...)``: several
    py4j round trips per element (about 1,300 for one 256-entry byte
    LUT).  Parsing ``array(v0, v1, ...)``
    yields the same ``CreateArray`` of int/bigint literals (same element
    type, widened to bigint when any value needs it; same nullability),
    which ConstantFolding folds to one array literal just the same.
    """
    return F.expr(f"array({', '.join(str(int(v)) for v in values)})")


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition when the input has fewer partitions than cores.

    A single small parquet file arrives as ONE partition, serializing all
    map-side work (key encoding, shingling, signatures) onto one core.
    At cluster scale inputs are many-filed and this is a no-op; the
    operators shouldn't depend on input file layout for parallelism.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # prefer inputFiles(): df.rdd.getNumPartitions() can materialize query
    # stages under AQE; file count is a job-free proxy for scan parallelism
    try:
        n = len(df.inputFiles())
    except Exception:
        n = 0
    if n == 0:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df
