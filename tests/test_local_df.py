"""util.local_df: driver-built relations as Arrow LocalRelations.

(a) every engine relation built through local_df keeps exactly the schema
    (and rows) the pickled ``createDataFrame(list, schema)`` path gave;
(b) the executed plans of the operators that build such relations scan
    them as ``LocalTableScan`` and never as a pickled ``ExistingRDD``;
(c) property test: int64 extremes, negative coords, nulls, nested
    arrays and the empty row list round-trip through collect() unchanged.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from zcurve_spark.functions.columns import zkey2_col
from zcurve_spark.operators.bbox import bbox_join_bucketed, bucketed_intervals_df, count_hits
from zcurve_spark.operators.knn import knn_batch
from zcurve_spark.operators.pip import pip_join
from zcurve_spark.sources.manifest import write_sorted
from zcurve_spark.sources.points import boxes_df
from zcurve_spark.util import local_df

I64_MAX = 2**63 - 1
ZKEY60 = 2**60 - 1
EDGES = "array<struct<ex:long,ey:long,fx:long,fy:long>>"

# (call site, schema of the old createDataFrame(list, schema) call, rows)
SITES = [
    ("points.boxes_df", "qid long, x0 long, y0 long, x1 long, y1 long", [(0, 5, 6, 7, 8)]),
    (
        "points.boxes_df 3d",
        "qid long, x0 long, y0 long, z0 long, x1 long, y1 long, z1 long",
        [(0, 1, 2, 3, 4, 5, 6)],
    ),
    ("bbox.intervals_df", "qid long, lo long, hi long, solid boolean", [(1, 0, ZKEY60, True)]),
    (
        "bbox.bucketed_intervals_df",
        "qid long, lo long, hi long, solid boolean, bucket long",
        [(1, 4, 9, False, 2), (1, 4, 9, False, 3)],
    ),
    ("knn.qmeta", "qid long, qx long, qy long, k int", [(3, 10, 20, 8)]),
    (
        "knn.result",
        "qid long, rank int, pid long, x long, y long, d2 long",
        [(3, 1, 77, 10, 21, 1)],
    ),
    (
        "pip.cover",
        f"tile_id long, poly_id long, solid boolean, edges {EDGES}",
        [(5, 1, False, [(0, 0, 9, 0), (9, 0, 0, 9)]), (6, 1, True, None)],
    ),
    ("manifest.read_pruned_df", "file string, kmin long, kmax long", [("part-0.parquet", 0, 99)]),
    ("snapshots.merge", ["_file", "_kmin", "_kmax"], [("part-1.parquet", 100, I64_MAX)]),
    ("tiles.raster_assign_pruned", "cell_id long, level int", [(12, 4)]),
    ("similarity.ivf_topk", "qid long, qvec array<long>, cell int", [(2, [-3, 0, 7], 1)]),
]


def _ddl(schema) -> str:
    # the snapshot site named its columns only; these are the inferred types
    if isinstance(schema, list):
        return "_file string, _kmin long, _kmax long"
    return schema


@pytest.mark.parametrize("site,schema,rows", SITES, ids=[s[0] for s in SITES])
def test_schema_and_rows_match_pickled_path(spark, site, schema, rows):
    new = local_df(spark, rows, _ddl(schema))
    old = spark.createDataFrame(rows, schema)
    assert new.schema == old.schema
    assert new._jdf.schema().json() == old._jdf.schema().json()
    assert new.collect() == old.collect()


def test_empty_rows_keep_schema(spark):
    ddl = "qid long, rank int, pid long, x long, y long, d2 long"
    df = local_df(spark, [], ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert df.collect() == []


def _executed_plans(spark, action) -> list[str]:
    """Final physical plans of every SQL execution `action` ran."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    action()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() > before]


def _assert_local_scans(plans: list[str]) -> None:
    assert plans
    assert any("LocalTableScan" in p for p in plans)
    for p in plans:
        assert "ExistingRDD" not in p, p


def _points(spark, n=4000, bits=10):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("pid"),
            (F.col("id") * 37 % (1 << bits)).alias("x"),
            (F.col("id") * 91 % (1 << bits)).alias("y"),
        )
        .withColumn("zkey", zkey2_col("x", "y"))
    )


BOXES = [
    {"qid": 0, "mins": (10, 20), "maxs": (300, 250)},
    {"qid": 1, "mins": (500, 0), "maxs": (1023, 90)},
]


class TestPlansScanLocalRelations:
    def test_boxes_df(self, spark):
        df = boxes_df(spark, BOXES)
        _assert_local_scans(_executed_plans(spark, df.collect))

    def test_bbox_join_bucketed_count_hits(self, spark):
        bdf = boxes_df(spark, BOXES)
        bivs, shift = bucketed_intervals_df(spark, BOXES, bits=10)
        df = count_hits(bdf, bbox_join_bucketed(_points(spark), bdf, bivs, shift))
        _assert_local_scans(_executed_plans(spark, df.collect))

    def test_pip_join(self, spark):
        poly = {"poly_id": 1, "vertices": [(100, 100), (700, 150), (400, 800)]}
        df = pip_join(_points(spark), [poly], bits=10)
        _assert_local_scans(_executed_plans(spark, df.collect))

    def test_store_backed_knn_batch(self, spark, tmp_path):
        store = str(tmp_path / "store")
        write_sorted(_points(spark, bits=20), store, n_partitions=4)
        queries = spark.range(4).select(
            F.col("id").alias("qid"),
            (F.col("id") * 200 + 50).alias("qx"),
            (F.col("id") * 150 + 30).alias("qy"),
            F.lit(5).alias("k"),
        )

        # identity checkpointer: localCheckpoint would itself show up as
        # a Scan ExistingRDD over its cached blocks
        def run():
            knn_batch(queries, store_path=store, bits=20, checkpointer=lambda df: df).collect()

        _assert_local_scans(_executed_plans(spark, run))


ROW = st.tuples(
    st.one_of(st.none(), st.integers(-(2**63), I64_MAX)),
    st.integers(-(2**31), 2**31 - 1),
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), st.text(max_size=8)),
    st.one_of(
        st.none(),
        st.lists(st.tuples(*[st.integers(-(2**63), I64_MAX)] * 4), max_size=3),
    ),
)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=st.lists(ROW, max_size=6))
@example(rows=[])
@example(rows=[(I64_MAX, -1, True, "", [(ZKEY60, -(2**63), 0, -7)]), (None, 0, None, None, None)])
def test_rows_round_trip(spark, rows):
    ddl = f"zkey long, x int, solid boolean, name string, edges {EDGES}"
    assert local_df(spark, rows, ddl).collect() == rows
