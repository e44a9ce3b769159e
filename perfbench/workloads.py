"""The workloads and their timed operations.

An op is one public ``zcurve_spark`` call chain ending in one Spark
action.  Each op method returns ``(result, df)``: the value its action
produced and the DataFrame that ran it (``None`` for writes), so a
traced run can read that action's executed plan.  ``check_*`` methods
are the oracles; they run after the op's timer stops.

Each workload repeats a fixed period of ops that holds every op type it
runs, so every seed sees the same mix and only the generated data
differs.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from zcurve_spark.functions.columns import zkey2_col
from zcurve_spark.functions.s2 import s2_cell_col, s2_cellid
from zcurve_spark.operators.bbox import bbox_join_bucketed, bucketed_intervals_df, count_hits
from zcurve_spark.operators.distance import distance_join
from zcurve_spark.operators.knn import knn_batch
from zcurve_spark.operators.pip import pip_join
from zcurve_spark.plans.decompose import decompose_box
from zcurve_spark.sources.interleaved import explode_spans, with_span_geo
from zcurve_spark.sources.manifest import prune_files
from zcurve_spark.sources.points import boxes_df
from zcurve_spark.sources.snapshots import SnapshotStore
from zcurve_spark.util import fan_out

from . import inputs, oracles
from .inputs import BITS
from .tracing import NullTracer, plan_nodes


@dataclass(frozen=True)
class Scale:
    docs_per_batch: int = 9_000
    span_batches: int = 6
    store_points: int = 120_000
    append_points: int = 5_000
    append_batches: int = 12
    boxes_per_batch: int = 32
    box_batches: int = 24
    box_batches_per_commit: int = 2
    knn_queries: int = 32
    knn_k: int = 8
    knn_batches: int = 8
    knn_checked: int = 8
    polygons_convex: int = 3
    polygons_concave: int = 3
    polygon_sets: int = 4
    radius: int = 250
    store_files: int = 16


FULL = Scale()
TINY = Scale(
    docs_per_batch=300,
    span_batches=2,
    store_points=5_000,
    append_points=500,
    append_batches=6,
    boxes_per_batch=6,
    box_batches=4,
    box_batches_per_commit=1,
    knn_queries=8,
    knn_batches=2,
    knn_checked=4,
    polygons_convex=2,
    polygons_concave=2,
    polygon_sets=2,
    radius=2_000,
    store_files=4,
)

DECOMPOSE_BUDGET = 16
S2_LEVEL = oracles.S2_LEVEL


class Workload:
    """Shared plumbing: seeded rng, work directory, DuckDB, oracle clock."""

    name = ""
    batch_op = ""  # the op type whose latency is batch_p50_s
    item = ""  # what items_per_s counts
    warmup_batches = 8  # untimed batch ops before measuring (see run.warmup_ops)

    def __init__(self, spark, work: str, seed: int, scale: Scale):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = NullTracer()  # the runner swaps in its Tracer for traced ops
        self.duck = duckdb.connect()
        self.duck.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        self.oracle_s = 0.0
        self.rows_written = 0
        self.layer: dict[str, list[float]] = {}
        self.unavailable: dict[str, str] = {}  # per-layer metric -> why it is not measured

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def oracle(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.oracle_s += time.perf_counter() - t0

    def generate(self) -> None:
        """Generate the seeded inputs and write them to parquet (no Spark)."""

    def build(self) -> None:
        """Build the stores the ops read, with Spark."""

    def layer_stats(self, op: str, op_id: str, result, df, op_s: float) -> None:
        """Traced runs: record layer metrics of the op just run."""

    def layer_stats_once(self) -> None:
        """Traced runs: record layer metrics measured once per run."""

    def close(self) -> None:
        self.duck.close()


# ---------------------------------------------------------------------------
# tile_ingest
# ---------------------------------------------------------------------------


class TileIngest(Workload):
    """Span batches -> explode_spans -> with_span_geo -> s2_cell_col ->
    (tile_l4, tile_l8, tile_l12, cell) counts -> parquet."""

    name = "tile_ingest"
    batch_op = "tile_batch"
    item = "spans"

    def generate(self) -> None:
        rng = self.rng(1)
        self.batches = []
        for i in range(self.scale.span_batches):
            t = inputs.span_docs(rng, self.scale.docs_per_batch)
            n_spans = int(np.asarray(t["spans"].combine_chunks().value_lengths()).sum())
            self.batches.append((inputs.write(t, self.path("inputs", f"docs-{i}.parquet")), n_spans))
        self._expected: dict[int, np.ndarray] = {}

    def period(self, i: int):
        b = i % len(self.batches)
        return [("tile_batch", lambda: self.tile_batch(b), lambda r: self.check_tile_batch(b, r), self.batches[b][1])]

    def _stages(self, b: int):
        docs = fan_out(self.spark.read.parquet(self.batches[b][0]))
        spans = explode_spans(docs)
        geo = with_span_geo(spans)
        cells = geo.withColumn("cell", s2_cell_col("lon", "lat", S2_LEVEL))
        counts = cells.groupBy("tile_l4", "tile_l8", "tile_l12", "cell").agg(F.count(F.lit(1)).alias("n"))
        return spans, geo, cells, counts

    def tile_batch(self, b: int):
        self._last_batch = b
        counts = self._stages(b)[3]
        out = self.path("out", "tiles")
        counts.write.mode("overwrite").parquet(out)
        return out, None

    def check_tile_batch(self, b: int, out: str) -> bool:
        if b not in self._expected:
            self._expected[b] = self.oracle(oracles.tile_counts, pq.read_table(self.batches[b][0]))
        got = pq.read_table(out, columns=["tile_l4", "tile_l8", "tile_l12", "cell", "n"])
        mat = oracles.sorted_rows(np.stack([got[c].to_numpy() for c in got.column_names], axis=1))
        return mat.shape == self._expected[b].shape and bool((mat == self._expected[b]).all())

    def layer_stats(self, op: str, op_id: str, result, df, op_s: float) -> None:
        """Time prefix actions of the op just run and attribute the
        differences to explode, key encoding, S2 and aggregation."""
        spans, geo, cells, _ = self._stages(self._last_batch)
        t = []
        for name, df, cols in (
            ("prefix:explode", spans, ["span_idx"]),
            ("prefix:geo", geo, ["tile_l4", "tile_l8", "tile_l12"]),
            ("prefix:s2", cells, ["tile_l4", "tile_l8", "tile_l12", "cell"]),
        ):
            with self.tracer.span(name) as rec:
                df.agg(*[F.max(c) for c in cols]).collect()
            t.append(rec["end"] - rec["start"])
        self.note("sources.interleaved.explode_s", t[0])
        self.note("functions.columns.encode_s", t[1] - t[0])
        self.note("functions.s2.cell_s", t[2] - t[1])
        self.note("operators.tiles.agg_s", op_s - t[2])

    def layer_stats_once(self) -> None:
        rng = self.rng(99)
        lon = rng.uniform(-180, 180, 200_000)
        lat = rng.uniform(-90, 90, 200_000)
        runs = []
        for _ in range(5):
            t0 = time.perf_counter_ns()
            s2_cellid(lon, lat)
            runs.append((time.perf_counter_ns() - t0) / len(lon))
        self.note("functions.s2.kernel_ns_per_span", float(np.median(runs)))


# ---------------------------------------------------------------------------
# box_query
# ---------------------------------------------------------------------------


class BoxQuery(Workload):
    """One z-sorted SnapshotStore of points shared by reads and writes:
    box batches, append commits and compaction, plus knn_batch (store
    backed), pip_join over convex and concave polygons and a self
    distance_join.

    The three joins run once per period here rather than as a workload of
    their own: one knn + pip + distance round takes about 8 s on a 4-core
    host, and a separate run long enough for a steady median would cost
    close to a minute more per run."""

    name = "box_query"
    batch_op = "box_batch"
    item = "boxes"
    warmup_batches = 6  # the box batches of the first period

    def generate(self) -> None:
        sc = self.scale
        rng = self.rng(2)
        spots = inputs.hot_spots(rng)
        self.base = inputs.points(rng, sc.store_points, spots)
        self.base_path = inputs.write(self.base, self.path("inputs", "points.parquet"))
        self.appends = [
            inputs.write(
                inputs.points(rng, sc.append_points, spots, pid_base=sc.store_points + i * sc.append_points),
                self.path("inputs", f"append-{i}.parquet"),
            )
            for i in range(sc.append_batches)
        ]
        # every fourth batch is scattered, the rest are viewport-local
        boxes = [
            inputs.boxes(rng, sc.boxes_per_batch, viewport=(i % 4 != 3), qid_base=i * sc.boxes_per_batch)
            for i in range(sc.box_batches)
        ]
        self.queries = [
            inputs.write(inputs.knn_queries(rng, sc.knn_queries, spots, sc.knn_k), self.path("inputs", f"knn-{i}.parquet"))
            for i in range(sc.knn_batches)
        ]
        polys = [inputs.polygons(rng, sc.polygons_convex, sc.polygons_concave, spots) for _ in range(sc.polygon_sets)]
        # the ops take box and polygon lists; they are read back from the
        # written tables so the engine only sees what is on disk
        self.box_batches = inputs.boxes_from_table(
            pq.read_table(inputs.write(inputs.boxes_table(boxes), self.path("inputs", "boxes.parquet")))
        )
        self.poly_sets = inputs.polygons_from_table(
            pq.read_table(inputs.write(inputs.polygons_table(polys), self.path("inputs", "polygons.parquet")))
        )

    def build(self) -> None:
        store_path = self.path("store")
        shutil.rmtree(store_path, ignore_errors=True)
        self.store = SnapshotStore(self.spark, store_path)
        df = self.spark.read.parquet(self.base_path).withColumn("zkey", zkey2_col("x", "y"))
        self.store.commit(df, operation="overwrite", n_partitions=self.scale.store_files)
        self.tables = [self.base]  # every row the store should hold, for the oracles

    def period(self, i: int):
        """Three rounds of (box batches, append commit, one join op), then
        a compaction: every op type once per period."""
        sc = self.scale
        q, p = i % len(self.queries), i % len(self.poly_sets)
        joins = [
            ("knn_batch", lambda: self.knn(q), lambda r: self.check_knn(q, r), 0),
            ("pip_join", lambda: self.pip(p), lambda r: self.check_pip(p, r), 0),
            ("distance_join", self.distance, self.check_distance, 0),
        ]
        ops = []
        for j, join in enumerate(joins):
            r = 3 * i + j
            for t in range(sc.box_batches_per_commit):
                b = (r * sc.box_batches_per_commit + t) % len(self.box_batches)
                ops.append(("box_batch", lambda b=b: self.box_batch(b), lambda res, b=b: self.check_box_batch(b, res), sc.boxes_per_batch))
            a = r % len(self.appends)
            ops.append(("commit", lambda a=a: self.commit(a), self.check_store, 0))
            ops.append(join)
        ops.append(("compact", self.compact, self.check_store, 0))
        return ops

    def _files(self, m: dict | None = None) -> list[str]:
        return [os.path.join(self.store.path, f["file"]) for f in (m or self.store.current())["files"]]

    def _points(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if len(self.tables) > 1:
            self.tables = [pa.concat_tables(self.tables)]
        t = self.tables[0]
        return t["pid"].to_numpy(), t["x"].to_numpy(), t["y"].to_numpy()

    # -- box batches, commits, compaction --------------------------------
    def box_batch(self, b: int):
        boxes = self.box_batches[b]
        with self.tracer.span("plans.decompose"):
            ivs = [iv for bx in boxes for iv in decompose_box(bx["mins"], bx["maxs"], bits=BITS, budget=DECOMPOSE_BUDGET)]
        with self.tracer.span("sources.snapshots.read_pruned"):
            pts = self.store.read_pruned(ivs)
        bivs, shift = bucketed_intervals_df(self.spark, boxes, bits=BITS, budget=DECOMPOSE_BUDGET)
        bdf = boxes_df(self.spark, boxes)
        df = count_hits(bdf, bbox_join_bucketed(pts, bdf, bivs, shift))
        self._last_batch, self._last_ivs = b, ivs
        return {int(r["qid"]): int(r["n_hits"]) for r in df.collect()}, df

    def check_box_batch(self, b: int, got: dict) -> bool:
        return got == self.oracle(oracles.box_counts, self.duck, self._files(), self.box_batches[b])

    def commit(self, a: int):
        df = self.spark.read.parquet(self.appends[a]).withColumn("zkey", zkey2_col("x", "y"))
        m = self.store.commit(df, operation="append", n_partitions=4)
        self.rows_written += m["summary"]["added_rows"]
        self.tables.append(pq.read_table(self.appends[a]))
        return m, None

    def compact(self):
        m = self.store.compact(n_partitions=self.scale.store_files)
        self.rows_written += m["summary"]["added_rows"]
        return m, None

    def check_store(self, m: dict) -> bool:
        n, s = self.oracle(
            lambda: self.duck.execute("SELECT count(*), sum(pid) FROM read_parquet(?)", [self._files(m)]).fetchone()
        )
        pid = self._points()[0]
        return m["total_rows"] == n == len(pid) and int(s) == int(pid.sum())

    # -- joins -------------------------------------------------------------
    def knn(self, q: int):
        df = knn_batch(self.spark.read.parquet(self.queries[q]), store_path=self.store.path, bits=BITS)
        return [tuple(r) for r in df.collect()], df

    def check_knn(self, q: int, rows) -> bool:
        sc = self.scale
        qt = pq.read_table(self.queries[q])
        by_q: dict[int, list] = {}
        for qid, rank, pid, _x, _y, d2 in rows:
            by_q.setdefault(qid, []).append((rank, pid, d2))
        if sorted(by_q) != sorted(qt["qid"].to_pylist()) or any(len(v) != sc.knn_k for v in by_q.values()):
            return False
        half = sc.knn_queries // 2  # check dense and sparse queries alike
        sample = list(range(sc.knn_checked // 2)) + list(range(half, half + sc.knn_checked // 2))
        pts = self._points()
        for i in sample:
            qid, qx, qy = (qt[c][i].as_py() for c in ("qid", "qx", "qy"))
            want = self.oracle(oracles.knn, *pts, qx, qy, sc.knn_k)
            if [(pid, d2) for _rank, pid, d2 in sorted(by_q[qid])] != want:
                return False
        return True

    def pip(self, p: int):
        df = (
            pip_join(self.store.read(), self.poly_sets[p], bits=BITS)
            .groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("pid").alias("s"))
        )
        return {int(r["poly_id"]): (int(r["n"]), int(r["s"])) for r in df.collect()}, df

    def check_pip(self, p: int, got: dict) -> bool:
        return got == self.oracle(oracles.pip, *self._points(), self.poly_sets[p])

    def distance(self):
        pts = self.store.read().select("pid", "x", "y")
        df = distance_join(pts, pts, self.scale.radius, dedup_pairs=True).agg(
            F.count(F.lit(1)), F.sum("d2"), F.sum("a_id"), F.sum("b_id")
        )
        return tuple(int(v or 0) for v in df.collect()[0]), df

    def check_distance(self, got: tuple) -> bool:
        return got == self.oracle(oracles.distance_self_join, self.duck, self._files(), self.scale.radius)

    # -- traced runs -------------------------------------------------------
    def layer_stats(self, op: str, op_id: str, result, df, op_s: float) -> None:
        m = self.store.current()
        files = m["files"]
        self.note("sources.snapshots.files_in_snapshot", len(files))
        self.note("sources.snapshots.bytes_per_row", sum(f["bytes"] for f in files) / max(1, m["total_rows"]))
        if op == "box_batch":
            boxes, ivs = self.box_batches[self._last_batch], self._last_ivs
            area = sum((b["maxs"][0] - b["mins"][0] + 1) * (b["maxs"][1] - b["mins"][1] + 1) for b in boxes)
            self.note("plans.decompose.s", self.tracer.total("plans.decompose", op_id))
            self.note("sources.snapshots.read_pruned_s", self.tracer.total("sources.snapshots.read_pruned", op_id))
            self.note("plans.decompose.intervals_per_box", len(ivs) / len(boxes))
            self.note("plans.decompose.cover_ratio", sum(iv.hi - iv.lo + 1 for iv in ivs) / area)
            self.note("sources.manifest.files_read_ratio", len(prune_files(m, ivs)) / len(files))
            # the bucket join is the deepest join; its condition holds
            # the interval range check, and its rows enter the box refine
            joins = [n for n in plan_nodes(df) if n["name"].endswith("JoinExec")]
            hits = sum(result.values())
            if hits and joins:
                deepest = max(joins, key=lambda n: n["depth"])
                self.note("operators.bbox.candidates_per_hit", int(deepest["rows"] or 0) / hits)
        elif op == "compact":
            self.note("sources.snapshots.compact.bytes_rewritten", sum(f["bytes"] for f in files))
        elif op == "pip_join":
            nodes = plan_nodes(df)
            self.note("operators.pip.broadcast_rows", sum(int(n["rows"] or 0) for n in nodes if n["name"] == "BroadcastExchangeExec"))
            self.unavailable["operators.pip.candidates_per_match"] = _FUSED
        elif op == "distance_join":
            gen = sum(int(n["rows"] or 0) for n in plan_nodes(df) if n["name"] == "GenerateExec")
            self.note("operators.distance.replication", gen / m["total_rows"])
            self.unavailable["operators.distance.candidates_per_pair"] = _FUSED


_FUSED = (
    "the optimizer plans the exact-refine predicate into the join condition, "
    "so the join's SQL metrics count only rows that pass the refine step"
)


WORKLOADS = {w.name: w for w in (TileIngest, BoxQuery)}
