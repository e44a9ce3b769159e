"""Self-tests of the benchmark: oracles, the job summarizer, tiny runs of
every workload, and failure accounting.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import oracles, run as bench
from perfbench.tracing import Tracer, job_summary, plan_nodes
from perfbench.workloads import TINY, WORKLOADS, BoxQuery, TileIngest
from zcurve_spark.functions.curvekey import zkey2
from zcurve_spark.operators.pip import _pip_kernel


@pytest.fixture(scope="module")
def spark():
    bench.configure_env(bench.WORK)
    from zcurve_spark.session import get_spark

    s = get_spark(app="perfbench-tests", cores=2)
    yield s
    s.stop()


def test_interleave_oracle_matches_engine_kernel():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 30, 1000)
    y = rng.integers(0, 1 << 30, 1000)
    assert (oracles.interleave2(x, y, 30) == zkey2(x, y).astype(np.int64)).all()


def test_pip_oracle_matches_engine_kernel():
    rng = np.random.default_rng(1)
    star = [(500, 0), (620, 380), (1000, 380), (690, 620), (800, 1000), (500, 760), (200, 1000), (310, 620), (0, 380), (380, 380)]
    x = rng.integers(-50, 1050, 20_000)
    y = rng.integers(-50, 1050, 20_000)
    # points on vertices and edges exercise the boundary rule
    x = np.concatenate([x, [500, 560, 0]])
    y = np.concatenate([y, [0, 190, 380]])
    want = _pip_kernel(x, y, np.array(star, dtype=np.int64))
    assert (oracles.points_in_polygon(x, y, star) == want).all()


def test_knn_oracle_breaks_ties_by_pid():
    pid = np.array([5, 3, 9, 1])
    x = np.array([1, -1, 0, 10])
    y = np.array([0, 0, 1, 10])
    assert oracles.knn(pid, x, y, 0, 0, 2) == [(3, 1), (5, 1)]


def test_tail_needs_ten_samples_above():
    assert bench.tail(list(range(10))) is None
    value, pct, n = bench.tail(list(range(40)))
    assert (value, n) == (29, 40) and pct == pytest.approx(75.0)


def test_job_summary_and_plan_nodes_on_a_tiny_job(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    spark.range(0, 5000, 1, 4).withColumn("k", F.col("id") % 7).write.parquet(path)
    df = spark.read.parquet(path).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    tracer = Tracer()
    import time

    w0 = time.time() * 1000
    with tracer.op(spark, "tiny-job"):
        rows = df.collect()
    w1 = time.time() * 1000
    s = job_summary(spark, "tiny-job", w0, w1)
    assert sorted(r["n"] for r in rows) == sorted(np.bincount(np.arange(5000) % 7).tolist())
    assert s["jobs"] >= 1 and s["tasks"] >= 2
    assert s["shuffle_write_bytes"] > 0 and s["input_bytes"] > 0
    assert s["exec_cpu_s"] > 0 and 0 <= s["driver_s"] <= (w1 - w0) / 1000
    assert job_summary(spark, "no-such-group", w0, w1)["jobs"] == 0
    scans = [n for n in plan_nodes(df) if n["name"] == "FileSourceScanExec"]
    assert sum(n["rows"] for n in scans) == 5000


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_run_passes_every_oracle(spark, name):
    rep = bench.run(spark, name, seed=7, seconds=1, trace=False, scale=TINY)
    assert rep["warmup_failed"] == 0
    assert rep["ops"] and all(r["ok"] for r in rep["ops"])
    assert {r["op"] for r in rep["ops"]} == set(rep["period"])
    metrics = bench.end_to_end(rep)
    assert all(v > 0 for v in metrics.values())


def test_traced_run_reports_every_per_layer_metric(spark):
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["per_layer"]]
    rep = bench.run(spark, "tile_ingest", seed=3, seconds=4, trace=True, scale=TINY)
    values = bench.per_layer(rep, names)
    assert set(values) == set(names)
    for name in ("functions.s2.kernel_ns_per_span", "tile_batch.exec_cpu_s", "tile_batch.jobs", "trace.overhead_ratio"):
        assert values[name] > 0
    assert values["plans.decompose.s"] == 0  # idle on tile_ingest


def test_planted_wrong_result_and_exception_count_as_failures(spark, monkeypatch):
    real = BoxQuery.box_batch

    def off_by_one(self, b):
        counts, df = real(self, b)
        qid = min(counts)
        return {**counts, qid: counts[qid] + 1}, df

    def broken_commit(self, a):
        raise RuntimeError("planted")

    monkeypatch.setattr(BoxQuery, "box_batch", off_by_one)
    monkeypatch.setattr(BoxQuery, "commit", broken_commit)
    rep = bench.run(spark, "box_query", seed=5, seconds=1, trace=False, scale=TINY)
    failed = {r["op"] for r in rep["ops"] if not r["ok"]}
    assert failed == {"box_batch", "commit"}
    assert all(r["ok"] for r in rep["ops"] if r["op"] in ("knn_batch", "pip_join", "distance_join"))


def test_planted_wrong_tile_count_is_caught(spark, monkeypatch):
    real = TileIngest.check_tile_batch

    def check_with_shifted_output(self, b, out):
        import pyarrow.parquet as pq

        t = pq.read_table(out)
        t = t.set_column(t.column_names.index("n"), "n", [np.asarray(t["n"]) + (np.arange(t.num_rows) == 0)])
        bad = os.path.join(os.path.dirname(out), "tiles-planted")
        shutil.rmtree(bad, ignore_errors=True)
        os.makedirs(bad)
        pq.write_table(t, os.path.join(bad, "part-0.parquet"))
        return real(self, b, bad)

    monkeypatch.setattr(TileIngest, "check_tile_batch", check_with_shifted_output)
    rep = bench.run(spark, "tile_ingest", seed=5, seconds=1, trace=False, scale=TINY)
    assert rep["ops"] and not any(r["ok"] for r in rep["ops"])


def test_cli_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(bench.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(bench.ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "box_query", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
