"""Seeded closed-loop benchmark of the zcurve_spark engine.

Usage, from the repository root::

    python3 perfbench/run.py --workload box_query --seed 1 --seconds 20 --trace 0

One process, one client: the driver thread issues the next op only
after the previous one returned and its output was checked.  The last
line of stdout is one JSON object: ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics of BENCHMARK.json (and
writes spans, per-op job summaries and plan ratios to a side file under
``.perfbench_work/trace/``).  All scratch files stay under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Fails with ImportError, before any result is printed, outside a full
# checkout of the repository.
from perfbench.tracing import NullTracer, Tracer, job_summary  # noqa: E402
from perfbench.workloads import FULL, WORKLOADS  # noqa: E402
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"  # 4-core / 15 GB host; peak JVM RSS stays well under this heap
GENERATE_REPEATS = 3  # setup_s counts the median of this many input generations
OP_METRICS = ("exec_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "input_bytes", "jobs", "driver_s")


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`,
    and size the driver heap to the host.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_EVENTLOG"] = "false"
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(samples: list[float]):
    """(value, percentile, n) at the highest percentile with at least ten
    samples above it, or None when there are fewer than eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    i = n - 11
    return sorted(samples)[i], 100.0 * (i + 1) / n, n


def execute(wl, spark, tracer, op, call, check, op_id: str, traced: bool) -> dict:
    """Run one op under its timer, then check it; never raises."""
    wl.tracer = tracer if traced else NullTracer()
    written0 = wl.rows_written
    rec = {"op": op, "op_id": op_id, "traced": traced, "ok": False}
    result = df = None
    w0 = time.time() * 1000
    t0 = time.perf_counter()
    try:
        with wl.tracer.op(spark, op_id):
            result, df = call()
        err = None
    except Exception:
        err = traceback.format_exc()
    rec["latency_s"] = time.perf_counter() - t0
    w1 = time.time() * 1000
    rec["rows_written"] = wl.rows_written - written0
    if err is None:
        try:
            rec["ok"] = bool(check(result))
        except Exception:
            err = traceback.format_exc()
    if err is not None:
        print(f"[perfbench] {op_id} raised:\n{err}", file=sys.stderr)
    elif not rec["ok"]:
        print(f"[perfbench] {op_id} returned a wrong result", file=sys.stderr)
    if traced and err is None:
        rec["summary"] = job_summary(spark, op_id, w0, w1)
        wl.layer_stats(op, op_id, result, df, rec["latency_s"])
    return rec


def warmup_ops(wl):
    """Untimed ops run before measuring: the first op of each type, then
    more batch ops until ``wl.warmup_batches`` have run, so that JIT
    compilation of the batch path has mostly settled.  Yields
    (period, index in period, op, call, check)."""
    kinds = {op for op, *_ in wl.period(0)}
    seen, batches, i = set(), 0, 0
    while seen != kinds or batches < wl.warmup_batches:
        for k, (op, call, check, _items) in enumerate(wl.period(i)):
            if op not in seen or (op == wl.batch_op and batches < wl.warmup_batches):
                seen.add(op)
                batches += op == wl.batch_op
                yield i, k, op, call, check
        i += 1


def run(spark, name: str, seed: int, seconds: float, trace: bool, *, scale=None, session_s: float = 0.0, t_start=None) -> dict:
    """Set up workload `name`, warm it up, then run it for `seconds`."""
    t_start = time.perf_counter() if t_start is None else t_start
    tracer = Tracer() if trace else NullTracer()
    work = os.path.join(WORK, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    wl = WORKLOADS[name](spark, work, seed, scale or FULL)
    try:
        generate = []
        for _ in range(GENERATE_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            generate.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t0
        oracle0 = wl.oracle_s
        t0 = time.perf_counter()
        plan = list(warmup_ops(wl))
        warm = [execute(wl, spark, tracer, op, call, check, f"warm-{op}-{i}-{k}", False) for i, k, op, call, check in plan]
        warm_s = time.perf_counter() - t0 - (wl.oracle_s - oracle0)
        setup_oracle_s = wl.oracle_s
        t_first = time.perf_counter()
        # input generation counts by its median, everything else once
        setup_s = (t_first - t_start) - sum(generate) + statistics.median(generate) - setup_oracle_s
        ops = []
        i0 = i = plan[-1][0] + 1
        while time.perf_counter() - t_first < seconds:
            for k, (op, call, check, items) in enumerate(wl.period(i)):
                # closed loop: the deadline is checked before every op, but
                # the first period always completes so every op type has a sample
                if i > i0 and time.perf_counter() - t_first >= seconds:
                    break
                # every other batch op runs untraced, for trace.overhead_ratio
                traced = trace and not (op == wl.batch_op and (i + k) % 2)
                rec = execute(wl, spark, tracer, op, call, check, f"{op}-{i}-{k}", traced)
                rec["items"] = items
                ops.append(rec)
            i += 1
        measured_s = time.perf_counter() - t_first
        if trace:
            wl.note("session.start_s", session_s)
            wl.layer_stats_once()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": vm_hwm_mb(jvm_pid), "benchmark": vm_hwm_mb("self")}
        return {
            "workload": name,
            "seed": seed,
            "batch_op": wl.batch_op,
            "period": [op for op, *_ in wl.period(0)],
            "item": wl.item,
            "setup_s": setup_s,
            "session_s": session_s,
            "generate_s": generate,
            "build_s": build_s,
            "warmup_s": warm_s,
            "setup_oracle_s": setup_oracle_s,
            "oracle_s": wl.oracle_s - setup_oracle_s,
            "measured_s": measured_s,
            "warmup_failed": sum(not r["ok"] for r in warm),
            "ops": ops,
            "peak_rss_mb": sum(rss.values()),
            "peak_rss_split_mb": rss,
            "layer": wl.layer,
            "unavailable": wl.unavailable,
            "spans": getattr(tracer, "spans", []),
        }
    finally:
        wl.close()
        shutil.rmtree(work, ignore_errors=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def batch_p50(rep: dict, traced=None) -> float:
    return _median([
        r["latency_s"] for r in rep["ops"]
        if r["op"] == rep["batch_op"] and (traced is None or r["traced"] == traced)
    ])


def items_per_s(rep: dict) -> float:
    """Items per second of op time at the workload's fixed mix: items in
    one period over the period's time at each op type's median latency.
    Unlike a plain total, this does not depend on where the deadline cut
    the last period."""
    items = time_s = 0.0
    for op in set(rep["period"]):
        n = rep["period"].count(op)
        recs = [r for r in rep["ops"] if r["op"] == op]
        items += n * statistics.mean(r["items"] for r in recs)
        time_s += n * _median([r["latency_s"] for r in recs])
    return items / time_s if time_s else 0.0


def end_to_end(rep: dict) -> dict[str, float]:
    return {
        "setup_s": rep["setup_s"],
        "batch_p50_s": batch_p50(rep),
        "items_per_s": items_per_s(rep),
        "peak_rss_mb": rep["peak_rss_mb"],
    }


def per_layer(rep: dict, names: list[str]) -> dict[str, float]:
    """Median of every recorded sample per metric; 0 where the workload
    never exercises the layer."""
    vals = {k: _median(v) for k, v in rep["layer"].items()}
    traced = [r for r in rep["ops"] if r["traced"] and "summary" in r]
    for op in {r["op"] for r in traced}:
        mine = [r["summary"] for r in traced if r["op"] == op]
        for m in OP_METRICS:
            vals[f"{op}.{m}"] = _median([s[m] for s in mine])
        if op == "distance_join":
            vals["distance_join.task_skew"] = _median([s["task_skew"] for s in mine])
    untraced = batch_p50(rep, traced=False)
    vals["trace.overhead_ratio"] = batch_p50(rep, traced=True) / untraced if untraced else 0.0
    return {n: float(vals.get(n, 0.0)) for n in names}


def describe(rep: dict) -> list[str]:
    """Human-readable lines: every end-to-end metric of the workload with
    its unit and sample count."""
    lines = [f"perfbench workload={rep['workload']} seed={rep['seed']}"]

    def line(name, value, unit, note=""):
        lines.append(f"  {name:<24} {value:>14.4f} {unit:<8} {note}")

    line("setup_s", rep["setup_s"], "s",
         f"(n=1; session {rep['session_s']:.2f} s, input generation median of {len(rep['generate_s'])} "
         f"{statistics.median(rep['generate_s']):.2f} s, store build {rep['build_s']:.2f} s, "
         f"warm-up {rep['warmup_s']:.2f} s; oracle time {rep['setup_oracle_s']:.2f} s excluded)")
    by_op: dict[str, list[dict]] = {}
    for r in rep["ops"]:
        by_op.setdefault(r["op"], []).append(r)
    for op, recs in by_op.items():
        lat = [r["latency_s"] for r in recs]
        line(f"{op}_p50_s", _median(lat), "s", f"(n={len(lat)})")
        if op != rep["batch_op"]:
            continue
        t = tail(lat)
        if t and t[1] >= 50:
            line(f"{op}_tail_s", t[0], "s", f"(p{t[1]:.0f}, n={t[2]})")
        else:
            lines.append(f"  {op + '_tail_s':<24} {'n/a':>14} {'s':<8} (n={len(lat)}: needs 21 samples to sit above the median)")
    line(f"{rep['item']}_per_s", items_per_s(rep), f"{rep['item']}/s",
         f"(at the fixed mix of {len(rep['period'])} ops per period, from each op type's median)")
    written = [r for r in rep["ops"] if r["rows_written"]]
    if written:
        w_s = sum(r["latency_s"] for r in written)
        line("rows_written_per_s", sum(r["rows_written"] for r in written) / w_s, "rows/s", f"(n={len(written)} writes)")
    failed = sum(not r["ok"] for r in rep["ops"])
    line("op_fail_ratio", failed / max(1, len(rep["ops"])), "ratio", f"({failed} of {len(rep['ops'])} ops)")
    split = rep["peak_rss_split_mb"]
    line("peak_rss_mb", rep["peak_rss_mb"], "MB",
         f"(VmHWM of the JVM {split['jvm']:.0f} MB plus this process {split['benchmark']:.0f} MB)")
    line("oracle_s", rep["oracle_s"], "s", "(excluded from every op timer)")
    return lines


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    configure_env(WORK)
    from zcurve_spark.session import get_spark

    t0 = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        rep = run(spark, args.workload, args.seed, args.seconds, bool(args.trace), session_s=session_s, t_start=T_START)
    finally:
        stop_spark(spark)
    rep["cores"] = cores
    rep["driver_mem"] = DRIVER_MEM
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = per_layer(rep, names)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        side = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        with open(side, "w") as fh:
            json.dump({**rep, "per_layer": values}, fh, indent=1, default=str)
        print(f"trace written to {side}")
    else:
        values = end_to_end(rep)
        print("\n".join(describe(rep)))
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    failed = sum(not r["ok"] for r in rep["ops"])  # the first period always runs, so ops is never empty
    print(
        json.dumps(
            {
                "correct": failed == 0 and rep["warmup_failed"] == 0,
                "attempted": len(rep["ops"]),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
