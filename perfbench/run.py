"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dev_loop --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` runs the first half of the cycles
untraced and the rest traced, and prints the per-layer metrics. The last stdout line is the
result object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is a full report (every named metric with its unit, per-type
timings, checks and run context). All working files live under
``perfbench/.work`` and are removed when the run ends, except the span dump
of a traced run (``perfbench/.work/traces``).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

END_TO_END = {  # name -> unit; definitions in README.md
    "setup_s": "s",
    "mem_retained_mb": "MB",
    "ops_per_s": "1/s",
    "latency_geomean_s": "s",
}


def host_probe(spin_s: float = 0.25) -> dict:
    """/proc/loadavg plus a pure-Python spin calibration (iterations/ms)."""
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    t0, n = time.perf_counter(), 0
    while time.perf_counter() - t0 < spin_s:
        n += 1
    return {"loadavg": load, "spin_iters_per_ms": n / ((time.perf_counter() - t0) * 1000)}


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    if not (ROOT / "dbt_osmosis_spark" / "session.py").is_file():
        print(f"no dbt_osmosis_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    # Python workers forked by the JVM import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    n_cycles = max(1, round(args.seconds / wl_cls.cycle_s))
    if args.trace:
        n_cycles = max(2, n_cycles)  # at least one untraced and one traced

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.chdir(run_dir)
    try:
        return _run(args, wl_cls, n_cycles, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl_cls, n_cycles: int, run_dir: Path) -> int:
    from workloads import Ops, geomean, median

    host_before = host_probe()
    t_gen = time.perf_counter()
    wl = wl_cls(None, args.seed, run_dir, WORK / "inputs")
    wl.generate(n_cycles)
    gen_s = time.perf_counter() - t_gen

    import pyspark

    from dbt_osmosis_spark.session import get_spark

    t = time.perf_counter()
    nproc = os.cpu_count() or 1
    spark = get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'} "
            f"-Dderby.system.home={run_dir}",
        },
    )
    wl.spark = spark
    session_s = time.perf_counter() - t
    try:
        wl.setup(n_cycles)
        setup_s = time.perf_counter() - T_PROCESS - gen_s

        # a traced run splits the cycles: the first part untraced (the
        # base of trace.overhead_frac), the rest traced
        untraced_cycles = max(1, n_cycles // 2) if args.trace else n_cycles
        ops = Ops()
        wl.stream(ops, untraced_cycles)
        traced = None
        if args.trace:
            traced = _traced_pass(spark, wl, max(1, n_cycles - untraced_cycles))
        checks = wl.check(traced or ops)
        if traced is not None:
            # a check failure on the traced pass also holds for the
            # untraced one: both ran the same operations on the same code
            for r in ops.records:
                r["ok"] = r["ok"] and all(t["ok"] for t in traced.records if t["type"] == r["type"])
        headline = wl.headline(ops)
        layer = wl.layer_metrics(traced.tracer, traced) if traced else {}
        if traced:
            layer["jvm.heap_peak_mb"] = _heap_peak_mb(spark)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        py_peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        peak_kb = _rss_kb(jvm_pid) + py_peak_kb
        retained_mb = _jvm_retained_mb(spark) + py_peak_kb / 1024.0
        default_par = spark.sparkContext.defaultParallelism
    finally:
        _stop(spark)

    host_after = host_probe()
    kinds = ops.kinds()
    wall = sum(r["wall"] for r in ops.records)
    attempted = len(ops.records)
    failed = sum(1 for r in ops.records if not r["ok"])
    e2e = {
        "setup_s": setup_s,
        "mem_retained_mb": retained_mb,
        "ops_per_s": attempted / wall,
        "latency_geomean_s": geomean([median(ops.walls(k)) for k in kinds]),
    }
    named = {name: (v, END_TO_END[name]) for name, v in e2e.items()}
    named["failed_frac"] = (failed / attempted, "ratio")
    named["peak_rss_mb"] = (peak_kb / 1024.0, "MB")
    named.update(headline)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cycles": n_cycles,
        "nproc": nproc,
        "defaultParallelism": default_par,
        "pyspark": pyspark.__version__,
        "host_before": host_before,
        "host_after": host_after,
        "input_gen_s": gen_s,
        "session_start_s": session_s,
        "metrics": {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
                    for k, v in named.items()},
        "per_type": {k: {"n": len(ops.walls(k)), "p50_s": median(ops.walls(k))} for k in kinds},
        "checks": checks,
    }
    if traced is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        traced_ops_per_s = len(traced.records) / sum(r["wall"] for r in traced.records)
        layer.update(wl.layer)
        layer.update(_common_layers(traced, session_s, host_before, host_after))
        layer["trace.overhead_frac"] = 1.0 - traced_ops_per_s / e2e["ops_per_s"]
        report["layers"] = traced.tracer.layer_report(traced.sampler.job_intervals)
        report["per_type_traced"] = _per_type_traced(traced)
        _dump_spans(args, traced.tracer)
        metrics = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in _per_layer_units().items()}
        for k in (set(layer) - set(metrics)):
            report.setdefault("extra_layer_metrics", {})[k] = layer[k]
        report["layer_metrics"] = metrics
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _traced_pass(spark, wl, n_cycles: int):
    """The rest of the stream with span wrappers, the status-store sampler
    and DataFrame capture for Catalyst phase times."""
    from tracing import StatusSampler, Tracer
    from workloads import Ops

    tracer = Tracer()
    captured: list = []
    ops = Ops(sampler=StatusSampler(spark), captured=captured)
    ops.tracer = tracer
    wl.patch(tracer)
    # the concrete (classic) classes: their methods shadow the base ones
    SparkSession, DataFrame = type(spark), type(spark.range(1))
    orig_sql, orig_collect = SparkSession.sql, DataFrame.collect

    def sql(self, *a, **k):
        df = orig_sql(self, *a, **k)
        captured.append(df)
        return df

    def collect(self):
        captured.append(self)
        return orig_collect(self)

    SparkSession.sql, DataFrame.collect = sql, collect
    try:
        wl.stream(ops, n_cycles)
    finally:
        SparkSession.sql, DataFrame.collect = orig_sql, orig_collect
        tracer.unpatch()
    return ops


def _heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak occupancy since start."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(p.getPeakUsage().getUsed() for p in pools
               if str(p.getType()) == "Heap memory") / (1024 * 1024)


def _jvm_retained_mb(spark) -> float:
    """JVM heap still live after full collections, plus non-heap memory in
    use (metaspace, code cache): what the run holds on to, independent of
    when the collector last ran or grew the heap. Spark's ContextCleaner
    frees broadcast and shuffle blocks only after a collection finds their
    owners unreachable, and Python's handles keep JVM objects alive until
    Python collects them, so collect until the live heap stops shrinking."""
    import gc

    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = float("inf")
    for _ in range(8):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(0.3)  # the cleaner thread drains its reference queue
        jvm.java.lang.System.gc()
        now = mem.getHeapMemoryUsage().getUsed()
        if live - now < 1024 * 1024:
            live = min(live, now)
            break
        live = now
    return (live + mem.getNonHeapMemoryUsage().getUsed()) / (1024 * 1024)


def _per_type_traced(ops) -> dict:
    out: dict = {}
    for r in ops.records:
        d = out.setdefault(r["type"], {"n": 0, "wall_s": 0.0})
        d["n"] += 1
        d["wall_s"] += r["wall"]
        for k, v in r.get("spark", {}).items():
            d[f"spark.{k}"] = d.get(f"spark.{k}", 0.0) + v
        for k, v in r.get("catalyst", {}).items():
            d[f"catalyst.{k}_ms"] = d.get(f"catalyst.{k}_ms", 0.0) + v
    return out


def _common_layers(ops, session_s, host_before, host_after) -> dict:
    out = {"session.start_s": session_s}
    for f in ("jobs", "stages", "tasks", "failed_tasks", "input_mb", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "gc_ms"):
        out[f"spark.{f}"] = sum(r["spark"][f] for r in ops.records)
    for f in ("analysis", "optimization", "planning"):
        out[f"catalyst.{f}_ms"] = sum(r["catalyst"][f] for r in ops.records)
    for layer, rec in ops.tracer.layer_report(ops.sampler.job_intervals).items():
        out[f"{layer}.self_s"] = rec["self_s"]
        out[f"{layer}.spark_wait_s"] = rec["spark_wait_s"]
    out["host.loadavg_before"] = host_before["loadavg"]
    out["host.loadavg_after"] = host_after["loadavg"]
    out["host.spin_iters_per_ms_before"] = host_before["spin_iters_per_ms"]
    out["host.spin_iters_per_ms_after"] = host_after["spin_iters_per_ms"]
    return out


def _per_layer_units() -> dict[str, str]:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer"]}


def _dump_spans(args, tracer) -> None:
    out = WORK / "traces" / f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"fields": ["name", "start", "end", "parent", "op_id"],
                               "spans": tracer.spans}))


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
