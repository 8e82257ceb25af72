"""Repository benchmark: engine API reads, engine API writes and batch
curation, timed end to end (``--trace 0``) or per layer (``--trace 1``).

    python3 perfbench/run.py --workload api --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it name every metric of the workload with its unit, the
environment, and (traced) the per-op-type layer self times. Exits 1
when any output check failed, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("api", "batch_curate")
E2E = {"setup_s": "s", "mix_ms": "ms", "ops_per_s": "ops/s", "peak_rss_mb": "MB"}


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def pin_environment(work: str) -> dict:
    """Spark settings that must be fixed before the JVM starts: cores
    from the CPU affinity mask (what ``nproc`` reports), driver heap
    sized to the box, the repo on the Python workers' path, and every
    scratch directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(4096, max(1024, _mem_total_mb() // 8))
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # keep every job, stage and SQL execution of a run for the traced report
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    return {"cpus": cpus, "driver_mem_mb": mem_mb}


def calibration_ms() -> float:
    """A fixed pure-Python loop, so a run records how fast the machine
    was at the time (it varies with the load of neighbouring tenants)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return (time.perf_counter() - t0) * 1000


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _pct(xs, q) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def mix_ms(measured, weights: dict) -> float:
    """Mean op latency at the nominal mix: per-op-type median latencies
    weighted by each type's share of the mix, so it does not move with
    the realized mix of a short window."""
    num = den = 0.0
    for key, w in weights.items():
        xs = [r.lat * 1000 for r in measured if (r.client, r.name) == key]
        if xs:
            num += w * statistics.median(xs)
            den += w
    return num / den


def tail_pct(n: int) -> int | None:
    """Highest of the usual percentiles with at least ten samples beyond it."""
    ok = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100 >= 10]
    return ok[-1] if ok else None


def summarize(name: str, res, peak_rss_mb: float, weights: dict) -> tuple[dict, dict]:
    """(end-to-end metrics for the JSON line, every named metric of this
    workload for the human-readable lines)."""
    measured = [r for r in res.records if r.measured]
    e2e = {
        "setup_s": statistics.median(res.setup_s),
        "mix_ms": mix_ms(measured, weights),
        "ops_per_s": len(measured) / res.window_s,
        "peak_rss_mb": peak_rss_mb,
    }
    named = {k: (v, E2E[k]) for k, v in e2e.items()}
    named["ops_measured"] = (len(measured), "count")
    lat = [r.lat * 1000 for r in measured]
    named["latency_p50_ms"] = (_pct(lat, 50), "ms")
    tail = tail_pct(len(lat))
    if tail:
        named[f"latency_p{tail}_ms"] = (_pct(lat, tail), "ms")
    if name == "api":
        reads = [r.lat * 1000 for r in measured if not r.write]
        writes = [r.lat * 1000 for r in measured if r.write]
        named["read_p50_ms"] = (_pct(reads, 50), "ms")
        named["read_p90_ms"] = (_pct(reads, 90), "ms")
        named["write_p50_ms"] = (_pct(writes, 50), "ms")
        named["write_p90_ms"] = (_pct(writes, 90), "ms")
        for op, key in (("search", "search_p50_ms"), ("hybrid_search", "hybrid_p50_ms"),
                        ("fulltext_search", "fulltext_p50_ms")):
            named[key] = (_pct([r.lat * 1000 for r in measured if r.name == op], 50), "ms")
    named.update(res.extra)
    failed = sum(r.error is not None for r in res.records)
    named["error_rate"] = (failed / len(res.records), "ratio")
    return e2e, named


def overhead_pct(records) -> float:
    """Tracing overhead: traced vs untraced ops of the same name in the
    traced run, weighted by traced op count (in a closed loop this is
    the relative ops_per_s drop)."""
    num = den = 0.0
    for name in {r.name for r in records}:
        t = [r.lat for r in records if r.measured and r.name == name and r.traced]
        u = [r.lat for r in records if r.measured and r.name == name and not r.traced]
        if t and u:
            num += len(t) * statistics.mean(t) / statistics.mean(u)
            den += len(t)
    return 100 * (num / den - 1) if den else 0.0


def stop_spark(spark) -> None:
    """Stop the session and its JVM and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="a few hundred docs (smoke test size)")
    args = ap.parse_args(argv)

    for need in ("aiotcvectordb_spark/__init__.py", "tools/parity_check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    calib_ms = calibration_ms()
    steal0 = cpu_steal_s()
    try:
        env = pin_environment(work)
        sys.path[:0] = [HERE, ROOT]
        t0 = time.perf_counter()
        import pyspark

        import tracing
        import workloads
        from aiotcvectordb_spark.session import get_spark

        spark = get_spark("perfbench")
        spark_start_s = time.perf_counter() - t0
        try:
            sizes = (workloads.TINY_SIZES if args.tiny else workloads.SIZES)[args.workload]
            tracer = None
            if args.trace:
                tracer = tracing.Tracer(spark, async_client=args.workload == "api")
                tracing.install(tracer)
            res = workloads.Result()
            workloads.WORKLOADS[args.workload](
                spark, args.seed, args.seconds, work, sizes, tracer, res)
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            peak = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
            e2e, named = summarize(args.workload, res, peak,
                                    workloads.nominal_weights(args.workload))
            if tracer is not None:
                layer, table = tracing.per_layer_metrics(
                    tracer, workloads.PIPELINES, overhead_pct(res.records))
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **env, "sizes": sizes, "pyspark": pyspark.__version__,
        "calibration_ms": round(calib_ms, 1), "spark_start_s": round(spark_start_s, 3),
        "warmup_s": round(res.warmup_s, 3), "window_s": round(res.window_s, 3),
        "cpu_steal_s": round(cpu_steal_s() - steal0, 2),
    }
    print("env " + json.dumps(record))
    for key, (value, unit) in named.items():
        print(f"metric {key} {value:.6g} {unit}")
    errors = [r for r in res.records if r.error]
    for r in errors[:20]:
        print(f"FAIL {r.name}: {r.error}")
    if args.trace:
        for op, row in sorted(table.items()):
            parts = " ".join(f"{k}={row[k]:.1f}" for k in tracing.LAYERS if row[k])
            print(f"self_ms {op} n={row['n']} latency={row['latency_ms']:.1f} {parts}")
        print(f"trace overhead {layer['trace.overhead_pct']:.2f}% of op latency")
        metrics = {k: {"value": v, "unit": tracing.unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": not errors,
        "attempted": len(res.records),
        "failed": len(errors),
        "metrics": metrics,
    }))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
