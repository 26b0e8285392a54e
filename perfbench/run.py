"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics_reads --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

One workload per process: a fresh Spark session on local[2], set-up, a
check of every distinct output the run will time, then whole seeded rounds
until --seconds of timed work have passed (at least three). Throughput and
latency are those of the median round (see workloads.Run.median_round).
The last stdout line is one JSON object: the end-to-end metrics (--trace 0)
or the per-layer metrics of a traced run (--trace 1). The line before it
(``report {...}``) carries the workload's own metrics (queries, commits,
snapshot reads, p90, peak RSS) with their sample counts. ``--workload all``
runs every workload untraced and traced in child processes and prints a
table, with the tracing overhead.

Everything the run writes goes under .perfbench_run/ in the checkout and
is removed at the end; DuckDB oracle answers are kept in .perfbench_cache/
and traced runs leave their spans in .perfbench_out/.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
ORACLE_CACHE = os.path.join(ROOT, ".perfbench_cache", "oracle")
WORKLOAD_NAMES = ("analytics_reads", "lakehouse_writes")

# Spark task slots. The driver thread, the JIT compiler threads (busy for
# most of a run) and the Python client need cores too; on a shared 4-core
# host local[2] ran the SQL ops faster than local[4], and with less spread
# under background load.
SPARK_CORES = 2

# The driver JVM's heap, committed and touched in full at start. The host
# takes back the pages a guest frees, so a heap that grows while the run is
# timed pays first-touch faults whose cost depends on what ran before.
HEAP = "3g"

# (name, unit) of the end-to-end metrics, in BENCHMARK.json order. The
# latency summary is the geometric mean (TPC-H's power metric): a round
# mixes operation kinds whose latencies differ tenfold, and the median of
# that mixture jumps between kinds from run to run. Medians, p90s and the
# JVM's peak RSS of all timed operations go on the report line.
END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_geomean_s", "s"),
)


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else _p50(xs)


def _session(run_dir: str):
    """The package's session, its warehouse inside the run dir."""
    from f1_lakehouse_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        },
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def _warm(spark) -> None:
    """A first job, shuffle and noop write; the check pass that follows
    warms every plan the workload times."""
    df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    df.write.format("noop").mode("overwrite").save()
    spark.range(1000).selectExpr("sum(id)").collect()


def _calibrate(spark, tracer, when: str) -> None:
    """bench.py's two machine-speed reference ops (traced runs only)."""
    from f1_lakehouse_spark.tables import load_table

    with tracer.span(f"env.{when}") as s:
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        s.counts[f"env.jvm_sum_{when}_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        load_table(spark, os.path.join(DATA_DIR, "sf0.1"), "lineitem").count()
        s.counts[f"env.scan_{when}_s"] = time.perf_counter() - t0


def _report(run, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    """The workload's own metrics, named as in the README."""
    by_kind: dict[str, list[float]] = {}
    for op in run.ops:
        by_kind.setdefault(op.kind, []).append(op.seconds)
    out: dict[str, tuple[float, str]] = {}
    for kind, rate, p50, p90 in (
        ("query", "queries_per_s", "query_p50_s", "query_p90_s"),
        ("commit", "commits_per_s", "commit_p50_s", "commit_p90_s"),
        ("read", None, "snapshot_read_p50_s", "snapshot_read_p90_s"),
    ):
        xs = by_kind.get(kind)
        if not xs:
            continue
        if rate:
            out[rate] = (len(xs) / run.timed_s, "1/s")
        out[p50] = (_p50(xs), "s")
        out[p90] = (_p90(xs), "s")
        out[f"{kind}_samples"] = (len(xs), "count")
    lat = [op.seconds for op in run.ops]
    out["op_p50_s"] = (_p50(lat), "s")
    out["op_p90_s"] = (_p90(lat), "s")
    out["op_samples"] = (len(lat), "count")
    if run.space_amp is not None:
        out["space_amp"] = (run.space_amp, "ratio")
    out["peak_rss_mb"] = (peak_rss_mb, "MB")
    out["failed_ops"] = (run.failed / max(1, run.attempted), "ratio")
    return out


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> None:
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(run_dir)
    cores = str(min(SPARK_CORES, len(os.sched_getaffinity(0))))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=cores,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # every JVM the run starts (the launcher too) keeps its temp files
        # in the run dir and writes no hsperfdata file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    sys.path.insert(0, ROOT)
    spark = None
    try:
        import tracing
        import workloads
        from f1_lakehouse_spark.registry import _ensure_loaded

        _ensure_loaded()
        t_start = time.perf_counter()
        spark = _session(run_dir)
        t_warm = time.perf_counter()
        _warm(spark)
        t_ready = time.perf_counter()
        tracer = tracing.Tracer(spark) if trace else tracing.NO_TRACE
        if trace:
            tracer.spans += [
                tracing.Span("session.start", t_start, t_warm),
                tracing.Span("session.warm", t_warm, t_ready),
            ]
            _calibrate(spark, tracer, "start")
        run = workloads.Run(spark, workload, DATA_DIR, run_dir, ORACLE_CACHE, tracer)
        workloads.WORKLOADS[workload](run, seed, seconds)
        if trace:
            _calibrate(spark, tracer, "end")
        peak_rss_mb = _peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once no run uses it
            os.rmdir(os.path.dirname(run_dir))

    latencies = [op.seconds for op in run.ops]
    report = _report(run, peak_rss_mb)
    print(
        "report " + json.dumps(
            {"workload": workload, "seed": seed, "rounds": run.rounds,
             "timed_s": round(run.timed_s, 3), "ops": len(latencies),
             "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}
        ),
        flush=True,
    )
    if trace:
        metrics = tracer.layer_metrics(run.op_spans, run.clock_start)
        metrics["trace.op_geomean_s"] = run.median_round()[1]
        metrics["sources.space_amp"] = run.space_amp or 0.0
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{workload}-seed{seed}.json"))
        units = dict(tracing.LAYER_METRICS)
    else:
        ops_per_s, op_geomean_s = run.median_round()
        metrics = {
            "setup_s": run.clock_start - T0 - run.check_s,
            "ops_per_s": ops_per_s,
            "op_geomean_s": op_geomean_s,
        }
        units = dict(END_TO_END)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced, each in its own process."""
    status = 0
    for workload in WORKLOAD_NAMES:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", workload, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(f"{workload} trace={trace}: failed (exit {proc.returncode})")
                status = 1
                break
            results[trace] = (json.loads(lines[-2].removeprefix("report ")), json.loads(lines[-1]))
        if len(results) < 2:
            continue
        (report, e2e), (_, layers) = results[0], results[1]
        print(f"== {workload}  rounds={report['rounds']} ops={report['ops']} "
              f"attempted={e2e['attempted']} failed={e2e['failed']}")
        for name, m in {**e2e["metrics"], **report["metrics"]}.items():
            print(f"  {name:24s} {m['value']:14.4f} {m['unit']}")
        traced = layers["metrics"]["trace.op_geomean_s"]["value"]
        overhead = traced - e2e["metrics"]["op_geomean_s"]["value"]
        print(f"  {'trace_overhead_s':24s} {overhead:14.4f} s  (traced - untraced op_geomean_s)")
        for name, m in layers["metrics"].items():
            if m["value"]:
                print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
