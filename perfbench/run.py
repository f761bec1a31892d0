"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 10 --trace 0

Works from any working directory: the repository is the parent of this
file's directory, and everything a run writes goes under ``.perfbench/`` in
it. The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer ones, both named in the
repository's ``BENCHMARK.json``. The line before it carries the details
(session size, per-round samples, error rate).

``--trace 1`` runs ``--seconds`` untraced, attaches Spark's uncompressed,
non-rolling event log, runs ``--seconds`` traced, detaches it and runs
another ``--seconds`` untraced. It attributes jobs, stages and tasks to spans
through their job groups, writes the spans to ``.perfbench/traces/`` and
reports the tracing overhead: the traced median round time over that of the
untraced parts, minus 1.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3  # the first set-up of a run is cold; the median is a warm one


def size_session() -> tuple[int, int]:
    """Cores from the CPUs this process may run on (what ``nproc`` counts),
    driver heap a quarter of MemTotal; exported through the variables
    ``session.get_spark`` reads, in place of its 32-core / 48 GB defaults."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_mb = max(1024, mem_kb // 1024 // 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mb}m"
    return cores, driver_mb


def start_session(work: Path, cores: int):
    from warcbase_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def stop_jvm(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def end_to_end(rounds, setups: list[float]) -> dict[str, float]:
    """Median set-up and operation times, and rows per second over all the
    timed operations together (a crawl's rounds differ in size, so a median
    of per-round rates would depend on which round is the middle one); 0
    where nothing completed."""
    from workloads import _median

    busy = sum(r.span.dur for r in rounds)
    return {
        "setup_s": _median(setups),
        "op_s.p50": _median(r.span.dur for r in rounds),
        "rows_in_per_s": sum(r.rows_in for r in rounds) / busy if busy else 0.0,
        "rows_out_per_s": sum(r.rows_out for r in rounds) / busy if busy else 0.0,
    }


def event_log_on(spark, event_dir: Path):
    """Attach Spark's event-log writer to the running context, uncompressed
    and non-rolling, so that one process can run untraced and then traced."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    conf = (
        sc.conf().clone()
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    event_dir.mkdir(parents=True)
    listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
        sc.applicationId(), jvm.scala.Option.empty(), jvm.java.net.URI(event_dir.as_uri()),
        conf, sc.hadoopConfiguration(),
    )
    listener.start()
    sc.addSparkListener(listener)
    return listener


def event_log_off(spark, listener) -> None:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    sc.removeSparkListener(listener)
    listener.stop()


def run(args, work: Path, cores: int, driver_mb: int) -> tuple[dict, dict, object]:
    """Returns (metrics, details, tally)."""
    from spans import Tracer, attribute
    from workloads import WORKLOADS, Tally

    t0 = time.perf_counter()
    spark = start_session(work, cores)
    session_start_s = time.perf_counter() - t0
    tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
    tally = Tally()
    details: dict = {"session_start_s": session_start_s}
    try:
        # the workload generates its inputs and expected outputs here,
        # before and outside every timed span
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, tracer, str(work), args.seed)
        phases = details["phases_s"] = {"inputs": time.perf_counter() - t}
        setups = []
        for _ in range(SETUP_REPEATS):
            try:
                with tracer.span("setup") as s:
                    wl.setup()
                setups.append(s.dur)
            except Exception:
                traceback.print_exc()
                tally.record(False, "setup raised")
        details["setup_s"] = setups
        t = time.perf_counter()
        wl.warmup(tally)
        phases["warmup"] = time.perf_counter() - t
        if args.trace:
            # untraced parts before and after the traced run, so that warm-up
            # still under way cancels out of the overhead
            before = wl.measure(args.seconds, tally)
            event_dir = work / "eventlog"
            listener = event_log_on(spark, event_dir)
            first = len(tracer.spans)
        t = time.perf_counter()
        rounds = wl.measure(args.seconds, tally)
        phases["measure"] = time.perf_counter() - t
        rss = jvm_peak_rss_mb(spark)
        details["round_s"] = [r.span.dur for r in rounds]
        details["round_rows"] = [(r.rows_in, r.rows_out) for r in rounds]
        if not args.trace:
            details["jvm_peak_rss_mb"] = rss
            return end_to_end(rounds, setups), details, tally
        event_log_off(spark, listener)
        traced_spans = tracer.spans[first:]
        after = wl.measure(args.seconds, tally)
        details["untraced_round_s"] = [r.span.dur for r in before + after]
        (log,) = glob.glob(str(event_dir / "*"))
        stats = attribute(traced_spans, log)
        details["round_jobs"] = [stats[r.span.id].counters["jobs"] for r in rounds]
        trace_dir = REPO / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        spans_file = trace_dir / f"{args.workload}-seed{args.seed}.spans.jsonl"
        tracer.write(str(spans_file), stats)
        details["spans_file"] = str(spans_file)
        # like for like: the first k rounds of each part
        k = min(len(before), len(rounds), len(after))
        overhead = (
            statistics.median(r.span.dur for r in rounds[:k])
            / statistics.median(r.span.dur for r in before[:k] + after[:k])
            - 1
        ) if k else 0.0
        metrics = {
            **wl.layer_metrics(stats, rounds),
            "session.cores": cores,
            "session.driver_mem_mb": driver_mb,
            "session.start_s": session_start_s,
            "session.jvm_peak_rss_mb": rss,
            "trace.overhead": overhead,
            "trace.spans": len(traced_spans),
        }
        return metrics, details, tally
    finally:
        stop_jvm(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "warcbase_spark").is_dir():
        print(f"perfbench: no warcbase_spark package in {REPO}", file=sys.stderr)
        return 2
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    # the Python workers import warcbase_spark too, whatever the cwd
    sys.path.insert(0, str(REPO))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    cores, driver_mb = size_session()
    work = REPO / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit's launcher JVM, too, keeps its temp and perf files here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    try:
        metrics, details, tally = run(args, work, cores, driver_mb)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(metrics) - set(declared)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    # a per-layer metric of a layer this workload does not run reads 0
    missing = set(declared) - set(metrics)
    if missing and not args.trace:
        raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    details.update({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "driver_mem_mb": driver_mb,
        "error_rate": tally.failed / tally.attempted if tally.attempted else 1.0,
    })
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {
            name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
