"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds its inputs from ``--seed``, drives
the engine through its public API on a ``local[4]`` Spark session,
checks every output, and prints one JSON object as the last line of
standard output::

    {"correct": true, "attempted": N, "failed": 0,
     "metrics": {"<name>": {"value": v, "unit": "u"}, ...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans around every layer call, writes them to
``.perfbench_out/spans-<workload>-<seed>.jsonl`` and reports the
per-layer metrics. Scratch data lives in ``.perfbench_work/`` and is
removed on exit; both directories are inside the repository.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4


def spark_session(work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[%d]" % CORES)
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status tracker keeps every job of a run for the counters
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "20000")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-wh"))
        # a pre-touched fixed-size heap keeps the JVM's share of
        # peak_rss_mb constant, so the metric moves with the engine's
        # Python-side and off-heap memory rather than with GC timing
        .config("spark.driver.extraJavaOptions",
                "-Xms2g -XX:+AlwaysPreTouch")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def analysis_pass(run, path: str) -> float:
    """``analyze_udf`` over the base corpus into a noop sink (turns/s)."""
    from pyspark.sql import functions as F

    from ex_elasticlunr_spark.functions.udfs import analyze_udf

    src = run.spark.read.parquet(path)
    n = src.count()
    udf = analyze_udf()
    with run.tracer.op("op.analysis"):
        t0 = time.perf_counter()
        (src.select(udf(F.col("text")).alias("t"),
                    udf(F.col("tool")).alias("u"))
         .write.format("noop").mode("overwrite").save())
        return n / (time.perf_counter() - t0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fail fast, before any work or output, when the engine or its
    # oracle is not beside the benchmark
    import ex_elasticlunr_spark  # noqa: F401
    import tests.oracle  # noqa: F401
    from perfbench import metrics, probes, referee, workloads
    from perfbench.trace import SparkCounter, Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error("unknown workload %r (have: %s)"
                 % (args.workload, ", ".join(workloads.WORKLOADS)))

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the spark-submit launcher too) keeps its temp files and
    # no perf-data file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.environ["TMPDIR"])

    probes.install_route_probe()
    t_start = time.perf_counter()
    rss_meter = probes.RssMeter(os.getpid())
    spark = spark_session(work)
    try:
        session_s = time.perf_counter() - t_start
        tracer = Tracer(bool(args.trace),
                        SparkCounter(spark.sparkContext) if args.trace
                        else None)
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        workloads.WORKLOADS[args.workload](run)
        oracle = None
        if args.trace:
            # the oracle costs ~0.5 s per query and mode; it runs in the
            # traced run, which already pays for layer coverage
            oracle = referee.oracle_rank_identity(
                spark, args.seed, run, workloads.ORACLE_SAMPLE)
            run.phase("oracle")
            run.m["analysis_turns_per_s"] = analysis_pass(
                run, os.path.join(work, "input", "base"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss = rss_meter.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = metrics.end_to_end(run, args.workload, rss)
    if args.trace:
        values = metrics.per_layer(run, args.workload, e2e, oracle)
        units = dict(metrics.PER_LAYER)
        tracer.dump(os.path.join(out_dir, "spans-%s-%d.jsonl"
                                 % (args.workload, args.seed)))
    else:
        values = e2e
        units = dict(metrics.END_TO_END)
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "session_start_s": session_s,
        "wall_s": time.perf_counter() - t_start,
        "read_samples": len([q for q in run.queries if q["phase"]
                             == metrics.READ_PHASE[args.workload]]),
        "commits": len(run.commits), "compactions": len(run.compactions),
        "phases": run.phases,
        "routed": {ph: metrics.routed_fracs(
            [q for q in run.queries if q["phase"] == ph])
            for ph in sorted({q["phase"] for q in run.queries})},
        "referee_routed": run.m.get("referee_routed"),
        "steal_frac": run.host.steal_s / run.host.total_s,
        "wall": metrics.wall(run, args.workload),
        "oracle": oracle, "failures": run.failures[:20],
    }
    for n in units:
        # a metric without samples is a failure of the run, not a NaN
        if not math.isfinite(values[n]):
            run.check(False, "metric %s has no samples" % n)
            values[n] = 0.0
    print("report " + json.dumps(report), file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]}
                    for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
