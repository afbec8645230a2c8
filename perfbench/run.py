"""Repository benchmark: CDC replication (serial backfill, then live
streaming) and the headline query suite, each checked against an
independent DuckDB reference.

  python3 perfbench/run.py --workload cdc_replicate --seed 1 --seconds 16 --trace 0

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is a report with every layer metric of the workload, the
run's metadata and the oracle result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"cdc_replicate": "wl_cdc", "query_suite": "wl_suite"}
DRIVER_MEM = "3g"
# End-to-end metrics of the result line. Besides set-up time and memory they
# are CPU seconds, which leave out the time the shared host gives to other
# guests; the wall-clock figures (WALL_UNITS) move with that time, and are on
# the report line.
UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_cpu_s": "s", "bulk_cpu_s": "s"}
WALL_UNITS = {"lag_p50_s": "s", "lag_p90_s": "s", "mutations_per_s": "1/s", "suite_s": "s",
              "suite_geomean_s": "s"}
LAYER_UNITS = {"spark.jobs_per_unit": "count", "spark.stages_per_unit": "count",
               "spark.tasks_per_unit": "count", "spark.executor_run_s_per_unit": "s",
               "spark.executor_cpu_s_per_unit": "s", "spark.shuffle_write_mb_per_unit": "MB",
               "unit.self_s": "s", "trace.overhead_s": "s", "trace.jobs_ratio": "ratio"}


def _env(work: str) -> None:
    """Confine Spark, the JVM and Python temp files to the run directory
    and keep every job/stage in the status store for the whole run.

    The driver heap is fixed and pre-touched: DRIVER_MEM unless the caller
    sets SPARK_GRAFT_DRIVER_MEM (the session's default is 8g). Left to grow,
    the JVM's resident size varied between about 2.8 and 4.5 GB from run to
    run with the collector's heap sizing, so peak_rss_mb would measure that
    rather than the program's memory outside the heap."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    java = f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'{args} --driver-java-options "{java}" pyspark-shell'


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already closed
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def _cleanup_warehouse(work: str) -> None:
    """Drop the on-disk artifacts the program built for this run's inputs
    (they are keyed by the input directory, which is unique to the run)."""
    tag = "".join(c if c.isalnum() else "_" for c in work.strip("/"))
    wh = os.path.join(ROOT, "spark-warehouse")
    if os.path.isdir(wh):
        for name in os.listdir(wh):
            if tag in name:
                p = os.path.join(wh, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    import cdc_sink_spark  # noqa: F401 - fail fast when the program is absent
    import duckdb
    import pyspark

    import harness
    import oracle

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "run_id": run_id, "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": harness.loadavg(), "cpu_start": harness.cpu_jiffies(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__}
    spark = None
    phase = {"start": time.perf_counter()}
    try:
        _env(work)
        meta["spark_graft_cpus"] = os.environ["SPARK_GRAFT_CPUS"]
        meta["spark_graft_driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        oracle.self_check(os.path.join(work, "selfcheck"))
        phase["self_check"] = time.perf_counter()
        with harness.RssSampler() as rss:
            t = time.perf_counter()
            from cdc_sink_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            ctx = types.SimpleNamespace(
                spark=spark, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                work=work, root=ROOT, spark_start_s=time.perf_counter() - t,
                tracer=harness.Tracer(run_id), counters=harness.SparkCounters(spark))
            phase["spark_start"] = time.perf_counter()
            out = __import__(WORKLOADS[args.workload]).run(ctx)
            phase["workload"] = time.perf_counter()
        out["peak_rss_mb"] = rss.peak_mb
        meta["peak_rss_driver_mb"] = rss.peak_driver_mb
        _stop_spark(spark)
        spark = None
        phase["spark_stop"] = time.perf_counter()
        # The DuckDB references run after the program has stopped, so their
        # memory and CPU stay out of every metric.
        checked = out.pop("check")()
        out["info"]["check"] = checked
        phase["oracle"] = time.perf_counter()
        names = list(phase)
        meta["phase_s"] = {n: round(phase[n] - phase[p], 2) for p, n in zip(names, names[1:])}
        meta["loadavg_end"] = harness.loadavg()
        cpu = harness.cpu_jiffies()
        meta["cpu_busy_s"] = cpu["busy_s"] - meta["cpu_start"]["busy_s"]
        meta["cpu_steal_s"] = cpu["steal_s"] - meta.pop("cpu_start")["steal_s"]
        layers = out.pop("layers", {})
        if args.trace:
            spans_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(spans_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(spans_dir, f"{run_id}.spans.jsonl"))
            metrics = {k: {"value": float(layers[k][1]), "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
        else:
            metrics = {k: {"value": float(out[k]), "unit": u} for k, u in UNITS.items()}
        report = {"meta": meta, "info": out.get("info", {}),
                  "e2e": {k: out[k] for k in UNITS if k in out},
                  "e2e_wall": {k: {"value": out[k], "unit": u} for k, u in WALL_UNITS.items()},
                  "layers": {k: {"value": v, "unit": u} for k, (u, v) in sorted(layers.items())}}
        print(json.dumps({"report": report}, default=str))
        print(json.dumps({"correct": checked["failed"] == 0, "attempted": int(out["attempted"]),
                          "failed": int(checked["failed"]), "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        _cleanup_warehouse(work)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
