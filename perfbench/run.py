"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds one Spark session on
``local[nproc]`` in this process, runs the workload (see
perfbench/workloads.py and perfbench/README.md), checks every op's
output and prints, as its last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run is traced and the metrics are the per-layer ones named in
BENCHMARK.json. The line before it records the host and settings.
Scratch data (corpora, sinks, checkpoints, Spark's local dirs) lives
under ``.perfbench_work/`` and is removed when the run ends; a traced
run writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.trace import PKG, StageLog, Tracer, instrument  # noqa: E402

# the program is imported from the checkout; without it the run fails
# here, before anything is printed
import cosmoz_data_pipeline_spark.cli  # noqa: E402,F401

from perfbench import workloads as wl  # noqa: E402

# status-store retention, raised only in a traced run so that every
# stage of the run can be attributed to its span
TRACE_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.sql.ui.retainedExecutions": "10000",
}


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = _spec()

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    host.configure_env()

    from cosmoz_data_pipeline_spark import session

    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(TRACE_CONF)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(run_id, StageLog(spark)) if args.trace else None
        ctx = wl.Ctx(spark, args.seed, args.seconds, work, tracer)
        if tracer:
            with instrument(tracer, wl.TRACE_TARGETS, wl.TRACE_ATTRS):
                res = wl.WORKLOADS[args.workload](ctx)
        else:
            res = wl.WORKLOADS[args.workload](ctx)
        rss = host.peak_rss_mb()
        log = tracer.log if tracer else StageLog(spark)
        heap_peak = (log.executors()[0].get("peakMemoryMetrics") or {}).get("JVMHeapMemory", 0)
        # memory the program holds between ops (caches, memos); unlike
        # the peaks above it does not depend on when the collector ran
        retained = host.retained_heap_mb(spark)
        info = host.record(ROOT, PKG, spark.version)
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the driver JVM exits when its stdin closes; wait for it
            jvm.stdin.close()
            jvm.wait(timeout=120)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    op_s = statistics.median(res.op_s)
    info.update(
        workload=args.workload,
        seed=args.seed,
        run_id=run_id,
        ops_measured=len(res.op_s),
        op_seconds=[round(t, 4) for t in res.op_s],
        session_start_s=round(session_s, 4),
        problems=ctx.problems,
        pins=ctx.pins,
    )
    if args.trace:
        values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        values.update(res.layers)
        values["session.start_s"] = session_s
        values["process.peak_rss_mb"] = rss
        values["spark.peak_heap_mb"] = heap_peak / 2**20
        values["failed_op_share"] = ctx.failed / ctx.attempted
        values["trace.overhead_s"] = tracer.overhead_s / len(res.op_s)
        for layer, s in tracer.layer_self_s().items():
            values[f"self_s.{layer}"] = s / len(res.op_s)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{run_id}.json"))
        info["op_s_traced"] = op_s
    else:
        values = {"op_s": op_s, "setup_s": session_s + res.setup_s, "retained_heap_mb": retained}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"host": info}))
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
