"""Run the benchmark over several seeds and report its spread.

    python3 perfbench/spread.py --seeds 1-10 [--sentinel] [--out FILE]

Runs ``perfbench/run.py`` untraced once per (workload, seed) for every
workload of BENCHMARK.json, one run at a time, from the current
directory (the root of a checkout). For every
metric it reports the median, the quartiles (``statistics.quantiles``
with n=4) and the spread: the distance between the quartiles as a
share of the median. End-to-end metrics are compared with a third of
their bound from BENCHMARK.json. With ``--sentinel`` the frozen cpu
sentinel (``sentinel.sentinel_sec``, one pass) is taken once before
and once after the set of runs and recorded as host-drift context; it
is never gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

SENTINEL = """
import sys
sys.path.insert(0, ".")
from perfbench import host
host.configure_env()
from cosmoz_data_pipeline_spark.session import build_session
from cosmoz_data_pipeline_spark.sentinel import sentinel_sec
spark = build_session(app_name="perfbench-sentinel", extra_conf={"spark.ui.showConsoleProgress": "false"})
try:
    print(sentinel_sec(spark, repeats=1))
finally:
    spark.stop()
"""


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def sentinel() -> float:
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(os.getcwd(), ".perfbench_work", "sentinel"))
    try:
        out = subprocess.run(
            [sys.executable, "-c", SENTINEL], capture_output=True, text=True, env=env, timeout=600, check=True
        )
    finally:
        shutil.rmtree(env["SPARK_LOCAL_DIRS"], ignore_errors=True)
    return float(out.stdout.strip().splitlines()[-1])


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict, float]:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed ({out.returncode}):\n{out.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["host"], wall


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(prog="perfbench-spread")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sentinel", action="store_true")
    p.add_argument("--out")
    args = p.parse_args()
    names = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    report: dict = {"seeds": parse_seeds(args.seeds), "seconds": seconds, "workloads": {}}
    if args.sentinel:
        report["sentinel_before_s"] = sentinel()
    for name in names:
        runs = []
        for seed in report["seeds"]:
            res, info, wall = run_once(name, seed, seconds)
            runs.append({"seed": seed, "wall_s": wall, "result": res, "host": info})
            print(f"{name} seed={seed} wall={wall:.1f}s correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items() if k in bounds),
                  file=sys.stderr, flush=True)
        metrics = {}
        for key in runs[0]["result"]["metrics"]:
            s = spread([r["result"]["metrics"][key]["value"] for r in runs])
            if bounds.get(key) is not None:
                s["within_third_of_bound"] = s["spread"] < bounds[key] / 3
            metrics[key] = s
        report["workloads"][name] = {
            "all_correct": all(r["result"]["correct"] for r in runs),
            "wall_s": spread([r["wall_s"] for r in runs]),
            "metrics": metrics,
            "runs": runs,
        }
    if args.sentinel:
        report["sentinel_after_s"] = sentinel()
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    summary = {
        n: {k: round(v["spread"], 4) for k, v in w["metrics"].items() if k in bounds} | {"wall_median_s": round(w["wall_s"]["median"], 1), "all_correct": w["all_correct"]}
        for n, w in report["workloads"].items()
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
