"""Record the reference output pins of each workload per seed.

    python3 perfbench/pins.py --seeds 0-12

Runs every workload of BENCHMARK.json for each seed in one session
(set-up and a single op) and writes the pins the run checks against,
the workload's reference fingerprints, to perfbench/pins.json. A
benchmark run on a seed listed there fails its output check when the
program's output differs; on other seeds it checks only that its ops
agree with each other. Recording checks every op as a run does, except
against the old pins.json. Re-record only when a change to the program
is meant to change its output, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.spread import parse_seeds  # noqa: E402

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def main() -> int:
    p = argparse.ArgumentParser(prog="perfbench-pins")
    p.add_argument("--seeds", default="0-12")
    seeds = parse_seeds(p.parse_args().seeds)
    with open("BENCHMARK.json") as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    root = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="pins-", dir=root)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    host.configure_env()
    from cosmoz_data_pipeline_spark.session import build_session

    spark = build_session(app_name="perfbench-pins", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with open(PINS) as f:
            pins = json.load(f)
    except OSError:
        pins = {}
    try:
        for name in names:
            for seed in seeds:
                d = os.path.join(work, f"{name}-{seed}")
                os.makedirs(d)
                ctx = wl.Ctx(spark, seed, 0, d, None, golden=False)
                wl.WORKLOADS[name](ctx)
                shutil.rmtree(d)
                if ctx.failed:
                    raise SystemExit(f"{name} seed {seed}: {ctx.problems}")
                pins.setdefault(name, {})[str(seed)] = ctx.pins
                print(name, seed, ctx.pins, flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
