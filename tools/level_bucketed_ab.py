"""Interleaved A/B for the bucketed per-site sequence windows
(domain/levels.LEVEL1_SEQ_BUCKETED, or with --asof-only
operators/asof.ASOF_BUCKETED): times the raw->level1 prefix AND the
full level4 pipeline with the plain per-site windows against the
(site, week-bucket) + boundary-exchange shapes in ONE session,
alternating variants per repeat so host drift cancels.

Motivation (VERDICT r9 "weak" grade + LEVEL4_STAGES.json): the
per-site windows are 8-task sorts — at x1000 the level1 prefix spills
19.3 GiB mem + 5.5 GiB disk and carries alpha=1.11, because per-task
sort volume grows linearly with per-site history on a fixed key
count. The bucketed shapes hash the same rows over (site, week)
groups (balanced across every reducer) plus a tiny boundary exchange;
row identity is pinned by tests/test_bucketed_window.py. Adoption
rule per VERDICT r9 task 2: adopt on a win OR a spill-retirement at
wall parity.

Both prefixes run as noop writes (full materialization — a count()
would prune level4's collect_list windows and, policy aside, the A/B
must compare the work the variants actually differ on).

Usage: python tools/level_bucketed_ab.py [dir:mult ...] [--repeats N]
                                         [--asof-only]
  default corpora: x100 and x1000.
Writes LEVEL_BUCKETED_AB.json (LEVEL_ASOF_AB.json with --asof-only)
at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmoz_data_pipeline_spark.domain import levels  # noqa: E402
from cosmoz_data_pipeline_spark.domain.synth import load_domain  # noqa: E402
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x100", 100),
    ("/tmp/cosmoz_scale_x1000", 1000),
)

VARIANTS = (("plain", False), ("bucketed", True))
STAGES = ("level1", "level4")


ASOF_ONLY = False  # --asof-only: isolate asof.ASOF_BUCKETED (seq ON)
# on the level2/level4 prefixes


def _one(spark, sf_dir: str, stage: str, bucketed: bool, count_rows: bool):
    from cosmoz_data_pipeline_spark.operators import asof

    if ASOF_ONLY:
        levels.LEVEL1_SEQ_BUCKETED = True
        asof.ASOF_BUCKETED = bucketed
    else:
        levels.LEVEL1_SEQ_BUCKETED = bucketed
        asof.ASOF_BUCKETED = False
    _cold(spark)
    d = load_domain(spark, sf_dir)
    df = levels.run_pipeline(
        d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"]
    )[stage]
    hwm = _stage_hwm(spark)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    # metrics BEFORE the untimed count (a second full execution)
    met = _metrics_since(spark, hwm)
    # the count re-executes the whole prefix — once per variant is
    # enough for the guard (full row identity is test-pinned)
    rows = df.count() if count_rows else None
    _cold(spark)
    return dt, rows, met


def main() -> None:
    global ASOF_ONLY
    args = sys.argv[1:]
    if "--asof-only" in args:
        ASOF_ONLY = True
        args.remove("--asof-only")
    repeats = 2
    if "--repeats" in args:
        i = args.index("--repeats")
        repeats = int(args[i + 1])
        del args[i : i + 2]
    corpora = (
        [(a.rsplit(":", 1)[0], int(a.rsplit(":", 1)[1])) for a in args]
        if args
        else list(DEFAULT_CORPORA)
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    from cosmoz_data_pipeline_spark.operators import asof

    s1, sa = levels.LEVEL1_SEQ_BUCKETED, asof.ASOF_BUCKETED
    spark = build_session(
        app_name="level-bucketed-ab", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    stages = ("level2", "level4") if ASOF_ONLY else STAGES
    out = {"metric": "level_bucketed_ab"
           + ("_asof_only" if ASOF_ONLY else ""),
           "unit": "sec", "repeats": repeats,
           "stages": list(stages),
           "asof_only": ASOF_ONLY,
           "shipped_variant": "auto (None = corpus-gated)"
           if s1 is None else ("bucketed" if s1 else "plain"),
           "corpora": {}}
    try:
        for d, mult in corpora:
            for stage in stages:
                rec = {key: {"t": []} for key, _ in VARIANTS}
                rows_seen = set()
                for rep in range(repeats):
                    for key, bucketed in VARIANTS:
                        dt, rows, met = _one(spark, d, stage, bucketed, rep == 0)
                        rec[key]["t"].append(round(dt, 3))
                        if rows is not None:
                            rows_seen.add(rows)
                        if round(dt, 3) == min(rec[key]["t"]):
                            rec[key]["run_bytes"] = met
                        print(
                            f"x{mult:<5d} {stage:7s} {key:9s} {dt:8.2f}s rows={rows}",
                            flush=True,
                        )
                if len(rows_seen) != 1:  # raise, not assert: asserts
                    # vanish under python -O and this is the
                    # measurement path's only equivalence guard (full
                    # row identity is pinned by
                    # tests/test_bucketed_window.py)
                    raise RuntimeError(
                        f"variants disagree on row count: {rows_seen}"
                    )
                rec["rows"] = rows_seen.pop()
                for key, _ in VARIANTS:
                    rec[key]["best"] = min(rec[key]["t"])
                rec["speedup_plain_over_bucketed"] = round(
                    rec["plain"]["best"] / rec["bucketed"]["best"], 3
                )
                out["corpora"][f"x{mult}:{stage}"] = rec
    finally:
        levels.LEVEL1_SEQ_BUCKETED, asof.ASOF_BUCKETED = s1, sa
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "LEVEL_ASOF_AB.json" if ASOF_ONLY else "LEVEL_BUCKETED_AB.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
