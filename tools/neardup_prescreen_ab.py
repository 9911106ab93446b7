"""Interleaved A/B for the neardup coarse pre-verify screen
(catalog_ext.NEARDUP_PRESCREEN_HEAD hook): times
x_embed_cosine_neardup with no screen (every candidate pair goes
straight to the exact full-vector verify join) against head-H
Cauchy-Schwarz screens (H = 8, 16) in ONE session, alternating
variants per repeat so host drift cancels (the protocol of
tools/bench_ab.py).

Round-9 verdict (NEARDUP_PRESCREEN_AB.json): head16 WON at both
decades — best-of-2, identical 617 874 output rows per variant:
x1000 262.5 s (off) / 242.9 s (head8) / 191.4 s (head16, 1.37x);
x100 20.2 s / 20.8 s / 18.9 s — and is the shipped default
(NEARDUP_PRESCREEN_HEAD = 16). The tool restores the module default
on exit and labels the artifact with whichever variant ships.

Motivation (SCALE_r08_SIZED.json): at x1000 the query verifies 139 M
candidate pairs down to 618 k outputs — 99.6 % of the full-vector
join's shuffle volume is discarded by the final cosine filter. The
screen joins candidates against a ~3x narrower slim row first and
forwards only pairs whose upper bound can reach 0.9; whether the
extra join round-trip beats the byte savings is exactly the kind of
question rounds 5-8 established must be answered by interleaved
measurement, not plan reasoning (the SHJ hint and wide SimHash
blocking both LOST their plausible-sounding A/Bs).

The screen is output-invariant by construction (Cauchy-Schwarz upper
bound over the exact quantized integers; pair-set identity pinned by
tests/test_neardup_prescreen.py), so the A/B also asserts identical
row counts per corpus.

Usage: python tools/neardup_prescreen_ab.py [dir:mult ...] [--repeats N]
  default corpora: x100 and x1000 (the decades where the verify join
  dominates; at test SFs the whole query is overhead).
Writes NEARDUP_PRESCREEN_AB.json at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmoz_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from cosmoz_data_pipeline_spark.plans import catalog_ext  # noqa: E402
from cosmoz_data_pipeline_spark.session import build_session  # noqa: E402
from tools.scale_bench import _cold, _metrics_since, _stage_hwm  # noqa: E402

DEFAULT_CORPORA = (
    ("/tmp/cosmoz_scale_x100", 100),
    ("/tmp/cosmoz_scale_x1000", 1000),
)

VARIANTS = (("off", 0), ("head8", 8), ("head16", 16))


def _one(spark, sf_dir: str, head: int):
    catalog_ext.NEARDUP_PRESCREEN_HEAD = head
    _cold(spark)
    hwm = _stage_hwm(spark)
    t0 = time.time()
    rows = REGISTRY["x_embed_cosine_neardup"].run(spark, sf_dir).count()
    dt = time.time() - t0
    met = _metrics_since(spark, hwm)
    _cold(spark)
    return dt, rows, met


def main() -> None:
    args = sys.argv[1:]
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
    # same sizing as the scale sweep: the x1000 decade needs the
    # production-executor-like 64 g, and the UI feeds _metrics_since
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    _shipped_head = catalog_ext.NEARDUP_PRESCREEN_HEAD
    spark = build_session(
        app_name="neardup-prescreen-ab", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    shipped = f"head{catalog_ext.NEARDUP_PRESCREEN_HEAD}" if (
        catalog_ext.NEARDUP_PRESCREEN_HEAD
    ) else "off"
    out = {"metric": "neardup_prescreen_ab", "unit": "sec", "repeats": repeats,
           "shipped_variant": shipped, "corpora": {}}
    try:
        for d, mult in corpora:
            rec = {key: {"t": []} for key, _ in VARIANTS}
            rows_seen = set()
            for _ in range(repeats):
                for key, head in VARIANTS:
                    dt, rows, met = _one(spark, d, head)
                    rec[key]["t"].append(round(dt, 3))
                    rows_seen.add(rows)
                    if round(dt, 3) == min(rec[key]["t"]):
                        rec[key]["run_bytes"] = met
                    print(f"x{mult:<5d} {key:7s} {dt:8.2f}s rows={rows}",
                          flush=True)
            if len(rows_seen) != 1:  # the screen is a provable
                # superset filter, never semantic; raise (not assert —
                # asserts vanish under python -O)
                raise RuntimeError(
                    f"variants disagree on row count: {rows_seen}"
                )
            rec["rows"] = rows_seen.pop()
            for key, _ in VARIANTS:
                rec[key]["best"] = min(rec[key]["t"])
            rec["speedup_off_over_head16"] = round(
                rec["off"]["best"] / rec["head16"]["best"], 3
            )
            out["corpora"][f"x{mult}"] = rec
    finally:
        catalog_ext.NEARDUP_PRESCREEN_HEAD = _shipped_head
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "NEARDUP_PRESCREEN_AB.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
