"""The benchmark's workloads.

Each workload sets up (seeded corpus, then the first op into an empty
sink on a cold JVM), then runs ops back to back until ``seconds`` have
passed, with at least one measured op (two for ``text_dedup``). Every
op's output is checked; an exception, an op slower than
``OP_TIMEOUT_S`` or a check mismatch counts it as failed. A workload
returns the wall time of each measured op, and, in a traced run, its
per-layer numbers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import corpus
from .trace import PKG, Tracer, ran, stage_totals

OP_TIMEOUT_S = 150.0
LEVELS = ("level1", "level2", "level3", "level4")
DEDUP_QUERIES = ("simhash_pairs", "minhash_lsh", "components")

# levels_cron: ~28 days of 8 sites at a 20-minute cadence; the cron
# job recomputes all of it and rewrites the last 7 days (plus the
# partial day the window starts in), 64 of ~210 partitions per level.
LEVELS_EVENTS = 16_000
LEVELS_DROP_SHARE = 0.01
LEVELS_OUTAGE_DAYS = (2, 4)
CRON_DAYS = 7
# text_dedup: 2k documents (the sf0.1 test corpus has 5k); a pass
# takes longer than a run's seconds, so op_s is the median of at least
# this many measured passes
DEDUP_DOCS = 2_000
DEDUP_MIN_OPS = 2


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # the run's reference output fingerprints, as perfbench/pins.json
    # stores them per seed
    pins: dict = field(default_factory=dict)
    # compare with perfbench/pins.json; off while pins.py re-records it
    golden: bool = True

    def op(self, name: str, fn, check=None) -> float:
        """Run one op and its output check; returns its wall seconds."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
            dt = time.perf_counter() - t0
            bad = check() if check else None
        except Exception as e:  # a failed op is counted, not fatal
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return time.perf_counter() - t0
        if dt > OP_TIMEOUT_S:
            bad = f"took {dt:.1f} s, over the {OP_TIMEOUT_S:.0f} s limit"
        if bad:
            self.failed += 1
            self.problems.append(f"{name}: {bad}")
        return dt

    def window_hwm(self) -> int:
        return self.tracer.log.hwm() if self.tracer else -1


@dataclass
class Result:
    setup_s: float
    op_s: list[float]
    layers: dict = field(default_factory=dict)


def _spark_totals(ctx: Ctx, lo: int, hi: int, wall: float) -> dict:
    tot = stage_totals(ran(ctx.tracer.log.stages(), lo, hi))
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    return {
        "spark.task_run_s": tot["task_run_s"],
        "spark.task_cpu_s": tot["task_cpu_s"],
        "spark.fetch_wait_s": tot["fetch_wait_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.core_busy_share": tot["task_run_s"] / (wall * cores),
    }


def _measure(ctx: Ctx, one_op, min_ops: int = 1) -> tuple[list[float], float]:
    """Run ``one_op`` until ``ctx.seconds`` have passed and at least
    ``min_ops`` ops have run; returns each op's seconds and the window's
    wall seconds."""
    times: list[float] = []
    if ctx.tracer:
        ctx.tracer.window = len(ctx.tracer.spans)
        ctx.tracer.overhead_s = 0.0
    t0 = time.perf_counter()
    while len(times) < min_ops or time.perf_counter() - t0 < ctx.seconds:
        times.append(one_op())
    wall = time.perf_counter() - t0
    if ctx.tracer:
        ctx.tracer.window_end = len(ctx.tracer.spans)
    return times, wall


# ------------------------------------------------------------ pins


def pin(df) -> tuple[int, int]:
    """(count, bit_xor(xxhash64(*))): an order-free fingerprint."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _golden(ctx: Ctx, workload: str) -> dict | None:
    if not ctx.golden:
        return None
    path = os.path.join(os.path.dirname(__file__), "pins.json")
    try:
        with open(path) as f:
            return json.load(f).get(workload, {}).get(str(ctx.seed))
    except OSError:
        return None


def _compare(got: dict, want: dict | None, what: str) -> str | None:
    if want is None:
        return None
    bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != tuple(v)}
    return f"{what} pins differ (got, want): {bad}" if bad else None


# ------------------------------------------------------------ levels


def sink_pins(root: str, since_day: str | None = None) -> dict:
    """Pin each level table of a sink: (rows, xor of per-row hashes),
    read with pyarrow, independently of the engine under test. With
    ``since_day``, only the day partitions from that day on."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([("site_no", pa.int32()), ("p_date", pa.string())]), flavor="hive")
    out = {}
    for name in LEVELS:
        d = ds.dataset(os.path.join(root, name), format="parquet", partitioning=part)
        t = d.to_table(filter=ds.field("p_date") >= since_day if since_day else None)
        t = t.select(sorted(t.column_names))
        h = pd.util.hash_pandas_object(t.to_pandas(), index=False).to_numpy()
        out[name] = (t.num_rows, int(np.bitwise_xor.reduce(h).astype(np.int64)) if len(h) else 0)
    return out


def files(root: str, since_day: str, window: bool) -> dict:
    """{partition dir: {file name: (size, mtime)}} for the day
    partitions from ``since_day`` on (``window``) or before it."""
    out: dict = {}
    for dirpath, _dirs, names in os.walk(root):
        day = os.path.basename(dirpath)
        if day.startswith("p_date=") and (day[len("p_date="):] >= since_day) == window:
            out[dirpath] = {}
            for fn in names:
                st = os.stat(os.path.join(dirpath, fn))
                out[dirpath][fn] = (st.st_size, st.st_mtime_ns)
    return out


def unrewritten(before: dict, after: dict) -> list[str]:
    """Window partitions that a write left as they were: missing, empty,
    or holding a file (name and mtime) that was there before it."""
    return sorted(
        d for d in before
        if not after.get(d) or any(before[d].get(fn) == st for fn, st in after[d].items())
    )


def levels_cron(ctx: Ctx) -> Result:
    """The deployed cron job over a backfilled sink. Set-up backfills a
    seeded domain corpus (the first op into an empty sink); each op is
    then one ``process-levels -t <end - 7 days>`` call, which recomputes
    the whole history and rewrites only the window's partitions."""
    from cosmoz_data_pipeline_spark import cli

    t_setup = time.perf_counter()
    src = os.path.join(ctx.work, "corpus")
    end = corpus.write_events(src, ctx.seed, LEVELS_EVENTS, LEVELS_DROP_SHARE, LEVELS_OUTAGE_DAYS)
    since_day = (end - corpus.dt.timedelta(days=CRON_DAYS)).replace(hour=0, minute=0, second=0)
    day = since_day.strftime("%Y-%m-%d")
    out = os.path.join(ctx.work, "levels")
    spark = ctx.spark

    # cli.main builds its session with build_session, which returns the
    # running one; keep it from stopping that session between ops
    def call(argv):
        stop, spark.stop = spark.stop, lambda: None
        try:
            cli.main(argv + ["--input", src, "--output", out])
        finally:
            spark.stop = stop

    ref: dict = {}

    def check_backfill():
        got = sink_pins(out)
        ctx.pins = {k: list(v) for k, v in got.items()}
        ref["window"] = sink_pins(out, day)
        ref["history"] = files(out, day, window=False)
        ref["before"] = files(out, day, window=True)
        return _compare(got, _golden(ctx, "levels_cron"), "backfill")

    def check_cron():
        # the cron job rewrote every window partition; what it wrote
        # equals the backfill's rows for the window (incremental =
        # backfill), and no earlier partition changed
        if "window" not in ref:
            return "no backfill to compare the cron window with"
        # the window's files as this op left them are what the next op
        # must replace; listed here, outside the op's timer
        after = files(out, day, window=True)
        before, ref["before"] = ref["before"], after
        stale = unrewritten(before, after)
        if not before or stale:
            return f"window partitions not rewritten: {stale[:3]} ({len(stale)} in all)"
        if files(out, day, window=False) != ref["history"]:
            return "partitions before the window changed"
        return _compare(sink_pins(out, day), ref["window"], "cron window vs backfill")

    n0 = len(ctx.tracer.spans) if ctx.tracer else 0
    fill_s = ctx.op("backfill", lambda: call(["backfill"]), check_backfill)
    n1 = len(ctx.tracer.spans) if ctx.tracer else 0
    setup_s = time.perf_counter() - t_setup

    cron = ["process-levels", "-t", since_day.strftime("%Y-%m-%d %H:%M:%S")]
    lo = ctx.window_hwm()
    times, wall = _measure(ctx, lambda: ctx.op("cron", lambda: call(cron), check_cron))
    res = Result(setup_s, times)
    if ctx.tracer:
        res.layers = _levels_layers(ctx, n0, n1, out, lo, wall)
        res.layers["cli.backfill_s"] = fill_s
    return res


def _write_totals(spans, stages) -> dict:
    """Per level: the stages each level's sink write ran, and its
    driver-side commit time (wall time not covered by those stages)."""
    rec: dict = {"plan_s": 0.0}
    for sp in spans:
        if sp.name in ("domain.synth.load_domain", "domain.levels.run_pipeline"):
            rec["plan_s"] += sp.seconds
        if sp.name == "streaming.incremental.incremental_overwrite":
            tot = stage_totals(ran(stages, sp.hwm_start, sp.hwm_end))
            tot["commit_s"] = sp.seconds - tot["stage_s"]
            rec[sp.attrs["level"]] = tot
    return rec


def _levels_layers(ctx: Ctx, n0: int, n1: int, out: str, lo: int, wall: float) -> dict:
    tr = ctx.tracer
    stages = tr.log.stages()
    fill = _write_totals(tr.spans[n0:n1], stages)
    # one record per measured cron op, split at its cli.main span
    starts = [i for i in range(tr.window, len(tr.spans)) if tr.spans[i].name == "cli.main"]
    crons = [
        _write_totals(tr.spans[a:b], stages)
        for a, b in zip(starts, starts[1:] + [len(tr.spans)])
    ]

    def med(level: str, key: str) -> float:
        return statistics.median(c[level][key] for c in crons)

    res = {"cli.plan_s": statistics.median(c["plan_s"] for c in crons)}
    for name in LEVELS:
        for m in ("stage_s", "shuffle_write_bytes", "spill_bytes", "stages"):
            res[f"levels.{name}.{m}"] = med(name, m)
        res[f"incremental.{name}.commit_s"] = fill[name]["commit_s"]
        res[f"incremental.{name}.rows_written"] = fill[name]["output_records"]
        parts = files = 0
        for _dir, _dirs, fs in os.walk(os.path.join(out, name)):
            n = sum(1 for f in fs if f.endswith(".parquet"))
            files += n
            parts += 1 if n else 0
        res[f"incremental.{name}.partitions_written"] = parts
        res[f"incremental.{name}.files_written"] = files
    res["levels.recompute_ratio"] = sum(med(n, "stages") for n in LEVELS) / med("level4", "stages")
    res.update(_spark_totals(ctx, lo, tr.log.hwm(), wall))
    return res


# ------------------------------------------------------------ dedup


def text_dedup(ctx: Ctx) -> Result:
    """One op is one cold pass over the three dedup queries, each
    materialized and pinned by count + bit_xor(xxhash64(*))."""
    from cosmoz_data_pipeline_spark.plans import REGISTRY, catalog_ext, release_persists

    t_setup = time.perf_counter()
    docs = os.path.join(ctx.work, "docs")
    corpus.write_documents(docs, ctx.seed, DEDUP_DOCS)
    spark = ctx.spark

    def cold():
        # the same reset as bench.py's _cold
        release_persists()
        spark.catalog.clearCache()
        catalog_ext._IVF_CENTROIDS.clear()
        catalog_ext.clear_counts()
        catalog_ext._AUG_OFF.clear()

    ref: dict = {}
    per_pass: list[dict] = []

    def one_pass():
        got, spans = {}, {}
        for q in DEDUP_QUERIES:
            cold()
            span = ctx.tracer.span(f"plans.catalog_ext.x_dedup_{q}") if ctx.tracer else nullcontext()
            with span as sp:
                got[q] = pin(REGISTRY[f"x_dedup_{q}"].run(spark, docs))
            spans[q] = sp
        release_persists()
        if "pins" not in ref:
            ref["pins"] = got
            ctx.pins = {k: list(v) for k, v in got.items()}
        per_pass.append(spans)
        ref["last"] = got

    def check():
        if ref["last"] is ref["pins"]:
            return _compare(ref["pins"], _golden(ctx, "text_dedup"), "dedup")
        return _compare(ref["last"], ref["pins"], "dedup re-run")

    ctx.op("dedup", one_pass, check)
    setup_s = time.perf_counter() - t_setup
    lo = ctx.window_hwm()
    first = len(per_pass)
    times, wall = _measure(ctx, lambda: ctx.op("dedup", one_pass, check), DEDUP_MIN_OPS)
    res = Result(setup_s, times)
    if ctx.tracer:
        res.layers = _dedup_layers(ctx, per_pass[first:], ref["pins"], docs, lo, wall)
    return res


def _dedup_layers(ctx: Ctx, passes, pins, docs: str, lo: int, wall: float) -> dict:
    from cosmoz_data_pipeline_spark.plans import catalog_ext, release_persists

    tr = ctx.tracer
    stages = tr.log.stages()
    out: dict = {}
    for q in DEDUP_QUERIES:
        recs = []
        for spans in passes:
            sp = spans[q]
            recs.append(stage_totals(ran(stages, sp.hwm_start, sp.hwm_end)) | {"s": sp.seconds})
        for m in ("s", "shuffle_write_bytes", "spill_bytes", "stages"):
            out[f"dedup.{q}.{m}"] = statistics.median(r[m] for r in recs)
        out[f"dedup.{q}.rows_out"] = pins[q][0]
    out.update(_spark_totals(ctx, lo, tr.log.hwm(), wall))
    # stage probe, outside every timer
    probe = catalog_ext.STAGE_PROBES["x_dedup_simhash_pairs"](ctx.spark, docs)
    release_persists()
    cands = probe["candidate_pairs"]
    out["dedup.simhash_pairs.candidates"] = cands
    out["dedup.simhash_pairs.verify_yield"] = pins["simhash_pairs"][0] / cands if cands else 0.0
    return out


WORKLOADS = {"levels_cron": levels_cron, "text_dedup": text_dedup}

# spans opened in a traced run: (module, attribute, span name)
TRACE_TARGETS = [
    (f"{PKG}.cli", "main", "cli.main"),
    (f"{PKG}.cli", "process_levels", "cli.process_levels"),
    (f"{PKG}.cli", "load_domain", "domain.synth.load_domain"),
    (f"{PKG}.cli", "build_session", "session.build_session"),
    (f"{PKG}.cli", "incremental_overwrite", "streaming.incremental.incremental_overwrite"),
    (f"{PKG}.domain.levels", "*", "domain.levels"),
    (f"{PKG}.functions.similarity", "*", "functions.similarity"),
    (f"{PKG}.functions.text", "*", "functions.text"),
]
TRACE_ATTRS = {
    "streaming.incremental.incremental_overwrite": lambda df, sink_dir, **kw: {
        "level": os.path.basename(sink_dir.rstrip("/"))
    },
}
