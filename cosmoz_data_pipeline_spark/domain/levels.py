"""The cosmoz level pipeline (raw → level1 → level2 → level3 → level4)
as declarative single-plan DataFrame transforms.

Reference semantics: /root/reference/pipeline/cosmoz_process_levels.py
(raw_to_level1 :340-429, level1_to_level2 :171-314, level2_to_level3
:96-168, level3_to_level4 :42-93) — deployed Python behavior, with the
SQL view specs (pipeline/*.sql) as documentation. Where the Python and
SQL disagree (rain carried through level2, installation-date filter
omitted at level4, noon-bounded SILO day window) we follow the Python,
per SURVEY §7.3.

Scale design (100 TB target):
- no per-row lookups: the reference's N+1 correlated queries become
  one broadcast join (stations), two grain joins (hour/day) and two
  as-of window passes — ~4 shuffles total for level2, all keyed on
  ``site_no`` so partitioning is reused;
- dedup needs NO join at all: partitioning by the full payload makes
  duplicate detection a lag() within each identical-payload group;
- the ±3 h moving average is a range-frame window, not a self-join;
- every expression is built-in Catalyst (whole-stage codegen), zero
  Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join_both
from ..operators.bucketed_window import bucketed_auto, bucketed_lag
from . import physics

# payload columns compared by the duplicate detector. The reference
# skips only {time, site_no, flag} but both sides alias flag →
# raw_flag, so the raw flag IS part of the comparison
# (cosmoz_process_levels.py:316-337 with :321/:353 aliasing).
RAW_PAYLOAD = (
    "count",
    "pressure1",
    "internal_temperature",
    "internal_humidity",
    "battery",
    "tube_temperature",
    "tube_humidity",
    "rain",
    "vwc1",
    "vwc2",
    "vwc3",
    "pressure2",
    "external_temperature",
    "external_humidity",
    "flag",
)

LEVEL1_FIELDS = RAW_PAYLOAD[:-1]  # sans flag (recomputed)

# Round-9 A/B hook (tools/level1_dupw_ab.py): the duplicate-detector
# window partitions by (site_no, all 15 payload columns) — a 16-field
# composite sort key whose leading column has 8 distinct values, so
# Spark's 8-byte sort-prefix comparison resolves almost nothing and
# every comparison walks the wide key field by field. LEVEL4_STAGES
# .json localizes the level pipeline's superlinear decade exponent to
# exactly this stage (level1 prefix: 5.96 s → 79.9 s, alpha=1.127,
# while the bare site_no sort floor runs alpha=0.722). The variant
# partitions by (xxhash64(payload), site_no) and orders by
# (payload struct, time): the 8-byte hash prefix now resolves nearly
# every comparison, identical payload rows stay CONTIGUOUS within the
# hash partition (so lag() still walks the same-payload series), and
# a null-safe struct equality on the lagged row makes hash collisions
# harmless — two different payloads sharing a hash are separated by
# the struct sort and fail the equality, so the pair semantics are
# EXACT, not probabilistic. ADOPTED round 9 on the isolated-stage A/B
# (LEVEL1_DUPW_AB.json, x1000, 3 repeats interleaved, identical
# 86 813 180 output rows every run): level1 best-of-3 52.1 s (hash)
# vs 66.1 s (composite), steady-state 52 s vs 76 s (1.47x); the full
# level4 pipeline measured 123.9 s vs 128.1 s best-of-2 (downstream
# stages dilute the stage win). True/False force either variant.
#
# CORPUS-GATED round 10 (None = auto, same >=128-partition gate as
# the bucketed shapes): BENCH_AB_r10.json (3 repeats x 3 passes,
# r8-final vs r10) showed the hash layout costs a consistent
# ~5-13 % on the sf0.1 level pipeline (xxhash64 over 16 columns per
# row dominates when the composite sort is already cheap), while the
# 1.47x stage win only exists where the per-site sort is the
# bottleneck. Small corpora keep the composite window; at-scale
# corpora get the hash prefix — exactly the SimHash-blocking
# precedent (corpus-scaled physical shape, fixed semantics).
LEVEL1_DUPW_HASH: bool | None = None

# Round-10 scale shape (VERDICT r9 task 2): level1's lag(count) over
# partitionBy(site_no) is an 8-task sort whose per-task volume grows
# linearly with per-site history (19.3 GiB mem + 5.5 GiB disk of sort
# spill in the level1 prefix at x1000, LEVEL4_STAGES.json; no
# partition count splits a sort keyed on 8 values). The bucketed
# variant (operators/bucketed_window.py) computes the identical rows
# through balanced (site, week-bucket) groups plus a tiny boundary
# exchange. None = auto: engage when the frame's own input-file bytes
# say the corpus has outgrown the key count (>= 512 MiB — x1000
# engages, sf0.1/x100 keep the fused single-window plan at small
# scale; see bucketed_window.bucketed_auto). Identity pinned by
# tests/test_bucketed_window.py. ADOPTED round 10
# (LEVEL_BUCKETED_AB.json at x1000: level1 prefix 67.6 s -> 21.5 s
# with the sort spill retired; 1.14x even at x100). The same halo
# shape for level4's ±3h frame lost (LEVEL_FRAME_AB.json).
LEVEL1_SEQ_BUCKETED: bool | None = None

# A fused-scan level1 (one exchange plus a candidate-subset duplicate
# confirm) was measured out and removed (LEVEL1_DUPSUBSET_AB.json).

# Round-12/13 lever (LEVEL4_STAGES.json round12_clean_reprobe): the
# level pipeline's x1000 cost after the level1 prefix lives in
# level2's temporal attachments — the 100M-row wide fact re-shuffles
# for the hour-grain intensity join, the day-grain SILO join and the
# as-of union SEPARATELY (+123 s and +20.4 GiB shuffle over level1).
# At x1000 the hour table is ~23M rows (one per site-hour, growing
# linearly with history — NOT broadcastable), so both grain joins are
# sort-merge joins that each pay a full fact exchange + sort.
#
# The FUSED shape resolves all four attachments in ONE shuffle: union
# the fact probe rows with (a) the intensity value rows (as the as-of
# union already did), (b) the per-(site, hour) pick rows anchored at
# their HOUR START, and (c) the per-(site, day) SILO pick rows
# anchored at their DAY START; hash-shuffle once on
# (site_no[, week-bucket]); then running last(..., ignorenulls)
# windows resolve in-partition:
#   - hour match:  last hour-pick struct, gated hr == my hour
#   - SILO day:    last day-pick struct, gated day == my date
#   - as-of bw/fw: the asof_join_both machinery, inlined
# Anchoring a pick at its period start makes every fact row of the
# period scan AFTER its pick row (picks order before probes at equal
# time), so the running last IS the equi-join, row for row. The
# session pins UTC (session.py) and the 7-day bucket width is a
# multiple of 86400 s, so hour/day periods never straddle a bucket —
# the pick structs need no cross-bucket carry (guarded in code); only
# the as-of values carry across buckets, exactly as in asof_join_both.
# The extra union rows are narrow (the fact's payload columns ride as
# nulls) and scan-local; the win is retiring TWO full wide-fact
# exchanges + their sorts. None = auto (same frame-input-bytes gate
# as the other scale shapes); identity pinned by
# tests/test_level2_fused.py across fused×window-shape variants.
#
# ADOPTED round 12 on the interleaved x1000 A/B (LEVEL2_FUSED_AB
# .json, 3 repeats, shipped auto defaults on every other flag):
# level2 prefix best 159.1 s -> 121.0 s (1.31x) with fused's WORST
# run (139.0 s) beating joined's best, -16% shuffle bytes (33.3 ->
# 27.9 GiB), zero spill both, and far lower exposure to the ~2.4x
# large-shuffle I/O bimodality (joined swung 159-347 s across its
# three runs; fused 121-139 s). The x100 cells in the artifact
# measure a FORCED variant below the gate (x100 events = 184 MiB
# < 512 MiB) that never ships; see the artifact's adjudication_note,
# including why the one fast joined level4 x1000 reading is a
# drift-window artifact (inconsistent with its own prefix).
LEVEL2_FUSED_TEMPORAL: bool | None = None

# the shared corpus gate lives with the operator
_bucketed_auto = bucketed_auto

_ORD2, _SRC2, _BKT2 = "__l2_ord", "__l2_src", "__l2_bkt"


def _fused_temporal_attach(
    fact: DataFrame,
    int_slim: DataFrame,
    hourly: DataFrame,
    silo_pick: DataFrame,
    scale_hint: bool | None = None,
) -> DataFrame:
    """level2's hour-grain, day-grain and both as-of attachments in a
    single (site_no[, week-bucket]) shuffle — see LEVEL2_FUSED_TEMPORAL.

    Output = ``fact`` columns + intensity_hour, n_hour_rows,
    silo_temperature, silo_humidity, intensity_bw, intensity_fw —
    bit-identical to the three-join shape (reference semantics:
    cosmoz_process_levels.py:201-216 SILO day, :251-257 hour match,
    :263-274 as-of fallbacks).
    """
    from ..operators import asof
    from ..operators.bucketed_window import BUCKET_SECS

    fact_cols = fact.columns
    hs_t = "struct<hr:timestamp,ih:double,nh:bigint>"
    ds_t = "struct<day:date,st:double,sh:double>"

    def _pad():
        # value/pick rows carry only the key; the fact payload rides
        # as typed nulls (narrow after shuffle-side null bitmaps)
        return [
            (
                F.col(c)
                if c == "site_no"
                else F.lit(None).cast(fact.schema[c].dataType)
            ).alias(c)
            for c in fact_cols
        ]

    lhs = fact.select(
        *fact_cols,
        F.col("time").alias(_ORD2),
        F.lit(1).alias(_SRC2),
        F.lit(None).cast("double").alias("__iv"),
        F.lit(None).cast(hs_t).alias("__hs"),
        F.lit(None).cast(ds_t).alias("__ds"),
    )
    rhs_iv = int_slim.select(
        *_pad(),
        F.col("time").alias(_ORD2),
        F.lit(0).alias(_SRC2),
        F.col("intensity").cast("double").alias("__iv"),
        F.lit(None).cast(hs_t).alias("__hs"),
        F.lit(None).cast(ds_t).alias("__ds"),
    )
    # picks sort BEFORE value/probe rows at equal time (src asc), so a
    # fact row exactly at the hour/day start still sees its pick
    rhs_h = hourly.select(
        *_pad(),
        F.col("hr").alias(_ORD2),
        F.lit(-1).alias(_SRC2),
        F.lit(None).cast("double").alias("__iv"),
        F.struct(
            F.col("hr").alias("hr"),
            F.col("intensity_hour").cast("double").alias("ih"),
            F.col("n_hour_rows").cast("long").alias("nh"),
        ).alias("__hs"),
        F.lit(None).cast(ds_t).alias("__ds"),
    )
    rhs_d = silo_pick.select(
        *_pad(),
        F.col("day").cast("timestamp").alias(_ORD2),
        F.lit(-2).alias(_SRC2),
        F.lit(None).cast("double").alias("__iv"),
        F.lit(None).cast(hs_t).alias("__hs"),
        F.struct(
            F.col("day").alias("day"),
            F.col("silo_temperature").cast("double").alias("st"),
            F.col("silo_humidity").cast("double").alias("sh"),
        ).alias("__ds"),
    )
    u = lhs.unionByName(rhs_iv).unionByName(rhs_h).unionByName(rhs_d)

    if asof.ASOF_BUCKETED is not None:
        bucketed = asof.ASOF_BUCKETED
    elif scale_hint is not None:
        # caller knows the corpus scale when the fact frame has no
        # file lineage the auto gate could size (the scan-local
        # level1: data enters through per-file kernels over
        # spark.range, so inputFiles() is empty — round 15)
        bucketed = scale_hint
    else:
        bucketed = _bucketed_auto(u)
    if bucketed:
        if BUCKET_SECS % 86400:
            raise ValueError(
                f"fused level2 requires day-aligned buckets, got {BUCKET_SECS}s"
            )
        u = u.withColumn(
            _BKT2, F.floor(F.col(_ORD2).cast("long") / F.lit(BUCKET_SECS)).cast("long")
        )
        wb_in = (
            Window.partitionBy("site_no", _BKT2)
            .orderBy(F.col(_ORD2).asc(), F.col(_SRC2).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wf_in = (
            Window.partitionBy("site_no", _BKT2)
            .orderBy(F.col(_ORD2).desc(), F.col(_SRC2).desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # as-of carry across buckets (asof_join_both's tail/carry,
        # single value column); picks never need one — period-aligned
        nn = F.when(F.col("__iv").isNotNull(), F.col(_ORD2))
        tails = u.groupBy("site_no", _BKT2).agg(
            F.max_by("__iv", nn).alias("__tl_bw"),
            F.min_by("__iv", nn).alias("__tl_fw"),
        )
        w_bw = (
            Window.partitionBy("site_no")
            .orderBy(F.col(_BKT2).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_fw = (
            Window.partitionBy("site_no")
            .orderBy(F.col(_BKT2).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carries = tails.select(
            "site_no",
            _BKT2,
            F.last("__tl_bw", ignorenulls=True).over(w_bw).alias("__cr_bw"),
            F.last("__tl_fw", ignorenulls=True).over(w_fw).alias("__cr_fw"),
        )
        resolved = (
            u.select(
                *fact_cols,
                _SRC2,
                _BKT2,
                F.last("__iv", ignorenulls=True).over(wb_in).alias("__in_bw"),
                F.last("__iv", ignorenulls=True).over(wf_in).alias("__in_fw"),
                F.last("__hs", ignorenulls=True).over(wb_in).alias("__h"),
                F.last("__ds", ignorenulls=True).over(wb_in).alias("__d"),
            )
            .join(F.broadcast(carries), ["site_no", _BKT2], "left")
            .select(
                *fact_cols,
                _SRC2,
                F.coalesce("__in_bw", "__cr_bw").alias("__bw"),
                F.coalesce("__in_fw", "__cr_fw").alias("__fw"),
                "__h",
                "__d",
            )
        )
    else:
        wb = (
            Window.partitionBy("site_no")
            .orderBy(F.col(_ORD2).asc(), F.col(_SRC2).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wf = (
            Window.partitionBy("site_no")
            .orderBy(F.col(_ORD2).desc(), F.col(_SRC2).desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        resolved = u.select(
            *fact_cols,
            _SRC2,
            F.last("__iv", ignorenulls=True).over(wb).alias("__bw"),
            F.last("__iv", ignorenulls=True).over(wf).alias("__fw"),
            F.last("__hs", ignorenulls=True).over(wb).alias("__h"),
            F.last("__ds", ignorenulls=True).over(wb).alias("__d"),
        )

    out = resolved.where(F.col(_SRC2) == 1)
    hr_gate = F.col("__h")["hr"] == F.date_trunc("hour", F.col("time"))
    day_gate = F.col("__d")["day"] == F.to_date("time")
    return out.select(
        *fact_cols,
        F.when(hr_gate, F.col("__h")["ih"]).alias("intensity_hour"),
        F.when(hr_gate, F.col("__h")["nh"]).alias("n_hour_rows"),
        F.when(day_gate, F.col("__d")["st"]).alias("silo_temperature"),
        F.when(day_gate, F.col("__d")["sh"]).alias("silo_humidity"),
        F.col("__bw").alias("intensity_bw"),
        F.col("__fw").alias("intensity_fw"),
    )


def _finish_level1(flagged: DataFrame) -> DataFrame:
    """Shared level1 tail: first-row/duplicate drop + flag ladder over
    a frame carrying ``prev_count`` and ``is_duplicate``
    (cosmoz_process_levels.py:389-429)."""
    kept = flagged.where(
        F.col("prev_count").isNotNull() & ~F.col("is_duplicate")
    )
    return kept.select(
        "time",
        "site_no",
        physics.level1_flag(
            F.col("battery"), F.col("count"), F.col("prev_count"), F.col("flag")
        ).alias("flag"),
        *LEVEL1_FIELDS,
    )


def raw_to_level1_scan_local(spark, sink_path: str) -> DataFrame:
    """raw→level1 over a layout-contracted raw SINK (time-sorted
    site-tiled parquet, operators/scan_local.py) — row-for-row what
    ``raw_to_level1(spark.read.parquet(sink_path))`` computes, with
    both wide sequence exchanges (prev_count lag + 29-min duplicate
    window, 73 of level1's 77 s at x1000 per LEVEL1_STAGES.json)
    replaced by per-file scan-local passes and a per-(site, file)
    boundary stitch. The storage-backed at-scale path: the deployed
    pipeline always reads raw from the sink, whose writer already
    guarantees the layout.

    ADOPTED round 14 (LEVEL1_SCANLOCAL_AB.json, interleaved x1000,
    two sessions, identity pinned at 86.8M rows): won 5 of 6
    interleaved pairs (best-of-all 33.3 vs 56.2 s) and — the
    drift-proof column on a night of flagged io-drift windows —
    ships 0.3 MB of shuffle against the window shapes' 13.13 GB
    (~40,000x), zero spill both. Small corpora keep ``raw_to_level1``
    (the x100 cell has the joined shape faster; this entry point is
    storage-layout-gated by construction). Strict oracle parity is
    pinned by the ``level1_scan_local`` registry view at sf0.01 and
    sf0.1, boundary/tie/collision semantics by
    tests/test_scan_local.py."""
    from ..operators.scan_local import scan_local_raw_flags

    flagged = scan_local_raw_flags(spark, sink_path, RAW_PAYLOAD)
    return _finish_level1(flagged)


def raw_to_level1(raw: DataFrame) -> DataFrame:
    """raw_values → level1: 29-min exact-duplicate drop, first-row
    skip, ±20 % count-jump / low-battery flag ladder
    (cosmoz_process_levels.py:340-429; raw->level1.sql:88-96).

    Duplicate rule: a row is dropped iff an identical-payload row of
    the same site exists in [t−29 min, t) — including rows that are
    themselves duplicates (:376 indexes the FULL raw series). Because
    payload equality is required, partitioning by (site_no, payload)
    turns the reference's range self-join into a lag(): one shuffle,
    no join, no skew (identical-payload groups are tiny).

    prev_count comes from DIFFERENCE() over the unfiltered series
    (:357-360, :389 — duplicates still consume their diff), i.e. a
    plain lag over raw order including duplicate rows.
    """
    bucketed = (
        _bucketed_auto(raw) if LEVEL1_SEQ_BUCKETED is None else LEVEL1_SEQ_BUCKETED
    )
    if bucketed:
        # scale shape (LEVEL1_SEQ_BUCKETED): identical prev_count
        # series through balanced (site, week) groups + boundary
        # exchange instead of the 8-task per-site sort
        with_prev = bucketed_lag(raw, ["site_no"], "time", ["count"], ["prev_count"])
    else:
        seq = Window.partitionBy("site_no").orderBy("time")
        with_prev = raw.withColumn("prev_count", F.lag("count").over(seq))
    dupw_hash = (
        _bucketed_auto(raw) if LEVEL1_DUPW_HASH is None else LEVEL1_DUPW_HASH
    )
    if dupw_hash:
        # hash-prefixed duplicate window (see LEVEL1_DUPW_HASH): same
        # groups, same lag series, exact equality — only the physical
        # sort-key layout changes
        pay = F.struct(*[F.col(c) for c in RAW_PAYLOAD])
        dupw = Window.partitionBy(
            F.xxhash64("site_no", *RAW_PAYLOAD), "site_no"
        ).orderBy(pay, "time")
        prev_pay = F.lag(pay).over(dupw)
        flagged = with_prev.withColumn(
            "prev_same_payload_time",
            F.when(prev_pay.eqNullSafe(pay), F.lag("time").over(dupw)),
        ).withColumn(
            "is_duplicate",
            F.col("prev_same_payload_time").isNotNull()
            & (
                F.col("prev_same_payload_time")
                >= F.col("time") - F.expr("INTERVAL 29 MINUTE")
            ),
        )
    else:
        dupw = Window.partitionBy("site_no", *RAW_PAYLOAD).orderBy("time")
        flagged = with_prev.withColumn(
            "prev_same_payload_time", F.lag("time").over(dupw)
        ).withColumn(
            "is_duplicate",
            F.col("prev_same_payload_time").isNotNull()
            & (F.col("prev_same_payload_time") >= F.col("time") - F.expr("INTERVAL 29 MINUTE")),
        )
    return _finish_level1(flagged)


def level1_to_level2(
    level1: DataFrame,
    intensity: DataFrame,
    silo_data: DataFrame,
    all_stations: DataFrame,
    scale_hint: bool | None = None,
) -> DataFrame:
    """level1 → level2: pressure / water-vapour / intensity corrections
    (cosmoz_process_levels.py:171-314; level1->level2.sql).

    The reference's per-row lookups become set joins:
    - SILO day row: LAST(*) within [00:00, 11:59:59.999999] of the
      reading's UTC date (:201-216 — the noon quirk is deliberate) →
      groupBy (site, date) arg-max pick + one equi-join;
    - intensity exact-hour match: earliest intensity row in the
      reading's hour (:251-257 takes intensities[0]) → groupBy (site,
      hour) min_by pick + one equi-join;
    - backward/forward as-of fallbacks (:263-274) → union+window
      as-of joins (operators/asof.py), composed with coalesce in the
      reference's priority order;
    - station constants (:181, :195, :283-287) → broadcast hash join.
    """
    stations = F.broadcast(
        all_stations.select(
            "site_no", "beta", "ref_pressure", "ref_intensity", "latit_scaling", "elev_scaling"
        )
    )
    int_slim = intensity.select("site_no", "time", "intensity")

    hourly = int_slim.groupBy(
        "site_no", F.date_trunc("hour", "time").alias("hr")
    ).agg(
        F.min_by("intensity", "time").alias("intensity_hour"),
        # "an hour row existed" marker: non-null after the left join iff
        # the hour matched, even when that row's intensity is NULL
        F.count(F.lit(1)).alias("n_hour_rows"),
    )

    silo_pick = (
        silo_data.where(F.hour("time") < 12)
        .groupBy("site_no", F.to_date("time").alias("day"))
        .agg(
            F.max_by("average_temperature", "time").alias("silo_temperature"),
            F.max_by("average_humidity", "time").alias("silo_humidity"),
        )
    )

    if LEVEL2_FUSED_TEMPORAL is not None:
        fused = LEVEL2_FUSED_TEMPORAL
    elif scale_hint is not None:
        # explicit corpus-scale hint for fact frames without file
        # lineage (scan-local level1 — see _fused_temporal_attach)
        fused = scale_hint
    else:
        fused = _bucketed_auto(level1)
    if fused:
        # scale shape (LEVEL2_FUSED_TEMPORAL): all four temporal
        # attachments in ONE (site, week-bucket) shuffle instead of
        # two wide-fact grain-join exchanges + the as-of union
        enriched = _fused_temporal_attach(
            level1, int_slim, hourly, silo_pick, scale_hint=scale_hint
        )
    else:
        enriched = (
            level1.withColumn("hr", F.date_trunc("hour", "time"))
            .withColumn("day", F.to_date("time"))
            .join(hourly, ["site_no", "hr"], "left")
            .join(silo_pick, ["site_no", "day"], "left")
        )
        # both as-of directions in ONE union+shuffle+sort; the forward
        # side's tie-blindness is safe behind the backward coalesce
        enriched = asof_join_both(
            enriched, int_slim, on=["site_no"], left_time="time", right_time="time",
            values=["intensity"], backward_suffix="_bw", forward_suffix="_fw",
        )
    enriched = enriched.join(stations, "site_no")

    # SILO values participate only when the lookup would have fired
    silo_cond = (F.col("external_temperature") == 0) | (F.col("external_humidity") == 0)
    silo_t = F.when(silo_cond, F.col("silo_temperature"))
    silo_h = F.when(silo_cond, F.col("silo_humidity"))

    # The reference STOPS at an hour match (intensities[0],
    # cosmoz_process_levels.py:251-257): a matched hour whose row
    # carries NULL intensity must yield corr = 1.0, NOT fall through to
    # the as-of fallbacks — gate on "hour row existed", not on the
    # value (ADVICE r1/r2 latent-divergence fix; unreachable in the
    # test corpus, mirrored in oracles.py l2_masked).
    use_intensity = F.when(
        F.col("n_hour_rows").isNotNull(), F.col("intensity_hour")
    ).otherwise(F.coalesce("intensity_bw", "intensity_fw"))
    wv = physics.wv_corr(
        F.col("external_temperature"), F.col("external_humidity"), silo_t, silo_h
    )
    press = physics.press_corr(
        F.col("pressure1"), F.col("pressure2"), F.col("beta"), F.col("ref_pressure")
    )
    icorr = physics.intensity_corr(use_intensity, F.col("ref_intensity"))

    return enriched.select(
        "time",
        "site_no",
        "flag",  # level1 flag passthrough (:302)
        "count",
        press.alias("press_corr"),
        wv.alias("wv_corr"),
        icorr.alias("intensity_corr"),
        physics.corr_count(
            F.col("count"), wv, press, icorr, F.col("latit_scaling"), F.col("elev_scaling")
        ).alias("corr_count"),
        "rain",  # carried through per deployed Python (:311)
    )


def level2_to_level3(level2: DataFrame, all_stations: DataFrame) -> DataFrame:
    """level2 → level3: soil moisture, effective depth, rainfall +
    QC flag ladder (cosmoz_process_levels.py:96-168)."""
    stations = F.broadcast(
        all_stations.select(
            "site_no",
            "n0_cal",
            "bulk_density",
            (F.col("lattice_water_g_g") + F.col("soil_organic_matter_g_g")).alias("lat_org_sum"),
            (F.coalesce(F.col("alternate_algorithm") == "sandy", F.lit(False))).alias("sandy"),
        )
    )
    j = level2.join(stations, "site_no")
    moist = physics.corrected_moist(
        F.col("corr_count"), F.col("n0_cal"), F.col("lat_org_sum"),
        F.col("bulk_density"), F.col("sandy"),
    )
    return j.select(
        "time",
        "site_no",
        physics.level3_flag(
            F.col("wv_corr"), F.col("corr_count"), F.col("n0_cal"), F.col("flag"), F.col("sandy")
        ).alias("flag"),
        physics.soil_moist(moist).alias("soil_moist"),
        physics.effective_depth(moist, F.col("lat_org_sum"), F.col("bulk_density")).alias(
            "effective_depth"
        ),
        physics.rainfall(F.col("rain")).alias("rainfall"),
    )


def level3_to_level4(
    level3: DataFrame,
    all_stations: DataFrame | None = None,
    spec_mode: bool = False,
) -> DataFrame:
    """level3 → level4: centered ±(3 h + 1 s) moving average over
    valid rows, capped at the first 7 (cosmoz_process_levels.py:42-93;
    level3->level4.sql:40-61).

    Input = flag 0 rows only (:53); the averaging window sees the same
    filtered set (:68). The reference's per-row subquery with LIMIT 7
    becomes a range-frame collect_list + slice: frame contents arrive
    time-ordered, so slice(…, 1, 7) reproduces InfluxQL's LIMIT 7, and
    a sequential fold reproduces its MEAN exactly. When the window is
    somehow empty the row's own value is used (:71-77).

    ``spec_mode`` restores the SQL view's installation-date filter
    (level3->level4.sql:63-64, ``Timestamp >= InstallationDate``)
    that the deployed Python omits (SURVEY §7.3): output rows before
    the site's installation are dropped via a broadcast dimension
    join. The averaging window still sees all flag-0 rows — the SQL
    UDFs query Level3View, which has no installation filter
    (level3->level4.sql:51-61).
    """
    valid = level3.where(F.col("flag") == 0)
    secs = F.col("time").cast("long")
    frame = Window.partitionBy("site_no").orderBy(secs).rangeBetween(-10801, 10801)
    # one window aggregate per column: materialize the capped frame
    # array ONCE, then fold over the column reference — an expression
    # that inlines slice(collect_list(...)) at each use point would run
    # the window aggregate 3× per column
    windowed = valid.select(
        "time",
        "site_no",
        "soil_moist",
        "effective_depth",
        "rainfall",
        F.slice(F.collect_list("soil_moist").over(frame), 1, 7).alias("_sm_l"),
        F.slice(F.collect_list("effective_depth").over(frame), 1, 7).alias("_ed_l"),
    )

    def fold_mean(arr: str, own: str) -> F.Column:
        total = F.aggregate(F.col(arr), F.lit(0.0), lambda acc, x: acc + x)
        return (
            F.when(F.size(arr) > 0, total / F.size(arr)).otherwise(F.col(own))
        )

    out = windowed.select(
        "time",
        "site_no",
        "soil_moist",
        "effective_depth",
        "rainfall",
        fold_mean("_sm_l", "soil_moist").alias("soil_moist_filtered"),
        fold_mean("_ed_l", "effective_depth").alias("depth_filtered"),
    )
    if spec_mode:
        if all_stations is None:
            raise ValueError("spec_mode requires all_stations")
        inst = F.broadcast(all_stations.select("site_no", "installation_date"))
        out = (
            out.join(inst, "site_no")
            .where(F.col("time") >= F.col("installation_date"))
            .drop("installation_date")
        )
    return out


def run_pipeline(
    raw: DataFrame,
    intensity: DataFrame,
    silo_data: DataFrame,
    all_stations: DataFrame,
    spec_mode: bool = False,
) -> dict[str, DataFrame]:
    """Full four-level pipeline as one lazily-composed logical plan."""
    l1 = raw_to_level1(raw)
    l2 = level1_to_level2(l1, intensity, silo_data, all_stations)
    l3 = level2_to_level3(l2, all_stations)
    l4 = level3_to_level4(l3, all_stations, spec_mode=spec_mode)
    return {"level1": l1, "level2": l2, "level3": l3, "level4": l4}


def run_pipeline_scan_local(
    spark,
    sink_path: str,
    intensity: DataFrame,
    silo_data: DataFrame,
    all_stations: DataFrame,
    spec_mode: bool = False,
) -> dict[str, DataFrame]:
    """Full pipeline over a layout-contracted raw SINK (round 15,
    VERDICT r14 task 1): the level1 prefix runs the adopted scan-local
    shape (zero wide sequence shuffles, LEVEL1_SCANLOCAL_AB /
    LEVEL1_ZONERG_AB), and levels 2-4 are the unchanged transforms.
    Because the scan-local level1 enters through per-file kernels over
    ``spark.range`` — no file lineage for ``bucketed_auto`` to size —
    level2's scale gate (the only corpus-gated shape downstream of
    level1) takes an explicit hint derived from the sink's own bytes,
    the same 512 MiB crossover the file-backed gate uses, so level2
    engages exactly the shape it would over a file-backed level1 of
    the same corpus. Levels 3 and 4 have a single plan shape."""
    from ..operators.bucketed_window import BUCKETED_MIN_INPUT_BYTES
    from ..session import _path_bytes

    big = _path_bytes(sink_path, spark) >= BUCKETED_MIN_INPUT_BYTES
    l1 = raw_to_level1_scan_local(spark, sink_path)
    l2 = level1_to_level2(
        l1, intensity, silo_data, all_stations, scale_hint=big
    )
    l3 = level2_to_level3(l2, all_stations)
    l4 = level3_to_level4(l3, all_stations, spec_mode=spec_mode)
    return {"level1": l1, "level2": l2, "level3": l3, "level4": l4}
