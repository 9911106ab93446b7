"""As-of (nearest-event temporal) join kit — SURVEY §2.3 J5/J6.

The reference implements these as per-row correlated InfluxQL queries
(`SELECT LAST(...) WHERE time <= t` fallback `SELECT FIRST(...) WHERE
time >= t`, /root/reference/pipeline/cosmoz_process_levels.py:263-274;
SQL spec /root/reference/pipeline/level1->level2.sql:113-124) — an
N+1 pattern. Here it is a single distributed plan:

    union(left-probe rows, right-value rows)
      → one shuffle on the key
      → last(value, ignorenulls) over an ordered window
      → keep probe rows

Scale properties: exactly ONE shuffle (by join key), no broadcast of
the big side, no range explosion; the window is computed sort-merge
style within each key partition, and AQE splits skewed keys. This is
the standard log-structured as-of technique (same shape Flink/
QuestDB/kdb use) expressed in pure DataFrame ops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SRC = "__asof_src"
_ORD = "__asof_ord"
_BKT = "__asof_bkt"

# Round-10 scale shape (the level2 as-of was the remaining per-site
# spill after the level1 window was bucketed: the union's
# partitionBy(site_no) running-last sorts ~12.5M wide rows per task
# at x1000). Bucketed variant: the SAME union, windowed within
# (key, week-bucket) — balanced hash groups — plus a per-bucket tail
# carry: each bucket's last (backward) / first (forward) non-null
# value row is aggregated map-side, chained through a running
# last(ignorenulls) over the TINY per-bucket table (earlier buckets
# for backward, later for forward), broadcast-joined back, and
# coalesced behind the in-bucket running last. Per-column independent
# carry matches last(col, ignorenulls)'s per-column semantics; ties
# at equal time stay INSIDE one bucket (same floor), so the scan-order
# tie rules are untouched. Identity pinned by
# tests/test_bucketed_window.py (domain corpus + sparse/null/empty-
# bucket synthetics). None = auto (bucketed_window.bucketed_auto).
# ADOPTED round 10 on the interleaved x1000 A/B (LEVEL_ASOF_AB.json,
# --asof-only: seq bucketing held on, frame at its shipped plain
# default; bucketed won both interleaved repeats of both stages):
# level2 prefix 107.4 s -> 89.6 s (1.20x), full level4 111.9 s ->
# 100.5 s (1.11x) with the pipeline's LAST remaining x1000 spill
# retired (13.1 GiB mem + 3.6 GiB disk -> zero).
#
# That adoption governs the UNION as-of (asof_join_both) only — its
# key is site_no, 8 values, the per-key sort no partition count can
# split. The single-direction asof_join runs on user-grained keys
# (j05/j06: ~thousands of users), where partitionBy(key) is already
# balanced; the bucketed shape lost there (ASOF_SINGLE_AB.json).
ASOF_BUCKETED: bool | None = None


def _asof_bucketed(df) -> bool:
    from .bucketed_window import bucketed_auto

    return bucketed_auto(df) if ASOF_BUCKETED is None else ASOF_BUCKETED


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    values: Sequence[str],
    direction: str = "backward",
    suffix: str = "_asof",
    strict: bool = False,
) -> DataFrame:
    """Attach to each ``left`` row the ``values`` of the nearest
    ``right`` row per key group.

    direction='backward': latest right row with rt <= lt (rt < lt when
    ``strict``); direction='forward': earliest right row with rt >= lt
    (rt > lt when ``strict``). Output = all left columns +
    ``<value><suffix>`` columns (NULL when no match).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    on = list(on)
    values = list(values)
    out_cols = [v + suffix for v in values]

    # probe rows carry their full payload; value rows carry only values
    left_cols = left.columns
    lhs = left.select(
        *left_cols,
        F.col(left_time).alias(_ORD),
        F.lit(1).alias(_SRC),
        *[F.lit(None).cast(right.schema[v].dataType).alias(c) for v, c in zip(values, out_cols)],
    )
    rhs = right.select(
        *[
            (F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in left_cols
        ],
        F.col(right_time).alias(_ORD),
        F.lit(0).alias(_SRC),
        *[F.col(v).alias(c) for v, c in zip(values, out_cols)],
    )

    unioned = lhs.unionByName(rhs)

    # Both directions run as a GROWING frame ([unboundedPreceding,
    # currentRow]) with last(ignorenulls) — a running O(1)-per-row
    # aggregate. The forward direction reverses the sort instead of
    # using [currentRow, unboundedFollowing]: Spark's unbounded-
    # FOLLOWING frame re-evaluates the aggregate from scratch per row
    # (O(n²) per key — measured 6.5 s vs 0.8 s on the level2 join).
    if direction == "backward":
        # ties: value rows sort before probe rows so rt == lt is
        # visible (non-strict); strict reverses the tie order
        order = [F.col(_ORD).asc(), F.col(_SRC).asc() if not strict else F.col(_SRC).desc()]
    else:
        # reversed scan: "earliest rt >= lt" == "latest in desc order";
        # at equal time value rows must come first in scan order for
        # non-strict (visible), after the probe for strict (hidden)
        order = [F.col(_ORD).desc(), F.col(_SRC).asc() if not strict else F.col(_SRC).desc()]

    frame = Window.partitionBy(*on).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    picked = [F.last(c, ignorenulls=True).over(frame).alias(c) for c in out_cols]

    resolved = unioned.select(*left_cols, _ORD, _SRC, *picked)
    return resolved.where(F.col(_SRC) == 1).drop(_ORD, _SRC)


def asof_join_both(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    values: Sequence[str],
    backward_suffix: str = "_bw",
    forward_suffix: str = "_fw",
) -> DataFrame:
    """Backward AND forward as-of in ONE union + ONE shuffle: two
    running-window passes (forward = backward over the reversed sort)
    sharing the same hash partitioning, so the plan has a single
    Exchange and two Sorts. Each pass is a growing-frame
    last(ignorenulls) — O(n log n) per key; the naive
    unbounded-FOLLOWING frame for the forward side would be O(n²)
    (Spark re-evaluates that frame per row).

    Tie semantics: the backward side sees rt == lt matches
    (non-strict) while the forward side does NOT. That is exactly
    right for the reference's fallback chain — the forward lookup only
    fires when the backward one found nothing
    (/root/reference/pipeline/cosmoz_process_levels.py:263-274,
    level1->level2.sql:113-124), and an equal-time row would have been
    caught backward. For standalone forward semantics use asof_join.
    """
    on = list(on)
    values = list(values)
    bw_cols = [v + backward_suffix for v in values]
    fw_cols = [v + forward_suffix for v in values]

    left_cols = left.columns
    lhs = left.select(
        *left_cols,
        F.col(left_time).alias(_ORD),
        F.lit(1).alias(_SRC),
        *[F.lit(None).cast(right.schema[v].dataType).alias(v + "__v") for v in values],
    )
    rhs = right.select(
        *[
            (F.col(c) if c in on else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in left_cols
        ],
        F.col(right_time).alias(_ORD),
        F.lit(0).alias(_SRC),
        *[F.col(v).alias(v + "__v") for v in values],
    )
    unioned = lhs.unionByName(rhs)

    if _asof_bucketed(unioned):
        # scale shape (ASOF_BUCKETED): identical picks through
        # (key, week-bucket) groups + per-bucket tail carry
        from .bucketed_window import BUCKET_SECS

        u = unioned.withColumn(
            _BKT, F.floor(F.col(_ORD).cast("long") / F.lit(BUCKET_SECS)).cast("long")
        )
        bw_in = (
            Window.partitionBy(*on, _BKT)
            .orderBy(F.col(_ORD).asc(), F.col(_SRC).asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # tie-blind forward, same scan order as the plain frame below
        fw_in = (
            Window.partitionBy(*on, _BKT)
            .orderBy(F.col(_ORD).desc(), F.col(_SRC).desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # per-bucket tails: latest (bw) / earliest (fw) non-null value
        # per column — probe rows carry null v__v and never contribute;
        # the null ordering key makes max_by/min_by skip a row exactly
        # when last(ignorenulls) would
        nn = lambda v: F.when(F.col(v + "__v").isNotNull(), F.col(_ORD))  # noqa: E731
        tails = u.groupBy(*on, _BKT).agg(
            *[F.max_by(v + "__v", nn(v)).alias(f"__tl_bw_{v}") for v in values],
            *[F.min_by(v + "__v", nn(v)).alias(f"__tl_fw_{v}") for v in values],
        )
        # carry: the nearest non-null tail among STRICTLY earlier
        # (bw) / later (fw) buckets — a window over the tiny
        # one-row-per-(key, week) table
        w_bw = (
            Window.partitionBy(*on)
            .orderBy(F.col(_BKT).asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_fw = (
            Window.partitionBy(*on)
            .orderBy(F.col(_BKT).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carries = tails.select(
            *on,
            _BKT,
            *[
                F.last(f"__tl_bw_{v}", ignorenulls=True).over(w_bw).alias(f"__cr_bw_{v}")
                for v in values
            ],
            *[
                F.last(f"__tl_fw_{v}", ignorenulls=True).over(w_fw).alias(f"__cr_fw_{v}")
                for v in values
            ],
        )
        picked_in = [
            F.last(v + "__v", ignorenulls=True).over(bw_in).alias(f"__in_bw_{v}")
            for v in values
        ] + [
            F.last(v + "__v", ignorenulls=True).over(fw_in).alias(f"__in_fw_{v}")
            for v in values
        ]
        resolved = (
            u.select(*left_cols, _ORD, _SRC, _BKT, *picked_in)
            .join(F.broadcast(carries), [*on, _BKT], "left")
            .select(
                *left_cols,
                _SRC,
                *[
                    F.coalesce(f"__in_bw_{v}", f"__cr_bw_{v}").alias(c)
                    for v, c in zip(values, bw_cols)
                ],
                *[
                    F.coalesce(f"__in_fw_{v}", f"__cr_fw_{v}").alias(c)
                    for v, c in zip(values, fw_cols)
                ],
            )
        )
        return resolved.where(F.col(_SRC) == 1).drop(_SRC)

    bw_frame = (
        Window.partitionBy(*on)
        .orderBy(F.col(_ORD).asc(), F.col(_SRC).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # tie-blind forward: at equal time the probe row scans BEFORE the
    # value row (src desc in desc order), hiding rt == lt matches
    fw_frame = (
        Window.partitionBy(*on)
        .orderBy(F.col(_ORD).desc(), F.col(_SRC).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = [
        F.last(v + "__v", ignorenulls=True).over(bw_frame).alias(c)
        for v, c in zip(values, bw_cols)
    ] + [
        F.last(v + "__v", ignorenulls=True).over(fw_frame).alias(c)
        for v, c in zip(values, fw_cols)
    ]
    resolved = unioned.select(*left_cols, _ORD, _SRC, *picked)
    return resolved.where(F.col(_SRC) == 1).drop(_ORD, _SRC)
