"""Unit tests for the as-of join kit (SURVEY §2.3 J5/J6) — the
reference's fallback-chain semantics
(/root/reference/pipeline/level1->level2.sql:113-124)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.operators.asof import asof_join, asof_join_both


def _ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2021, 1, 1, h, m)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(1)), (1, _ts(5)), (1, _ts(9)), (2, _ts(3))],
        "site int, t timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(0), 10.0), (1, _ts(5), 50.0), (1, _ts(7), 70.0), (2, _ts(4), 40.0)],
        "site int, t timestamp, v double",
    )
    return left, right


def test_backward_inclusive(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on=["site"], left_time="t", right_time="t",
        values=["v"], direction="backward", suffix="_bw",
    )
    got = {(r.site, r.t.hour): r.v_bw for r in out.collect()}
    # t=1h → last at-or-before is 0h; t=5h ties exactly → inclusive; t=9h → 7h
    assert got == {(1, 1): 10.0, (1, 5): 50.0, (1, 9): 70.0, (2, 3): None}


def test_backward_strict(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on=["site"], left_time="t", right_time="t",
        values=["v"], direction="backward", suffix="_bw", strict=True,
    )
    got = {(r.site, r.t.hour): r.v_bw for r in out.collect()}
    assert got[(1, 5)] == 10.0  # tie excluded under strict <


def test_forward_inclusive(spark):
    left, right = _frames(spark)
    out = asof_join(
        left, right, on=["site"], left_time="t", right_time="t",
        values=["v"], direction="forward", suffix="_fw",
    )
    got = {(r.site, r.t.hour): r.v_fw for r in out.collect()}
    assert got == {(1, 1): 50.0, (1, 5): 50.0, (1, 9): None, (2, 3): 40.0}


def test_single_shuffle_plan(spark):
    """The as-of join must be one shuffle (union+window), not a join."""
    left, right = _frames(spark)
    out = asof_join(
        left, right, on=["site"], left_time="t", right_time="t",
        values=["v"], direction="backward",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # no join operator anywhere
    assert plan.count("Exchange") <= 2  # union inputs share one hashpartition

def test_both_directions_fused(spark):
    """asof_join_both = backward asof_join + forward semantics, one
    shuffle; forward side is tie-blind (safe behind backward coalesce)."""
    left, right = _frames(spark)
    out = asof_join_both(
        left, right, on=["site"], left_time="t", right_time="t", values=["v"],
    )
    got = {(r.site, r.t.hour): (r.v_bw, r.v_fw) for r in out.collect()}
    assert got[(1, 1)] == (10.0, 50.0)
    assert got[(1, 9)] == (70.0, None)
    assert got[(2, 3)] == (None, 40.0)
    # the t=5h tie: backward sees it; forward is tie-blind by design,
    # and coalesce(bw, fw) still resolves to the tied value
    assert got[(1, 5)][0] == 50.0

    # AQE plan string repeats the initial plan — inspect the final only
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    # two running-window passes (forward = reversed sort) sharing ONE
    # shuffle — never an O(n²) unbounded-following frame
    assert plan.count("Window") == 2
    assert plan.count("Exchange") == 1
    assert plan.count("Sort [") == 2
    assert "Following" not in plan


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("strict", [False, True])
def test_asof_single_sparse_nulls_ties(spark, direction, strict):
    """The single-direction as-of over value rows that leave whole
    week-buckets empty, a null value mid-series (skipped, so the pick
    falls through to the next non-null row) and an rt == lt tie
    (visible unless ``strict``), checked against a brute-force pick."""
    base = dt.datetime(2021, 1, 1)
    probes = [(base + dt.timedelta(hours=6 * i), i) for i in range(120)]
    left = spark.createDataFrame(
        [("A", t, i) for t, i in probes],
        "site_no string, time timestamp, seq int",
    )
    vals = [(base + dt.timedelta(days=9 * i, hours=2),
             None if i == 3 else float(i)) for i in range(8)]
    vals.append((base + dt.timedelta(hours=6 * 40), 999.0))  # rt == lt
    right = spark.createDataFrame(
        [("A", t, v) for t, v in vals], "site_no string, time timestamp, v double"
    )

    def _pick(lt):
        if direction == "backward":
            hit = [(rt, v) for rt, v in vals
                   if v is not None and (rt < lt if strict else rt <= lt)]
            return max(hit)[1] if hit else None
        hit = [(rt, v) for rt, v in vals
               if v is not None and (rt > lt if strict else rt >= lt)]
        return min(hit)[1] if hit else None

    got = asof_join(
        left, right, on=["site_no"], left_time="time", right_time="time",
        values=["v"], direction=direction, strict=strict,
    )
    assert sorted(tuple(r) for r in got.collect()) == [
        ("A", t, i, _pick(t)) for t, i in probes
    ]
    # the tie row is visible exactly when the join is not strict
    tie = {r["seq"]: r["v_asof"] for r in got.where("seq = 40").collect()}
    assert (tie[40] == 999.0) is (not strict)
