"""The hash-prefixed duplicate window (levels.LEVEL1_DUPW_HASH) is a
physical sort-key layout change: partitionBy(xxhash64(payload),
site_no) + orderBy(payload struct, time) + null-safe struct equality
on the lagged row must produce exactly the rows the composite-key
window (partitionBy(site_no, *payload) + orderBy(time)) produces —
identical payloads stay contiguous inside the hash partition, a
different-payload neighbor means first-of-group in BOTH layouts, and
collisions are separated by the struct sort and fail the equality.
"""

from __future__ import annotations

import datetime as dt
import itertools

import pytest
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain
from cosmoz_data_pipeline_spark.operators.bucketed_window import BUCKET_SECS


@pytest.fixture()
def dupw_hash():
    shipped = levels.LEVEL1_DUPW_HASH

    def _set(on: bool):
        levels.LEVEL1_DUPW_HASH = on

    yield _set
    levels.LEVEL1_DUPW_HASH = shipped


@pytest.fixture()
def seq_bucketed():
    shipped = levels.LEVEL1_SEQ_BUCKETED

    def _set(on: bool):
        levels.LEVEL1_SEQ_BUCKETED = on

    yield _set
    levels.LEVEL1_SEQ_BUCKETED = shipped


def _l1_rows(spark, raw):
    out = levels.raw_to_level1(raw)
    return sorted(
        (tuple(r) for r in out.select(*sorted(out.columns)).collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_identical_on_domain_corpus(spark, sf_dir, dupw_hash, seq_bucketed):
    raw = load_domain(spark, sf_dir)["raw_values"]
    seq_bucketed(False)
    dupw_hash(False)
    base = _l1_rows(spark, raw)
    assert base
    dupw_hash(True)
    assert _l1_rows(spark, raw) == base
    # and the at-scale shape: bucketed lag + hash window together
    seq_bucketed(True)
    assert _l1_rows(spark, raw) == base


def test_identical_with_null_payload_fields(spark, dupw_hash):
    # the synthetic domain has no null payload values, but the
    # reference's raw feed can — null-safe equality must group nulls
    # exactly like window PARTITION BY does (null == null for grouping)
    t0 = dt.datetime(2021, 1, 1)

    def row(i, minutes, count, battery, rain):
        return {
            "time": t0 + dt.timedelta(minutes=minutes),
            "site_no": 1,
            "flag": 0,
            "count": count,
            "pressure1": 950.0,
            "internal_temperature": None,  # null payload field
            "internal_humidity": 30.0,
            "battery": battery,
            "tube_temperature": 15.0,
            "tube_humidity": 20.0,
            "rain": rain,
            "vwc1": 1.0,
            "vwc2": 2.0,
            "vwc3": 3.0,
            "pressure2": 948.0,
            "external_temperature": 5.0,
            "external_humidity": 20.0,
        }

    rows = [
        row(0, 0, 1200, 12.0, 0.0),
        row(1, 10, 1200, 12.0, 0.0),   # identical payload, 10 min later: dup
        row(2, 45, 1200, 12.0, 0.0),   # identical payload, 35 min after prev: kept
        row(3, 50, 1200, 12.0, 1.0),   # different rain: not a dup
        row(4, 55, 1200, None, 0.0),   # null battery group, first: not a dup
        row(5, 60, 1200, None, 0.0),   # same null battery, 5 min: dup
    ]
    schema = (
        "time timestamp, site_no int, flag int, count bigint, "
        "pressure1 double, internal_temperature double, "
        "internal_humidity double, battery double, "
        "tube_temperature double, tube_humidity double, rain double, "
        "vwc1 double, vwc2 double, vwc3 double, pressure2 double, "
        "external_temperature double, external_humidity double"
    )
    raw = spark.createDataFrame(rows, schema)
    dupw_hash(False)
    base = _l1_rows(spark, raw)
    dupw_hash(True)
    hashed = _l1_rows(spark, raw)
    assert hashed == base
    # and pin the expected semantics, not just cross-variant identity:
    # minute 0 dropped (null prev_count), minute 10 dropped (29-min dup
    # of 0), minute 45 kept (35 min past its last identical row),
    # minute 50 kept (different rain), minute 55 kept (first of the
    # null-battery group), minute 60 dropped (5-min dup of 55)
    time_idx = sorted(levels.raw_to_level1(raw).columns).index("time")
    assert sorted(t[time_idx].minute for t in base) == [45, 50, 55]


def test_bucket_edges_and_chains(spark, dupw_hash, seq_bucketed):
    """Adversarial grid under every LEVEL1_SEQ_BUCKETED x
    LEVEL1_DUPW_HASH shape: duplicates straddling a week-bucket edge
    in both directions, a >29-min same-payload pair, an equal-payload
    chain, an equal-time pair, and a same-count row that differs in
    another payload field."""
    b = 3 * BUCKET_SECS  # an arbitrary bucket boundary (epoch secs)
    rows = []

    def add(t, site, count, battery=12.0, tag=1.0):
        rows.append((t, site, 0, count, battery, tag))

    # same-payload pair straddling the boundary, 20 min apart -> dup
    add(b - 600, 1, 1500), add(b + 600, 1, 1500)
    # same payload, 40 min apart across the boundary -> kept
    add(b - 1200, 2, 1600), add(b + 1200, 2, 1600)
    # row just BEFORE the boundary whose duplicate is after it
    add(b - 60, 3, 1700), add(b + 900, 3, 1700)
    # in-bucket chain: t, +20m, +40m (each consecutive gap <=29m)
    add(b + 7200, 4, 1800), add(b + 8400, 4, 1800), add(b + 9600, 4, 1800)
    # equal-time same-payload pair
    add(b + 20000, 5, 1900), add(b + 20000, 5, 1900)
    # same count, different battery -> NOT a duplicate
    add(b + 30000, 6, 2000, battery=11.0), add(b + 31200, 6, 2000, battery=12.5)
    # sequence context rows so prev_count is non-null for the cases
    for t, s in ((b - 3000, 1), (b - 3600, 2), (b - 2400, 3), (b + 6000, 4),
                 (b + 18000, 5), (b + 28000, 6)):
        add(t, s, 1000 + s)

    raw = spark.createDataFrame(
        rows, "secs long, site_no int, flag int, count long, battery double, vwc1 double"
    ).select(
        F.col("secs").cast("timestamp").alias("time"),
        "site_no",
        "flag",
        "count",
        F.lit(950.0).alias("pressure1"),
        F.lit(21.0).alias("internal_temperature"),
        F.lit(31.0).alias("internal_humidity"),
        "battery",
        F.lit(16.0).alias("tube_temperature"),
        F.lit(21.0).alias("tube_humidity"),
        F.lit(0.0).alias("rain"),
        "vwc1",
        F.lit(1.0).alias("vwc2"),
        F.lit(1.0).alias("vwc3"),
        F.lit(949.0).alias("pressure2"),
        F.lit(10.0).alias("external_temperature"),
        F.lit(50.0).alias("external_humidity"),
    )

    base = None
    for seq, hashed in itertools.product((False, True), repeat=2):
        seq_bucketed(seq)
        dupw_hash(hashed)
        got = _l1_rows(spark, raw)
        if base is None:
            base = got
        assert got == base, (seq, hashed)
        # the specific kept/dropped (site, epoch-sec) outcomes, not
        # just "something dropped"
        kept = [
            (r["s"], r["t"])
            for r in levels.raw_to_level1(raw)
            .select(F.col("site_no").alias("s"), F.unix_timestamp("time").alias("t"))
            .collect()
        ]
        kept_set = set(kept)
        assert len(kept) == len(kept_set)  # equal-time dup pair collapsed
        # 20-min straddler: first kept, duplicate dropped
        assert (1, b - 600) in kept_set and (1, b + 600) not in kept_set
        # 40-min same-payload pair: both kept (outside the 29-min window)
        assert (2, b - 1200) in kept_set and (2, b + 1200) in kept_set
        # 16-min straddler: duplicate after the boundary dropped
        assert (3, b - 60) in kept_set and (3, b + 900) not in kept_set
        # chain reduced to its head
        assert (4, b + 7200) in kept_set
        assert (4, b + 8400) not in kept_set and (4, b + 9600) not in kept_set
        # equal-time pair: exactly one survivor
        assert (5, b + 20000) in kept_set
        # same count but different battery: NOT duplicates, both kept
        assert (6, b + 30000) in kept_set and (6, b + 31200) in kept_set
