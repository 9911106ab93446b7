"""Streaming stateful validity (ST5's applyInPandasWithState form):
per-key state must carry across micro-batch boundaries and reproduce
the batch operator exactly."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from cosmoz_data_pipeline_spark.sources.tables import load_table
from cosmoz_data_pipeline_spark.streaming.stateful import (
    validate_sequential,
    validate_sequential_stream,
)


def test_stream_state_carries_across_microbatches(spark, sf_dir, tmp_path):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "value")
        .where(F.col("user_id") <= 20)
    )
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    # sentinel key 999: its post-cut row (500 vs last_valid 100, gap
    # < 24 h) is INVALID only if the pre-cut state survived the
    # micro-batch boundary — a state reset would re-validate it and
    # diverge from the batch operator
    import datetime as dt

    sentinel = spark.createDataFrame(
        [
            (999, cut - dt.timedelta(hours=1), 100.0),
            (999, cut + dt.timedelta(hours=1), 500.0),
        ],
        "user_id long, ts timestamp_ntz, value double",
    )
    ev = ev.unionByName(sentinel)

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    # two files split at the median ts; mtimes force oldest-first order
    ev.where(F.col("ts") <= F.lit(cut)).coalesce(1).write.parquet(os.path.join(src, "a"))
    ev.where(F.col("ts") > F.lit(cut)).coalesce(1).write.parquet(os.path.join(src, "b"))
    now = time.time()
    for sub, mt in (("a", now - 100), ("b", now)):
        d = os.path.join(src, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (mt, mt))

    schema = spark.read.parquet(os.path.join(src, "a")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    validated = validate_sequential_stream(
        stream, key="user_id", time_col="ts", value_col="value"
    )
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    q = (
        validated.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.user_id, r.ts): (r.valid, round(r.last_valid, 9))
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.user_id, r.ts): (r.valid, round(r.last_valid, 9))
        for r in validate_sequential(
            ev, key="user_id", time_col="ts", value_col="value"
        ).collect()
    }
    assert len(got) == len(want) > 0
    # identical per-row decisions => the state genuinely crossed the
    # micro-batch boundary (a state reset would re-validate the first
    # post-boundary row of every key unconditionally)
    assert got == want
    # and the sentinel's post-boundary row really is the divergent case
    post = (999, cut + dt.timedelta(hours=1))
    assert want[post] == (False, 100.0)
    assert got[post] == (False, 100.0)


def test_checkpoint_resume_processes_only_new_files(spark, sf_dir, tmp_path):
    """ST2's catch-up semantics in streaming form: a second AvailableNow
    run against the same checkpoint picks up ONLY files added since the
    first run, and the validity state carries across RUNS (not just
    micro-batches) — the crash/restart story for an unbounded ingest."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows_a = [(7, base, 100.0), (7, base + dt.timedelta(hours=1), 105.0)]
    #  500 is invalid ONLY if the last_valid=105 state survived the restart
    rows_b = [(7, base + dt.timedelta(hours=2), 500.0),
              (7, base + dt.timedelta(hours=3), 110.0)]

    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    os.makedirs(src)

    def mk(rows):
        return spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")

    def run_once():
        schema = mk(rows_a).schema
        stream = spark.readStream.schema(schema).parquet(src + "/*")
        q = (
            validate_sequential_stream(stream, key="user_id", time_col="ts", value_col="value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mk(rows_a).coalesce(1).write.parquet(os.path.join(src, "a"))
    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == 2

    mk(rows_b).coalesce(1).write.parquet(os.path.join(src, "b"))
    run_once()
    got = {
        r.ts: (r.valid, r.last_valid)
        for r in spark.read.parquet(sink).collect()
    }
    assert len(got) == 4  # file a was NOT reprocessed (no duplicates)
    assert got[base + dt.timedelta(hours=2)] == (False, 105.0)  # state survived restart
    assert got[base + dt.timedelta(hours=3)] == (True, 110.0)


def test_stream_dedup_state_partitions_sized_from_bytes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 15 (ST6_STAGES/ST6_STATEPARTS_AB): the dedup stream's
    state-store partition count derives from source BYTES (one
    target-sized slice per partition, min 8), not the session's
    core-count floor; results are partition-count-invariant; and the
    session conf is restored after the stream."""
    from cosmoz_data_pipeline_spark import session
    from cosmoz_data_pipeline_spark.streaming import incremental as inc

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    src = str(tmp_path / "src")
    ev.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema

    # sizing rule (unit): tiny source → the 8-partition floor; a big
    # source → bytes-derived
    assert inc._state_partitions(spark, src) == 8
    prev_flag = inc.STREAM_STATE_PARTITIONS
    try:
        inc.STREAM_STATE_PARTITIONS = 17
        assert inc._state_partitions(spark, src) == 17
    finally:
        inc.STREAM_STATE_PARTITIONS = prev_flag
    # bytes-derived branch on the real source: a target of 1/20 of its
    # bytes gives bytes // target partitions, above the floor
    sz = session._path_bytes(src, spark)
    target = sz // 20
    monkeypatch.setattr(session, "SHUFFLE_TARGET_INPUT_BYTES", target)
    assert inc._state_partitions(spark, src) == sz // target >= 20
    # a source past cap * target clamps to SHUFFLE_PARTITIONS_CAP
    monkeypatch.setattr(
        session, "_path_bytes", lambda path, spark=None: 10**6 * target
    )
    assert inc._state_partitions(spark, src) == session.SHUFFLE_PARTITIONS_CAP
    monkeypatch.setattr(session, "SHUFFLE_PARTITIONS_CAP", 50)
    assert inc._state_partitions(spark, src) == 50
    # and a cap below the floor never shrinks the count under 8
    monkeypatch.setattr(session, "SHUFFLE_PARTITIONS_CAP", 3)
    assert inc._state_partitions(spark, src) == 8
    monkeypatch.undo()

    # end-to-end: same deduped key set at the auto count and at a
    # pinned high count, and the session conf is untouched after
    base_parts = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    for tag, pin in (("auto", None), ("pinned", 16)):
        sink, ckpt = str(tmp_path / f"sink_{tag}"), str(tmp_path / f"ckpt_{tag}")
        prev = inc.STREAM_STATE_PARTITIONS
        try:
            inc.STREAM_STATE_PARTITIONS = pin
            inc.stream_dedup_to_sink(
                spark,
                source_dir=src,
                sink_dir=sink,
                checkpoint_dir=ckpt,
                schema=schema,
                dedup_cols=["user_id", "event_type"],
                time_col="ts",
            )
        finally:
            inc.STREAM_STATE_PARTITIONS = prev
        assert spark.conf.get("spark.sql.shuffle.partitions") == base_parts
        outs.append(
            sorted(
                tuple(r)
                for r in spark.read.parquet(sink)
                .select("user_id", "event_type")
                .distinct()
                .collect()
            )
        )
    assert outs[0] == outs[1] and outs[0]
