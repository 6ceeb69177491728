"""Observability surface: in-query observe() metrics + per-stage shuffle
accounting from the status store (engine twin of the reference's worker
health metrics, ShuffleWorker.java:116-144)."""

from __future__ import annotations

from pyspark.sql import functions as F

from shuttle_spark import observability as O


def test_observed_counts_rows_for_free(spark):
    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 7)
    out, obs = O.observed(df.groupBy("k").count(), "agg_out")
    rows = out.collect()
    assert obs.get["rows"] == len(rows) == 7
    assert obs.get["content_hash"] is not None


def test_measure_captures_shuffle_bytes(spark):
    df = spark.range(0, 500_000).withColumn("k", F.col("id") % 97)
    _, m = O.measure(spark, lambda: df.groupBy("k").count().collect())
    assert m.n_stages >= 2  # map + reduce at minimum
    assert m.shuffle_write_bytes > 0
    assert m.shuffle_read_bytes > 0
    # partial aggregation means far fewer shuffled records than input rows
    assert sum(s.shuffle_write_records for s in m.stages) < 500_000


def test_measure_scopes_to_action(spark):
    df = spark.range(0, 1000)
    _, warm = O.measure(spark, lambda: df.count())
    _, m = O.measure(spark, lambda: df.count())
    # second run sees only its own stages, not cumulative history
    assert 0 < m.n_stages <= warm.n_stages + 1


def test_last_replay_records_stream_progress(spark, sf_dir):
    """run_available_now keeps the finished query's progress: per-batch
    phase durations and the state operator's commit/update time and
    watermark drops (stream_window_agg: one watermarked window agg over
    4 shuffle partitions, replayed in order)."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.contracts import REGISTRY

    REGISTRY["stream_window_agg"].build(spark, sf_dir).collect()
    rep = O.last_replay()
    assert rep is not None and rep.query_name.startswith("swa_")
    assert rep.batches and [b.batch_id for b in rep.batches] == sorted(
        b.batch_id for b in rep.batches
    )
    assert sum(b.input_rows for b in rep.batches) == load_table(spark, sf_dir, "events").count()
    for b in rep.batches:
        assert b.duration_ms["triggerExecution"] > 0 and "walCommit" in b.duration_ms
        (op,) = b.state_operators
        assert op.state_store_instances == 4
        assert op.commit_ms >= 0 and op.all_updates_ms >= 0
    assert sum(op.rows_dropped_by_watermark for b in rep.batches for op in b.state_operators) == 0
    assert rep.rows_dropped_late == 0


def test_stream_window_agg_emits_only_closed_windows(spark, sf_dir):
    """stream_window_agg selects the closed windows by the watermark
    alone: every window it returns ends at or before the watermark of the
    replay's last batch, which is the newest event time, floored to the
    ms, less 2 h.  Outside its micro-batches (which run in the query's
    own job group) building and collecting it runs no Spark job."""
    from shuttle_spark.catalog import load_table
    from shuttle_spark.contracts import REGISTRY

    sc = spark.sparkContext
    sc.setJobGroup("closed_windows", "stream_window_agg outside its batches")
    try:
        rows = REGISTRY["stream_window_agg"].build(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("closed_windows") == []
    wm = O.last_replay().batches[-1].watermark_ms
    newest_us = load_table(spark, sf_dir, "events").agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    assert wm == newest_us // 1000 - 2 * 3600 * 1000
    # w is the window start as a local datetime; every window is 1 h
    ends_ms = [round(r.w.timestamp() * 1000) + 3600 * 1000 for r in rows]
    assert ends_ms and max(ends_ms) <= wm


def test_last_replay_records_foreach_batch_replays(spark, sf_dir):
    """The foreachBatch replays leave their progress too: after
    run_upsert_sink and after stream_mv_maintenance, last_replay() names
    that query and carries its micro-batches."""
    from shuttle_spark.cache import scratch_dir
    from shuttle_spark.catalog import load_table
    from shuttle_spark.streaming import events_stream_multi, run_upsert_sink
    from shuttle_spark.streaming.core import stream_mv_maintenance

    run_upsert_sink(
        events_stream_multi(spark, sf_dir, n_files=4, files_per_trigger=2),
        scratch_dir("upsert_obs_"),
        query_name="upsert_obs",
        shuffle_partitions=4,
    )
    rep = O.last_replay()
    assert rep.query_name == "upsert_obs" and len(rep.batches) == 2
    assert sum(b.input_rows for b in rep.batches) == load_table(spark, sf_dir, "events").count()

    base = spark.createDataFrame([(1, 1, 1.0)], "k long, g long, v double")
    totals = base.groupBy("g").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("v") * 100).cast("long")).alias("sum_cents"),
    )
    ch = spark.createDataFrame(
        [("I", 2, 1, 2.0, None, None), ("D", 1, None, None, 1, 1.0)],
        "op string, k long, g long, v double, old_g long, old_v double",
    )
    stream_mv_maintenance(totals, ch, "g", "v", key_cols=["k"], n_batches=2)
    rep = O.last_replay()
    assert rep.query_name.startswith("mv_") and len(rep.batches) == 2


def test_measure_matches_full_scan_after_many_stages(spark):
    """measure reads the status store's newest-first head only; with >= 50
    stages retained it must still return exactly the stages a full scan,
    filtered by id, attributes to the action."""
    df = spark.range(0, 1000).withColumn("k", F.col("id") % 7)
    while len(O.stage_metrics(spark)) < 50:
        df.groupBy("k").count().collect()
    high = max(s.stage_id for s in O.stage_metrics(spark))
    _, m = O.measure(spark, lambda: df.groupBy("k").count().collect())
    full = [s for s in O.stage_metrics(spark) if s.stage_id > high]
    assert m.stages and m.stages == full
    assert [s.stage_id for s in m.stages] == sorted(s.stage_id for s in m.stages)


def test_measure_reports_executor_time(spark):
    """Executor CPU time is the host-noise signal (wall up, CPU flat): it
    is read for every stage and does not exceed the tasks' run time, which
    Spark records in whole milliseconds per task."""
    df = spark.range(0, 500_000).withColumn("k", F.col("id") % 97)
    _, m = O.measure(spark, lambda: df.groupBy("k").count().collect())
    tasks = sum(s.num_tasks for s in m.stages)
    assert 0 < m.executor_cpu_s <= m.executor_run_s + 1e-3 * tasks
