"""Structured-Streaming operator tests (bounded runs) at sf0.001."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, compare_query

STREAMING = [
    "stream_tumble_agg",
    "stream_tumble_agg_watermarked",
    "stream_dedup_keep_last",
    "stream_topn_per_key",
    "stream_cep_error_then_purchase",
    "stream_interval_join",
    "stream_lookup_join",
    "stream_session_window",
    "stream_count_window_10",
    "stream_changelog_agg",
    "stream_temporal_join",
    "stream_cep_one_or_more",
    "stream_group_agg_update",
    "stream_over_running_agg",
    "stream_changelog_sum",
    "stream_cep_not_followed_by",
    "stream_hop_window",
    "stream_over_rows_bounded",
    "stream_temporal_sort",
    "stream_count_sliding_window",
    "stream_cep_times_consecutive",
    "stream_async_io_enrich",
    "stream_broadcast_rules_join",
    "stream_side_output_split",
    "stream_cep_next_strict",
    "stream_cep_followed_by_any",
    "stream_cep_optional_middle",
    "stream_window_cogroup",
    "stream_match_recognize_define",
    "stream_updatable_topn",
    "stream_over_range_bounded",
    "stream_window_all_agg",
    "stream_cep_times_or_more",
    "stream_purging_count_trigger",
]


def test_side_outputs_partition(spark):
    """side_outputs routes every row to exactly the outputs whose
    predicate holds (getSideOutput semantics: outputs may overlap)."""
    from flink_release_1_10_0_spark.streaming.datastream import DataStream
    df = spark.createDataFrame(
        [(1, 10.0), (2, 50.0), (3, 90.0)], "id INT, v DOUBLE")
    outs = DataStream(df).side_outputs(
        "v >= 25", low="v < 25", high="v >= 75")
    assert sorted(r.id for r in outs["main"].df.collect()) == [2, 3]
    assert sorted(r.id for r in outs["low"].df.collect()) == [1]
    assert sorted(r.id for r in outs["high"].df.collect()) == [3]


@pytest.mark.parametrize("name", STREAMING)
def test_streaming(spark, duck, name):
    compare_query(spark, duck, name)


def test_cep_multi_batch_state_carryover(spark):
    """The CEP NFA must match across micro-batch boundaries: A arrives in
    batch 1, B in batch 2 (state carries the pending A)."""
    import os
    import tempfile
    import time

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.stateful import cep_followed_by

    src = tempfile.mkdtemp(prefix="cep_src_")
    out_name = "_cep_carryover"
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"

    batch1 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "error", 1.0)],
        "event_id bigint, ts string, user_id bigint, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    batch1.write.mode("append").parquet(src)

    sdf = spark.readStream.schema(batch1.schema).option("maxFilesPerTrigger", 1).parquet(src)
    matched = cep_followed_by(sdf, "error", "purchase", within_minutes=30)
    ckpt = tempfile.mkdtemp(prefix="cep_ckpt_")
    q = (matched.writeStream.format("memory").queryName(out_name)
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        assert spark.table(out_name).count() == 0  # no B yet
        batch2 = spark.createDataFrame(
            [(2, "2024-01-01 10:10:00", 7, "purchase", 2.0)],
            "event_id bigint, ts string, user_id bigint, event_type string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        batch2.write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table(out_name).collect()
        assert [(r["first_id"], r["then_id"]) for r in rows] == [(1, 2)]
    finally:
        q.stop()


def test_pattern_builder_compiles_to_nfa_ops(spark):
    """Pattern.begin(...).followedBy(...).within(...) == the stateful op."""
    from flink_release_1_10_0_spark.queries import all_queries
    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from flink_release_1_10_0_spark.streaming.core import read_stream_table, run_to_completion

    sf = "/root/testdata/sf0.001"
    ev = read_stream_table(spark, sf, "events")
    via_pattern = run_to_completion(
        Pattern.begin("error").followed_by("purchase").within(30).match_stream(ev),
        "append")
    direct = all_queries()["stream_cep_error_then_purchase"](spark, sf)
    assert sorted(map(tuple, via_pattern.collect())) == sorted(map(tuple, direct.collect()))


def test_connected_streams_tagged_union(spark):
    """connect() interleaves both sides per key with side tags (CoProcess)."""
    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    a = DataStream(spark.createDataFrame([(1, "x")], "k bigint, a_col string"))
    b = DataStream(spark.createDataFrame([(1, 9.0)], "k bigint, b_col double"))
    tagged = a.connect(b).as_tagged_union().df
    rows = {(r["__side"], r["a_col"], r["b_col"]) for r in tagged.collect()}
    assert rows == {(0, "x", None), (1, None, 9.0)}
    assert set(tagged.columns) == {"k", "a_col", "b_col", "__side"}


def test_temporal_join_retention_matches_unbounded(spark):
    """Event-time state retention must not change results for in-order
    probes (the reference's watermark-driven version pruning)."""
    from flink_release_1_10_0_spark.streaming.core import read_stream_table, run_to_completion
    from flink_release_1_10_0_spark.streaming.stateful import temporal_join

    sf = "/root/testdata/sf0.001"
    unbounded = run_to_completion(
        temporal_join(read_stream_table(spark, sf, "events"), "error", "purchase"),
        "append")
    bounded = run_to_completion(
        temporal_join(read_stream_table(spark, sf, "events"), "error", "purchase",
                      retention_minutes=24 * 60),
        "append")
    assert sorted(map(tuple, unbounded.collect())) == sorted(map(tuple, bounded.collect()))


def test_connected_streams_co_map(spark):
    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    a = DataStream(spark.createDataFrame([(1, "x")], "k bigint, a_col string"))
    b = DataStream(spark.createDataFrame([(1, 9.0)], "k bigint, b_col double"))
    out = a.connect(b).co_map("upper(a_col)", "cast(b_col as string)",
                              "mapped", "k").df
    assert {r["mapped"] for r in out.collect()} == {"X", "9.0"}


def _two_batch_stream(spark, schema, batch1_rows, batch2_rows, op, out_name):
    """Feed two micro-batches through a stateful op (harness-test shape:
    records in, emissions out, state carried across batches)."""
    import tempfile

    from pyspark.sql import functions as F

    src = tempfile.mkdtemp(prefix="harness_src_")
    str_schema = schema.replace("ts timestamp", "ts string")

    def write(rows):
        (spark.createDataFrame(rows, str_schema)
         .withColumn("ts", F.col("ts").cast("timestamp"))
         .coalesce(1)  # one file => exactly one micro-batch per write
         .write.mode("append").parquet(src))

    write(batch1_rows)
    sdf = (spark.readStream
           .schema(schema.replace("ts string", "ts timestamp"))
           .option("maxFilesPerTrigger", 1).parquet(src))
    q = (op(sdf).writeStream.format("memory").queryName(out_name)
         .outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_")).start())
    try:
        q.processAllAvailable()
        after_b1 = [tuple(r) for r in spark.table(out_name).collect()]
        write(batch2_rows)
        q.processAllAvailable()
        after_b2 = [tuple(r) for r in spark.table(out_name).collect()]
    finally:
        q.stop()
    return after_b1, after_b2


def test_changelog_retraction_across_batches(spark):
    """Batch 1 -> +I; batch 2 -> -U(old)/+U(new): the accumulate/retract
    protocol across micro-batch boundaries."""
    from flink_release_1_10_0_spark.streaming.stateful import changelog_count

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    b1 = [(1, "2024-01-01 10:00:00", 7, "click", 1.0)]
    b2 = [(2, "2024-01-01 10:05:00", 8, "click", 1.0),
          (3, "2024-01-01 10:06:00", 9, "click", 1.0)]
    after_b1, after_b2 = _two_batch_stream(
        spark, schema, b1, b2, changelog_count, "_clog_harness")
    ops1 = [(r[0], r[2]) for r in after_b1]  # (op, cnt)
    assert ops1 == [("+I", 1)]
    ops2 = sorted((r[0], r[2]) for r in after_b2)
    assert ops2 == [("+I", 1), ("+U", 3), ("-U", 1)]


def test_temporal_join_state_across_batches(spark):
    """Version arrives in batch 1, probe in batch 2: the version table in
    state must serve the later probe."""
    from flink_release_1_10_0_spark.streaming.stateful import temporal_join

    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    b1 = [(1, "2024-01-01 10:00:00", 7, "error", 42.0)]
    b2 = [(2, "2024-01-01 11:00:00", 7, "purchase", 9.9)]
    _, after_b2 = _two_batch_stream(
        spark, schema, b1, b2,
        lambda s: temporal_join(s, "error", "purchase"), "_tj_harness")
    assert [(r[1], r[3], r[5]) for r in after_b2] == [(2, 1, 42.0)]


def test_late_data_surfaced_not_dropped(spark):
    """allowedLateness analog: a row arriving (arrival order) after the
    per-key watermark passed it by more than the allowed lateness is
    flagged to the side output — never silently dropped."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.stateful import late_data_split

    rows = [
        # (event_id, ts, arrival) — arrival order: 1, 2, 3
        (1, "2024-01-01 10:00:00", 1),   # watermark seed
        (2, "2024-01-02 10:00:00", 2),   # advances watermark a day
        (3, "2024-01-01 12:00:00", 3),   # 22h behind max: late (>1h allowed)
        (4, "2024-01-02 09:30:00", 4),   # 30min behind: within lateness
    ]
    df = (spark.createDataFrame(
        [(i, t, 1, "click", 0.0, a) for (i, t, a) in rows],
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, __arrival bigint")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="late_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = run_to_completion(
        late_data_split(sdf, delay_minutes=10, allowed_lateness_minutes=60),
        "append")
    flags = {r.event_id: r.is_late for r in out.collect()}
    assert flags == {1: False, 2: False, 3: True, 4: False}


def test_early_fire_partial_then_final(spark):
    """Window triggers (EventTimeTriggers.withEarlyFirings analog): a
    window spanning two micro-batches fires an early partial then a final
    total; a single-batch window fires exactly once, as final."""
    from flink_release_1_10_0_spark.queries.streaming import stream_window_early_fire

    rows = stream_window_early_fire(spark, "/root/testdata/sf0.001").collect()
    by_win = {}
    for r in rows:
        by_win.setdefault(r.w_start, []).append(r)
    multi = [v for v in by_win.values() if len(v) > 1]
    assert multi, "no window fired more than once"
    for firings in by_win.values():
        finals = [r for r in firings if r.op == "final"]
        earlies = [r for r in firings if r.op == "early"]
        assert len(finals) == 1
        # the final firing's count is the window total: >= any early count
        assert all(finals[0].n >= e.n for e in earlies)


def test_early_fire_empty_source_yields_empty_log(spark):
    """Zero micro-batches (empty source) must return an empty firing log
    in the agg schema, not an unable-to-infer-schema error (ADVICE r4)."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.triggers import run_with_early_firings

    src = tempfile.mkdtemp(prefix="early_fire_empty_src_")
    sdf = spark.readStream.schema("ts timestamp, v double").parquet(src)
    agg = (sdf.withWatermark("ts", "1 minute")
           .groupBy(F.window("ts", "1 hour").getField("start").alias("w_start"))
           .agg(F.sum("v").alias("s")))
    out = run_with_early_firings(agg, key_cols=["w_start"])
    assert out.count() == 0
    assert out.columns == ["w_start", "s", "op"]


def test_delta_trigger_fires_on_threshold_crossing(spark):
    """DeltaTrigger semantics: baseline starts at the first element (no
    firing); each firing resets the baseline to the fired element."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.core import run_to_completion
    from flink_release_1_10_0_spark.streaming.triggers import delta_trigger_firings

    rows = [(1, "2024-01-01 10:00:00", 1, "a", 10.0),
            (2, "2024-01-01 10:01:00", 1, "a", 50.0),   # d=40 <= 45: no fire
            (3, "2024-01-01 10:02:00", 1, "a", 60.0),   # d=50 > 45: fire, base=60
            (4, "2024-01-01 10:03:00", 1, "a", 90.0),   # d=30: no fire
            (5, "2024-01-01 10:04:00", 1, "a", 10.0)]   # d=50: fire, base=10
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="delta_trig_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    out = run_to_completion(delta_trigger_firings(sdf, threshold=45.0), "append")
    got = [(r.event_id, r.delta) for r in out.orderBy("event_id").collect()]
    assert got == [(3, 50.0), (5, 50.0)]


def test_continuous_trigger_cumulative_ticks(spark):
    """ContinuousEventTimeTrigger semantics: a (key, day) fires at every
    6h boundary from the first element's boundary through the window
    end; each firing accumulates (no purge), so counts are cumulative
    and ticks after the last element still fire with unchanged totals."""
    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.triggers import (
        continuous_event_time_trigger_firings)

    rows = [(1, "2024-01-01 07:00:00", 1, "a", 10.0),   # slot 1
            (2, "2024-01-01 08:00:00", 1, "a", 20.0),   # slot 1
            (3, "2024-01-01 20:00:00", 1, "a", 30.0)]   # slot 3
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    out = continuous_event_time_trigger_firings(df, interval_hours=6)
    got = [(r.fire_at.hour or 24 if r.fire_at.day == 1 else 24,
            r.n_so_far, r.sum_value_so_far)
           for r in out.orderBy("fire_at").collect()]
    # tick 06:00 precedes the first element -> no firing; 12:00 and
    # 18:00 see slots 0-1; day-end tick (00:00 next day) sees all three
    assert got == [(12, 2, 30.0), (18, 2, 30.0), (24, 3, 60.0)]


def test_continuous_trigger_interval_not_dividing_day(spark):
    """interval=7h does not divide 24: the tick grid must still cover
    the trailing hours (21:00-24:00) via a final firing AT the window
    end — events there must not be silently dropped (ADVICE r5)."""
    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.streaming.triggers import (
        continuous_event_time_trigger_firings)

    rows = [(1, "2024-01-01 01:00:00", 1, "a", 10.0),   # slot 0
            (2, "2024-01-01 22:00:00", 1, "a", 40.0)]   # slot 3 (>21h)
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    out = continuous_event_time_trigger_firings(df, interval_hours=7)
    got = [((r.fire_at - r.w_start).total_seconds() / 3600,
            r.n_so_far, r.sum_value_so_far)
           for r in out.orderBy("fire_at").collect()]
    # ticks at 7h/14h/21h see only slot 0; the final tick is capped at
    # the 24h window end (not 28h) and includes the 22:00 event
    assert got == [(7.0, 1, 10.0), (14.0, 1, 10.0), (21.0, 1, 10.0),
                   (24.0, 2, 50.0)]


# ---------------------------------------------------------------------------
# Queryable state (streaming/queryable.py; KeyedStream.asQueryableState +
# QueryableStateClient)
# ---------------------------------------------------------------------------

def test_queryable_state_memory_point_lookup(spark):
    from flink_release_1_10_0_spark.streaming.core import read_stream_table
    from flink_release_1_10_0_spark.streaming.queryable import (
        as_queryable_state)

    from flink_release_1_10_0_spark.streaming.datastream import DataStream

    import warnings

    ev = read_stream_table(spark, "/root/testdata/sf0.001", "events")
    # through the KeyedStream facade (KeyedStream.asQueryableState);
    # the memory backend's complete-mode scale caveat must surface as a
    # DEFAULT-VISIBLE warning category (review fix: ResourceWarning is
    # filtered out by stock interpreters)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("default")
        h = (DataStream(ev).key_by("user_id")
             .as_queryable_state("qs_mem_test", F.count(F.lit(1)).alias("n"),
                                 backend="memory"))
    assert any(issubclass(w.category, UserWarning)
               and "COMPLETE-mode" in str(w.message) for w in caught)
    batch = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
             .groupBy("user_id").count().collect())
    expect = {r.user_id: r["count"] for r in batch}
    some_key = next(iter(expect))
    got = h.get(user_id=some_key)
    assert len(got) == 1 and got[0].n == expect[some_key]
    assert h.get(user_id=10**15) == []  # absent key -> empty, not error


def test_queryable_state_external_client_needs_no_spark(spark):
    from flink_release_1_10_0_spark.streaming.core import read_stream_table
    from flink_release_1_10_0_spark.streaming.queryable import (
        QueryableStateClient, as_queryable_state)

    ev = read_stream_table(spark, "/root/testdata/sf0.001", "events")
    state = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    h = as_queryable_state(state, "qs_db_test", ["user_id"],
                           backend="dbapi")
    batch = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
             .groupBy("user_id").count().collect())
    expect = {r.user_id: r["count"] for r in batch}
    k = max(expect)
    rows = QueryableStateClient.get_dbapi(h.url, h.table, user_id=k)
    assert len(rows) == 1 and rows[0][1] == expect[k]


def test_latency_tracker_captures_trigger_histogram(spark):
    """LatencyMarker analog (streaming/metrics.py): per-trigger latency
    metrics captured via StreamingQueryListener during a bounded run."""
    import time

    from flink_release_1_10_0_spark.streaming.core import (
        read_stream_table, run_to_completion)
    from flink_release_1_10_0_spark.streaming.metrics import LatencyTracker

    tracker = LatencyTracker().attach(spark)
    try:
        ev = read_stream_table(spark, "/root/testdata/sf0.001", "events")
        agg = ev.groupBy("event_type").count()
        run_to_completion(agg, output_mode="complete")
        # listener delivery is async; allow it to drain
        for _ in range(50):
            if tracker.histogram()["count"]:
                break
            time.sleep(0.2)
    finally:
        tracker.detach(spark)
    h = tracker.histogram()
    assert h["count"] >= 1
    assert h["max_ms"] >= h["min_ms"] >= 0
    assert any(p["numInputRows"] > 0 for p in tracker.progress)


def test_bounded_runs_leave_checkpoint_dirs_flat(spark, tmp_path, monkeypatch):
    """Each bounded run's private checkpoint dir is removed once its query
    has terminated, so N runs in one session leave the count flat."""
    import glob
    import tempfile

    from flink_release_1_10_0_spark.streaming.core import (
        read_stream_table, run_to_completion)

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    expect = sorted(tuple(r) for r in spark.read.parquet(
        os.path.join(SF_DIR, "events.parquet")).groupBy("event_type").count().collect())
    for _ in range(3):
        ev = read_stream_table(spark, SF_DIR, "events")
        out = run_to_completion(ev.groupBy("event_type").count(), output_mode="complete")
        assert sorted(tuple(r) for r in out.collect()) == expect
        assert glob.glob(str(tmp_path / "spark_graft_ckpt_*")) == []


def test_stream_scan_reuses_the_catalog_schema(spark, tmp_path):
    """``read_stream_table`` over a table the catalog has resolved runs no
    schema-inference job."""
    import shutil

    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.streaming.core import read_stream_table

    shutil.copy(os.path.join(SF_DIR, "events.parquet"), tmp_path / "events.parquet")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("catalog_load", "schema inference")
        batch = load(spark, str(tmp_path), "events")
        assert tracker.getJobIdsForGroup("catalog_load"), \
            "a fresh table resolution should infer the schema with a job"
        sc.setJobGroup("stream_scan", "no schema inference")
        stream = read_stream_table(spark, str(tmp_path), "events")
        assert tracker.getJobIdsForGroup("stream_scan") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stream.schema == batch.schema


def test_streaming_heads_leave_tmp_catalog_and_queries_flat(spark, tmp_path,
                                                            monkeypatch):
    """One session runs the bounded streaming heads again and again: the
    temp dir, the catalog and the active streaming queries stay flat
    (no replay dir, no memory-sink view, no MATCH_RECOGNIZE view left)."""
    import tempfile

    from flink_release_1_10_0_spark.queries import all_queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    qs = all_queries()
    heads = ["stream_topn_per_key", "stream_cep_error_then_purchase",
             "flink_sql_mr_define_agg_avg",
             # a derived FROM frame: replayed through a temp dir
             "flink_sql_mr_order_desc_tiebreaker"]

    def snapshot():
        return (sorted(os.listdir(tmp_path)),
                sorted(t.name for t in spark.catalog.listTables()),
                len(spark.streams.active))

    start = snapshot()
    for _ in range(3):
        for head in heads:
            assert qs[head](spark, SF_DIR).collect()
        assert snapshot() == start


def test_match_recognize_over_a_table_runs_no_job_before_its_query(
        spark, monkeypatch):
    """A MATCH_RECOGNIZE over a table ``catalog.load`` returned streams
    the table's file: no Spark job runs before the streaming query.  The
    match output reaches the outer SQL as a DataFrame argument, and a
    brace elsewhere in the outer text reaches Spark verbatim."""
    import flink_release_1_10_0_spark.streaming.core as core
    from flink_release_1_10_0_spark.catalog import load
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs_at_start = []
    real = core.run_to_completion

    def spy(result, *args, **kwargs):
        jobs_at_start.append(list(tracker.getJobIdsForGroup("mr_replay")))
        return real(result, *args, **kwargs)

    monkeypatch.setattr(core, "run_to_completion", spy)
    events = load(spark, SF_DIR, "events")
    try:
        sc.setJobGroup("mr_replay", "bounded MATCH_RECOGNIZE replay")
        out = execute_match_recognize_sql(spark, """
            SELECT user_id, start_id, '{x}' AS tag
            FROM events MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES FIRST(A.event_id) AS start_id
              ONE ROW PER MATCH
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (A B)
              DEFINE A AS event_type = 'click', B AS event_type = 'view'
            ) AS m""", batch_df=events)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs_at_start == [[]]
    assert {r.tag for r in out.collect()} == {"{x}"}
