"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def _task_end(stage, launch_ms, finish_ms, run_ms, sent=0, returned=0, py_run_ms=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Accumulables": [
            {"Name": "data sent to Python workers", "Update": str(sent)},
            {"Name": "data returned from Python workers", "Update": str(returned)},
            {"Name": "time to run Python workers", "Update": str(py_run_ms)},
            {"Name": "number of output rows", "Update": "7"}]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}},
    }


# two jobs inside one 1-second span (10.0 s .. 11.0 s), overlapping by 0.1 s,
# one job outside it, and one submitted before the span that ends inside it
FIXTURE = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_100,
     "Stage IDs": [0, 1]},
    _task_end(0, 10_110, 10_200, 80, sent=1000, returned=300, py_run_ms=40),
    _task_end(0, 10_110, 10_400, 280, sent=3000, returned=700, py_run_ms=60),
    _task_end(1, 10_410, 10_500, 90),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_400,
     "Stage IDs": [2]},
    _task_end(2, 10_400, 10_700, 300),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 10_700},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20_000,
     "Stage IDs": [3]},
    _task_end(3, 20_000, 20_100, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 20_100},
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9_800,
     "Stage IDs": [4]},
    _task_end(4, 9_800, 10_050, 250),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 10_050},
]


def test_event_log_parser_on_fixture(tmp_path):
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in FIXTURE))
    (log / "appstatus_local-1").write_text("")
    jobs = tracing.jobs_from_events(tracing.read_event_log(str(tmp_path)))
    assert len(jobs) == 4
    m = tracing.span_job_metrics({"start": 10.0, "end": 11.0}, jobs)
    assert m["spark.jobs"] == 2 and m["spark.stages"] == 3 and m["spark.tasks"] == 4
    assert m["spark.job_s"] == pytest.approx(0.6)            # 10.1 .. 10.7
    assert m["spark.job_s"] + m["spark.driver_gap_s"] == pytest.approx(1.0)
    assert m["spark.job_unclipped_s"] == pytest.approx(0.6)
    assert m["spark.jobs_left_out"] == 1                     # job 3, from 9.8 s
    assert m["spark.executor_run_s"] == pytest.approx(0.75)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.75)
    assert m["spark.input_bytes"] == 400
    assert m["spark.shuffle_read_bytes"] == 160
    assert m["python_worker.bytes_sent"] == 4000
    assert m["python_worker.bytes_returned"] == 1000
    assert m["python_worker.run_s"] == pytest.approx(0.1)
    # stage 0: tasks of 0.09 s and 0.29 s; median 0.19 s
    assert m["spark.stage_skew"] == pytest.approx(0.29 / 0.19)


def test_progress_metrics_sum_batches():
    progress = [
        {"timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 10,
         "durationMs": {"triggerExecution": 500, "addBatch": 300, "walCommit": 20},
         "stateOperators": [{"numRowsTotal": 4, "memoryUsedBytes": 100,
                             "commitTimeMs": 10, "allUpdatesTimeMs": 30,
                             "numRowsDroppedByWatermark": 1}]},
        {"timestamp": "2026-01-01T00:00:01.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 100}, "stateOperators": []},
    ]
    m = tracing.progress_metrics(progress)
    assert m["streaming.batches"] == 2 and m["streaming.batch_rows"] == 10
    assert m["streaming.trigger_s"] == pytest.approx(0.6)
    assert m["state.rows_total"] == 4 and m["state.rows_dropped_by_watermark"] == 1
    assert tracing.progress_time(progress[1]) - tracing.progress_time(progress[0]) == 1.0


class _FakeDF:
    def __init__(self, rows):
        self.rows = rows
        self.write = self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None

    def collect(self):
        return self.rows


def _failing(spark, data_dir):
    raise RuntimeError("boom")


def test_failing_head_is_counted_not_fatal():
    fns = {"good": lambda spark, d: _FakeDF([(1,)]), "bad": _failing}
    loop = run.ClosedLoop(fns, None, ["good", "bad"], "/nowhere", tracing.Tracer())
    outputs = loop.warm_up(noop_passes=1)
    setup_s, wall, timed = loop.measure(0.0, min_passes=2)
    assert setup_s > 0
    assert outputs["good"][1] == [(1,)] and outputs["bad"] == (None, None)
    assert [r["head"] for r in timed] == ["good", "bad"] * 2
    assert [r["ok"] for r in loop.runs] == [True, False] * 4
    assert [r["collect"] for r in loop.runs] == [True, True] + [False] * 6
    assert len(loop.errors) == 4 and "boom" in loop.errors[0]
    # spans stay balanced after a failure
    assert all(s["end"] is not None for s in loop.tracer.spans)


def test_instrument_rebinds_and_restores():
    mod = types.ModuleType("fakepkg.layer")
    user = types.ModuleType("fakepkg.user")

    def load(x):
        return x + 1
    mod.load = load
    user.load = load
    sys.modules.update({"fakepkg.layer": mod, "fakepkg.user": user})
    try:
        tracer = tracing.Tracer()
        undo = tracing.instrument(tracer, "fakepkg", {"catalog.load": (mod, "load")})
        assert user.load(1) == 2 and mod.load is not load
        assert [s["name"] for s in tracer.spans] == ["catalog.load"]
        undo()
        assert user.load is load and mod.load is load
    finally:
        del sys.modules["fakepkg.layer"], sys.modules["fakepkg.user"]


def test_attribution_shows_a_job_that_outlives_its_span():
    jobs = tracing.jobs_from_events(FIXTURE)
    m = tracing.span_job_metrics({"start": 10.0, "end": 10.6}, jobs)
    assert m["spark.job_s"] == pytest.approx(0.5)            # clipped at 10.6
    assert m["spark.job_unclipped_s"] == pytest.approx(0.6)  # job 1 ends at 10.7
    assert m["spark.job_unclipped_s"] + m["spark.driver_gap_s"] > 0.6


def test_inputs_are_seeded():
    a = inputs.make_tables(7)
    b = inputs.make_tables(7)
    c = inputs.make_tables(8)
    assert all(a[k].equals(b[k]) for k in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["events"].equals(c["events"])
    ev = a["events"].to_pandas()
    assert len(ev) == inputs.N_EVENTS
    assert ev["event_id"].is_monotonic_increasing
    assert ev["user_id"].nunique() <= len(ev) * inputs.USERS_PER_EVENT
    assert set(ev["event_type"]) <= set(inputs.EVENT_TYPES)


def test_shuffled_tables_keep_the_checked_in_rows():
    tables = inputs.make_tables(3)
    for name in inputs.SHUFFLED_TABLES:
        ref = pq.read_table(os.path.join(inputs.DATA_DIR, f"{name}.parquet"))
        got = tables[name]
        assert got.schema.equals(ref.schema, check_metadata=True), name
        keys = [(f.name, "ascending") for f in ref.schema
                if not pa.types.is_list(f.type)]
        assert got.sort_by(keys).equals(ref.sort_by(keys)), name
    assert tables["lineitem"].column(0) != pq.read_table(
        os.path.join(inputs.DATA_DIR, "lineitem.parquet")).column(0)


def test_written_schemas_match_the_checked_in_tables(tmp_path):
    inputs.write_tables(inputs.make_tables(5), str(tmp_path))
    refs = {name: os.path.join(inputs.DATA_DIR, f"{name}.parquet")
            for name in inputs.SHUFFLED_TABLES}
    refs["events"] = inputs.EVENTS_SCHEMA_FILE
    for name, ref in refs.items():
        got = pq.ParquetFile(str(tmp_path / f"{name}.parquet")).schema
        assert got.equals(pq.ParquetFile(ref).schema), name
