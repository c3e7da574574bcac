"""Engine benchmark: closed-loop workloads over seeded inputs.

Run from the repository root:

    python3 perfbench/run.py --workload stream_bounded --seed 1 --seconds 1 --trace 0

One run generates its inputs from ``--seed`` into a benchmark-owned work
directory under ``.perfbench/``, starts one session through
``session.get_spark`` on ``local[nproc]``, and warms up with one pass over
the workload's heads (``queries.all_queries()``) that collects each head's
output for the correctness check, plus the workload's untimed noop passes.
Then it runs whole passes, each query run materialized to the noop sink:
at least ``MIN_PASSES`` of them, and until ``--seconds`` have passed.
Each head's warm-up output is compared, outside the timed region, with its
DuckDB oracle (``queries.all_oracles()``) on the same inputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are the
per-layer metrics, taken from spans around calls into the engine's layers,
Spark's event log and a streaming-progress listener.  The line before it
is a report with every metric, the per-head medians and the counts behind
the ratios.  A traced run also writes its spans and per-run layer figures
to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import tracing  # noqa: E402

PACKAGE = "flink_release_1_10_0_spark"
DRIVER_MEM = "2g"

# workload -> (heads, untimed noop passes after the collecting warm-up pass).
# The JVM is still compiling the LSH and connected-components plans during
# the pass after the first; timing that pass spread query times by 25%
# across runs, so llm_pipeline warms up one pass longer.
WORKLOADS = {
    "llm_pipeline": (["minhash_lsh_dup_pairs", "graph_connected_components"], 1),
    "stream_bounded": (["stream_topn_per_key", "stream_cep_error_then_purchase",
                        "flink_sql_mr_define_agg_avg"], 0),
}
# Timed passes per run, at least: one sample per head spread the slowest
# head's time by more than 25% between runs.
MIN_PASSES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(root: str, work: str, trace_on: bool) -> dict[str, str]:
    """Point every temp and scratch location into ``work`` and let Python
    workers import the package; in a traced run, switch the event log on
    through the launcher."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "data", "spark-local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # a fixed heap: G1's adaptive heap sizing otherwise varies between runs
    conf = [f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']}'"]
    if trace_on:
        conf += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    import tempfile
    tempfile.tempdir = None          # re-read TMPDIR
    return dirs


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def check_head(con, oracle_sql: str | None, df, rows) -> list[str]:
    """Problems of one head's output against its DuckDB oracle, judged the
    way tools/compare.py judges them."""
    from tools.compare import rows_key, type_mismatches
    if oracle_sql is None:
        return [] if rows else ["no rows and no oracle"]
    res = con.execute(oracle_sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    problems = []
    tm = type_mismatches(df, con, oracle_sql)
    if tm:
        problems.append("types: " + "; ".join(tm))
    if len(rows) != len(drows):
        problems.append(f"rowcount spark={len(rows)} duck={len(drows)}")
    if sorted(df.columns) != sorted(dcols):
        problems.append(f"cols spark={sorted(df.columns)} duck={sorted(dcols)}")
    if not problems and rows_key(df.columns, rows) != rows_key(dcols, drows):
        problems.append("values differ")
    return problems


class ClosedLoop:
    """One client running a workload's heads back to back."""

    def __init__(self, fns, spark, heads, data_dir, tracer=None):
        self.fns, self.spark, self.heads, self.data_dir = fns, spark, heads, data_dir
        self.tracer = tracer
        self.runs: list[dict] = []      # head, s (seconds), ok, collect
        self.errors: list[str] = []

    def _call(self, head: str, collect: bool):
        tr = self.tracer
        if tr is not None:
            tr.run_id = len(self.runs)
            idx = tr.begin("query")
            b = tr.begin("queries.build")
        df = self.fns[head](self.spark, self.data_dir)
        if tr is not None:
            tr.end(b)
            b = tr.begin("sink.collect" if collect else "sink.noop")
        out = df.collect() if collect else df.write.format("noop").mode("overwrite").save()
        if tr is not None:
            tr.end(b)
            tr.end(idx)
        return df, out

    def run_once(self, head: str, collect: bool = False):
        t0 = time.perf_counter()
        try:
            df, out = self._call(head, collect)
            ok = True
        except Exception:
            if self.tracer is not None:
                self.tracer.unwind()
            self.errors.append(f"{head}: {traceback.format_exc(limit=3)}")
            df = out = None
            ok = False
        self.runs.append({"head": head, "s": time.perf_counter() - t0, "ok": ok,
                          "collect": collect})
        return df, out

    def warm_up(self, noop_passes: int) -> dict[str, tuple]:
        """One pass that collects every head's output, then ``noop_passes``
        untimed passes to the noop sink."""
        outputs = {h: self.run_once(h, collect=True) for h in self.heads}
        for _ in range(noop_passes):
            for h in self.heads:
                self.run_once(h)
        return outputs

    def measure(self, seconds: float, min_passes: int) -> tuple[float, float, list[dict]]:
        """Whole passes, at least ``min_passes``, until ``seconds`` have
        passed; returns the set-up time (process start to the first timed
        query run), the timed wall time and the timed query runs."""
        first = len(self.runs)
        t0 = time.perf_counter()
        setup_s = t0 - T_PROCESS
        passes = 0
        while passes < min_passes or time.perf_counter() - t0 < seconds:
            for h in self.heads:
                self.run_once(h)
            passes += 1
        return setup_s, time.perf_counter() - t0, self.runs[first:]


# span name -> (metric of its summed duration, metric of its count)
SPAN_METRICS = {
    "queries.build": ("queries.build_s", None),
    "sink.noop": ("sink.noop_s", None),
    "catalog.load": ("catalog.load_s", "catalog.load_calls"),
    "streaming.core.run_to_completion": ("streaming.core.run_s", "streaming.core.runs"),
    "sql_match.execute": ("sql_match.execute_s", None),
}


def layer_metrics(tracer, jobs, progresses, timed: list[dict], first_run: int) -> tuple[dict, dict]:
    """Per-layer metrics, each a mean per timed query run (stage skew: the
    median; attribution error: the largest), plus per-head medians."""
    per_run, attribution = [], []
    for rid in range(first_run, first_run + len(timed)):
        [q] = tracer.of_run(rid, "query")
        m = dict(tracing.span_job_metrics(q, jobs))
        wall = q["end"] - q["start"]
        attribution.append(abs(m["spark.job_unclipped_s"] + m["spark.driver_gap_s"] - wall) / wall)
        for name, (seconds_key, count_key) in SPAN_METRICS.items():
            spans = tracer.of_run(rid, name)
            m[seconds_key] = sum(s["end"] - s["start"] for s in spans)
            if count_key:
                m[count_key] = len(spans)
        m.update(tracing.progress_metrics(
            [p for p in progresses if q["start"] <= tracing.progress_time(p) <= q["end"]]))
        bounded = tracer.of_run(rid, "streaming.core.run_to_completion")
        in_bounded = tracing.progress_metrics(
            [p for p in progresses
             if any(s["start"] <= tracing.progress_time(p) <= s["end"] for s in bounded)])
        m["streaming.lifecycle_s"] = m["streaming.core.run_s"] - in_bounded["streaming.trigger_s"]
        per_run.append(m)
    keys = sorted({k for m in per_run for k in m})
    out = {}
    for k in keys:
        vals = [m.get(k, 0.0) for m in per_run]
        out[k] = statistics.median(vals) if k == "spark.stage_skew" else statistics.fmean(vals)
    out["spark.attribution_error"] = max(attribution)
    heads = {}
    for run in timed:
        heads.setdefault(run["head"], []).append(run["s"])
    return out, {f"head.{h}.p50_s": statistics.median(v) for h, v in heads.items()}


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)",
              file=sys.stderr)
        return 2
    bench_root = os.path.join(root, ".perfbench")
    work = os.path.join(bench_root, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    dirs = prepare_env(root, work, bool(args.trace))
    sys.path.insert(0, root)
    try:
        return _run(args, root, bench_root, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root, bench_root, dirs) -> int:
    import duckdb

    from flink_release_1_10_0_spark.catalog import TABLES
    from flink_release_1_10_0_spark.queries import all_oracles, all_queries
    from flink_release_1_10_0_spark.session import get_spark

    tracer = tracing.Tracer() if args.trace else None
    heads, noop_passes = WORKLOADS[args.workload]
    if tracer is not None:
        span = tracer.begin("session")
    spark = get_spark("perfbench")
    if tracer is not None:
        tracer.end(span)
    session_s = time.perf_counter() - T_PROCESS
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    t0 = time.perf_counter()
    inputs.write_tables(inputs.make_tables(args.seed), dirs["data"])
    gen_s = time.perf_counter() - t0

    progresses: list[dict] = []
    undo = None
    if tracer is not None:
        import flink_release_1_10_0_spark.catalog as catalog
        import flink_release_1_10_0_spark.sql_match as sql_match
        import flink_release_1_10_0_spark.streaming.core as core
        all_queries()                   # import every query module first
        undo = tracing.instrument(tracer, PACKAGE, {
            "catalog.load": (catalog, "load"),
            "streaming.core.run_to_completion": (core, "run_to_completion"),
            "sql_match.execute": (sql_match, "execute_match_recognize_sql"),
        })
        spark.streams.addListener(tracing.make_listener(progresses))

    t0 = time.perf_counter()
    loop = ClosedLoop(all_queries(), spark, heads, dirs["data"], tracer)
    load_queries_s = time.perf_counter() - t0
    tmp_before = len(os.listdir(dirs["tmp"]))
    views_before = len(spark.catalog.listTables())
    t_warm = time.perf_counter()
    outputs = loop.warm_up(noop_passes)
    warm_s = time.perf_counter() - t_warm

    setup_s, wall, timed = loop.measure(args.seconds, MIN_PASSES)
    leaked_tmp = len(os.listdir(dirs["tmp"])) - tmp_before
    leaked_views = len(spark.catalog.listTables()) - views_before
    rss_python, rss_jvm = peak_rss_mb("self"), peak_rss_mb(jvm_pid)

    # correctness, untimed: each head's warm-up output against its oracle
    t_check = time.perf_counter()
    oracles = all_oracles()
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(dirs["data"], f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    mismatches = {}
    for head, (df, rows) in outputs.items():
        if df is None:
            continue
        try:
            problems = check_head(con, oracles.get(head), df, rows)
        except Exception as exc:
            problems = [f"oracle error: {exc}"]
        if problems:
            mismatches[head] = problems
    con.close()
    check_s = time.perf_counter() - t_check

    if undo is not None:
        time.sleep(0.5)                 # let the listener bus drain
        undo()
    t_stop = time.perf_counter()
    stop_session(spark)
    stop_s = time.perf_counter() - t_stop

    ok_times = [r["s"] for r in timed if r["ok"]]
    head_times: dict[str, list[float]] = {}
    for r in timed:
        if r["ok"]:
            head_times.setdefault(r["head"], []).append(r["s"])
    if not ok_times:
        print("perfbench: no timed query run completed:\n" + "\n".join(loop.errors),
              file=sys.stderr)
        return 1
    attempted = len(loop.runs)
    failed = sum(not r["ok"] for r in loop.runs) + len(mismatches)
    n_runs = len(loop.runs)
    e2e = {
        "setup_s": setup_s,
        "throughput_qpm": len(ok_times) / wall * 60.0,
        "query_p50_s": statistics.median(ok_times),
        "query_tail_s": max(statistics.median(v) for v in head_times.values()),
    }
    resources = {
        "failed_share": failed / attempted,
        "leaked_tmp_per_query": leaked_tmp / n_runs,
        "leaked_views_per_query": leaked_views / n_runs,
        "peak_rss_mb": rss_python + rss_jvm,
        "peak_rss_python_mb": rss_python,
        "peak_rss_jvm_mb": rss_jvm,
    }
    report = {"workload": args.workload, "seed": args.seed, "inputs": "sf0.01",
              "cores": os.cpu_count(), "timed_runs": len(timed), "timed_wall_s": wall,
              "query_tail": "median of the slowest head over "
                            f"{max(len(v) for v in head_times.values())} timed runs",
              "setup_parts_s": {
                  "process_and_session": session_s, "input_generation": gen_s,
                  "query_modules": load_queries_s, "warm_up": warm_s},
              "teardown_parts_s": {"oracle_check": check_s, "session_stop": stop_s},
              "runs": [[r["head"], round(r["s"], 3), r["collect"], r["ok"]] for r in loop.runs],
              "end_to_end": e2e, "resources": resources,
              "mismatches": mismatches, "errors": loop.errors}
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if tracer is None:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        jobs = tracing.jobs_from_events(tracing.read_event_log(dirs["eventlog"]))
        layers, head_p50 = layer_metrics(tracer, jobs, progresses, timed,
                                         n_runs - len(timed))
        layers.update(resources)
        layers["session.start_s"] = tracer.spans[0]["end"] - tracer.spans[0]["start"]
        report["per_layer"] = layers
        report["heads"] = head_p50
        os.makedirs(os.path.join(bench_root, "traces"), exist_ok=True)
        with open(os.path.join(bench_root, "traces",
                               f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"report": report, "spans": tracer.spans,
                       "progress": progresses}, f)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": not mismatches and all(r["ok"] for r in loop.runs),
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
