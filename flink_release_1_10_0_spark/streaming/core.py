"""Structured Streaming harness: run a stream to completion over bounded
input and return the result as a batch DataFrame.

Reference analog: the reference's ITCase harnesses feed bounded element
streams through the streaming runtime and collect the sink
(``StreamingTestBase`` / planner-blink ``runtime/stream/sql`` tests,
SURVEY.md §5.2-5.3).  Here: ``readStream`` over the parquet file,
``trigger(availableNow=True)`` (processes all available input, including
the watermark-flush no-data batch, then stops) into a memory sink.

In production the same pipeline definitions run unbounded — swap the
bounded source for kafka/file-monitor and the memory sink for
parquet/kafka + checkpointing; the transformation graph is identical.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_counter = itertools.count()


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming scan of a testdata table (StreamExecTableSourceScan
    analog).  Normalizes the events table's ``ts`` the same way the batch
    catalog does: the checked-in files store it as INT64
    ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` (read as ``timestamp_ntz``);
    a ``TIMESTAMP(NANOS)`` file reads as raw-nanos ``bigint``.

    The file schema comes from the catalog's per-session memo, so a
    stream over a table already resolved runs no schema-inference job."""
    from ..catalog import file_schema, normalize_event_time

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = file_schema(spark, sf_dir, name)
    if os.path.isdir(path):
        # table stored as a directory of part files (e.g. the scale
        # sweep's synthesized tiers): stream the directory itself
        sdf = spark.readStream.schema(schema).parquet(path)
    else:
        # FileStreamSource needs a directory; select just this table's
        # single file out of the testdata dir
        sdf = (spark.readStream.schema(schema)
               .option("pathGlobFilter", f"{name}.parquet")
               .parquet(sf_dir))
    if name == "events":
        sdf = normalize_event_time(sdf)
    return sdf


def run_to_completion(result: DataFrame, output_mode: str = "append",
                      single_batch: bool = False) -> DataFrame:
    """Execute a streaming DataFrame to completion into a memory sink;
    returns the collected sink as a batch DataFrame.

    The checkpoint dir is private to the run and removed once the query
    has terminated.  The sink's temp view is dropped as soon as its
    DataFrame is taken, so a run registers nothing in the catalog; the
    sink's rows stay in driver memory exactly as long as the returned
    DataFrame, or a frame derived from it, is referenced.

    ``single_batch=True`` raises ``RuntimeError`` when the query took
    more than one micro-batch with input rows — the contract of a
    bounded replay whose end-of-input close (``match_nfa(...,
    end_of_input=True)``) runs with the batch that carries the input."""
    spark = result.sparkSession
    qname = f"_stream_sink_{next(_counter)}"
    ckpt = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    try:
        q = (result.writeStream
             .format("memory")
             .queryName(qname)
             .outputMode(output_mode)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(qname)
    spark.catalog.dropTempView(qname)
    if single_batch:
        data_batches = sum(1 for p in q.recentProgress if p["numInputRows"])
        if data_batches > 1:
            raise RuntimeError(
                f"bounded replay took {data_batches} data micro-batches; "
                "its end-of-input close needs the whole input in one "
                "(availableNow over files, no maxFilesPerTrigger)")
    return out
