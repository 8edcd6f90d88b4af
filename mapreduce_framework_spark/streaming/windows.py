"""Structured Streaming window operators over the events stream.

The reference engine is strictly batch (hard map→reduce barrier,
src/mr/coordinator.go:143-155); streaming is [EXT] surface. These helpers
run the *same* ``window()`` expressions as the batch queries in
operators/windows.py through ``readStream`` → watermark → windowed agg →
sink, so batch-vs-streaming parity is testable (SURVEY §7 M4/M5).

Design for scale: watermark + append output keeps state bounded (closed
windows are evicted); the parquet file source here stands in for
Kafka/object-store streams — swap ``readStream.format``.

The module also holds the two availableNow runners: ``run_stream_to_memory``
for the memory sink and ``run_sink_stream`` for every foreachBatch sink.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from mapreduce_framework_spark.catalog import ltz_to_ntz_expr

def _staged_parquet_files(source_dir: str) -> list[str]:
    """Parquet files currently under a staging path (supports the trailing
    glob the replay builders use, and Spark-written dataset directories)."""
    import glob as _glob

    out = []
    for entry in _glob.glob(source_dir) or []:
        if os.path.isdir(entry):
            for dirpath, _, files in os.walk(entry):
                out.extend(
                    os.path.join(dirpath, f) for f in files if f.endswith(".parquet")
                )
        elif entry.endswith(".parquet"):
            out.append(entry)
    return out


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """File-source stream of the events table; ``ts`` comes back as
    TIMESTAMP (LTZ, µs).

    Batch reads normalize ``ts`` to TIMESTAMP_NTZ (catalog.py), but
    ``withWatermark`` requires TIMESTAMP — Spark's event-time clock is an
    instant, not a wall-clock (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    otherwise). So the streaming reader applies the same normalization and
    converts NTZ→LTZ through epoch microseconds (ntz_to_ltz_expr) — the
    instant whose UTC wall-clock equals the NTZ value, independent of the
    session timezone; windowed operators convert their window bounds back
    the same way so streaming output stays comparable to the batch twins
    and their DuckDB oracles.

    The stream schema is peeked from a batch read of the staged files so
    the reader works for every historical ``ts`` encoding (nanos-as-long,
    native NTZ, LTZ); when the staging path holds no parquet files yet (a
    file-source stream normally receives files after start) it falls back
    to the canonical events schema — that presence check is explicit, so
    real read errors (bad path root, corrupt files) still raise.

    ``max_files_per_trigger=None`` processes every available file in one
    micro-batch (the right replay mode when batch boundaries carry no
    meaning — it also makes the run insensitive to file order and to
    watermark lateness across files)."""
    from mapreduce_framework_spark.catalog import (
        EVENTS_SCHEMA,
        normalize_events_ts,
        ntz_to_ltz_expr,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if _staged_parquet_files(source_dir):
        schema = spark.read.parquet(source_dir).schema
    else:  # empty staging dir: nothing to infer from yet
        schema = EVENTS_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_dir)
    return normalize_events_ts(raw).withColumn("ts", F.expr(ntz_to_ltz_expr("ts")))


def streaming_tumbling_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """1-hour tumbling count per event_type with a late-data watermark —
    the streaming twin of q25_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # epoch-anchored LTZ→NTZ (session-timezone-independent); restores
        # parity with batch q25 / the oracle
        .select(
            F.expr(ltz_to_ntz_expr("w.start")).alias("window_start"),
            "event_type",
            "cnt",
        )
    )


def streaming_session_sessions(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "0 seconds"
) -> DataFrame:
    """Per-session rows (session start/end, user, event count) via native
    ``session_window`` — the streaming twin of q27's sessionization.

    Append mode emits a session only once it is CLOSED (the watermark has
    passed session_end + gap); trailing still-open sessions are withheld
    until later input advances the watermark. Replays that need every
    session emitted append watermark-advancer sentinel rows after the
    corpus (see q94)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.expr(ltz_to_ntz_expr("sw.start")).alias("session_start"),
            F.expr(ltz_to_ntz_expr("sw.end")).alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    timeout_s: int = 120,
    progress_sink: list | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame with availableNow into a memory sink and
    return the materialized result as a batch DataFrame.

    The throwaway checkpoint directory is removed once the query terminates
    (the memory sink holds the rows; driver correctness runs invoke this
    per-round and must not accumulate /tmp state). Pass ``progress_sink``
    to receive the query's progress entries (state-store metrics such as
    numRowsTotal / numRowsDroppedByWatermark) for assertions."""
    import shutil

    name = f"mem_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join("/tmp", f"ckpt_{name}")
    writer = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
    )
    try:
        q = _run_available_now(writer, timeout_s, f"streaming query {name}")
        if progress_sink is not None:
            progress_sink.extend(q.recentProgress)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _run_available_now(
    writer: DataStreamWriter, timeout_s: int, what: str
) -> StreamingQuery:
    """Start ``writer`` with an availableNow trigger and wait for it to
    drain its source. A query still running after ``timeout_s`` is
    stopped and raises TimeoutError naming ``what``."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{what} did not finish within {timeout_s}s")
    return q


@dataclass(frozen=True)
class _Sink:
    """A built foreachBatch sink: ``sink(batch_df, batch_id)`` applies one
    micro-batch, and ``result()`` reads back what the sink has committed
    (None while nothing is). ``name`` labels the sink's stream in errors;
    ``committed`` says what ``result`` reads, e.g. ``"decisions under
    <root>"``."""

    apply_batch: Callable[[DataFrame, int], None]
    result: Callable[[], DataFrame | None]
    name: str
    committed: str

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.apply_batch(batch_df, batch_id)


def run_sink_stream(
    stream: DataFrame, sink: _Sink, checkpoint: str, timeout_s: int = 300
) -> DataFrame:
    """The one runner of every foreachBatch sink (the ``make_*`` factories
    of streaming/ingest.py and streaming/foreach_batch.py): run ``stream``
    through ``sink`` to completion (availableNow) and return what it
    committed. A stream still running after ``timeout_s`` is stopped and
    raises TimeoutError; one that processed no batch raises ValueError."""
    _run_available_now(
        stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint),
        timeout_s,
        f"{sink.name} stream",
    )
    out = sink.result()
    if out is None:
        raise ValueError(f"stream processed no batches — no {sink.committed}")
    return out
