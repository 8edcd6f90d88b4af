"""Generic MapReduce job runner — the reference engine's actual API.

Reference contract being reproduced (see SURVEY §2.1):

- ``map_fn(filename, contents) -> list[(key, value)]`` — one whole input
  file per map invocation (``src/mr/worker.go:33-38``, signature
  ``src/main/mrworker.go:34``).
- ``reduce_fn(key, values) -> str`` — called once per distinct key with
  **all** values of that key as a list (holistic, order not guaranteed —
  ``src/mr/worker.go:198-214``; apps that need order sort inside reduce,
  e.g. ``src/mrapps/crash.go:48-52``).
- Output grammar: text lines ``"<key> <value>\n"`` (``src/mr/worker.go:211``)
  across ``n_reduce`` buckets chosen by ``FNV-32a(key) % R``
  (``src/mr/worker.go:16-20,58-60``).

Spark-first mapping:

- The map phase is ``mapInPandas`` (Arrow-batched; one Python round-trip per
  batch, never per record).
- The reduce phase is the reference's own sort-then-walk-runs reduce
  (``src/mr/worker.go:177,198-214``): one hash shuffle on the key
  (``repartition("key")``), ``sortWithinPartitions("key")``, then one
  ``mapInPandas`` that walks runs of equal keys through the Arrow batches
  and calls ``reduce_fn`` once per key with every value. A run that
  crosses a batch boundary is carried into the next batch, so the
  holistic all-values-of-a-key contract holds without a per-key pandas
  frame or Arrow round trip.
  **Scale note:** like the reference (which materializes every value of a
  key in memory, ``src/mr/worker.go:148-177``), one group must fit in one
  executor's memory; per-task memory is that group plus one Arrow batch
  (the sort itself spills). For combinable reducers use the algebraic
  DataFrame rewrites in ``operators.mr_queries`` instead — those get
  map-side partial aggregation and no per-group memory cliff.
- ``n_reduce`` output buckets are written with ``partitionBy("bucket")`` so
  the file layout is reproducible without a custom physical partitioner
  (Spark's internal shuffle placement stays Murmur3; only the *visible*
  bucket id uses FNV, same split as §4.2's guidance).

Plugin loading (``.so`` + ``plugin.Lookup``, ``src/main/mrworker.go:34-51``)
is replaced by plain Python callables; they must be importable/picklable at
executor side, exactly as Spark requires.
"""

from __future__ import annotations

import glob
import operator
import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from mapreduce_framework_spark.functions.hashing import fnv1a32_bucket, fnv1a32_py

MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]

KV_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)
INPUT_SCHEMA = StructType(
    [StructField("name", StringType()), StructField("contents", StringType())]
)


def read_whole_files(spark: SparkSession, paths: Iterable[str]) -> DataFrame:
    """(filename, contents) source — reference F1 (``src/mr/worker.go:33-38``).

    Whole-file granularity is the reference's model: map_fn sees one whole
    file per call. The ``binaryFile`` source never splits a file and packs
    files into input partitions by size (``spark.sql.files.openCostInBytes``
    per file), so small files share a map task, a large file gets its own,
    and the read needs no shuffle. For 100 TB bulk text DO NOT use this:
    use ``spark.read.text`` with ``input_file_name()`` so Spark splits large
    files; this reader exists for MR-parity workloads where map_fn needs
    the full document.
    """
    files = sorted(paths)
    return (
        spark.read.format("binaryFile")
        .load(files)
        .select(
            # basename, not the file:/ URI — matches the reference (bare
            # filenames on the command line, src/main/mrcoordinator.go:23)
            # and the sequential oracle, so golden diffs line up for apps
            # whose emits embed the name (indexer, crash, early_exit)
            F.regexp_extract(F.col("path"), "([^/]+)$", 1).alias("name"),
            F.col("content").cast("string").alias("contents"),
        )
    )


def frame_as_inputs(df: DataFrame, name_col: str, contents_col: str) -> DataFrame:
    """Adapt any DataFrame (e.g. the `documents` table) to the MR input shape."""
    return df.select(
        F.col(name_col).cast("string").alias("name"),
        F.col(contents_col).cast("string").alias("contents"),
    )


def run_job(
    inputs: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    n_reduce: int = 10,
    observation=None,
) -> DataFrame:
    """Distributed MR job → DataFrame(key, value, bucket).

    Mirrors the reference job pipeline F1→F2→F4→F7→F8 with Spark owning
    scheduling, the phase barrier (stage boundary), straggler re-execution
    (``spark.task.maxFailures`` / speculation) and shuffle.

    Pass a ``pyspark.sql.Observation`` to get map-output accounting with
    the result (``observation.get["map_output_records"]`` after an action)
    — the built-in form of the reference's jobcount/timing probe apps
    (src/mrapps/jobcount.go, SURVEY §2.2 A5/A7/A8).
    """
    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    # user map/reduce fns may live in importable modules (pickled by
    # reference) — ship the package so executors can resolve them
    ensure_package_on_executors(inputs.sparkSession)

    def map_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for name, contents in zip(pdf["name"], pdf["contents"]):
                for k, v in map_fn(name, contents):
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"key": keys, "value": vals})

    mapped = inputs.mapInPandas(map_partition, schema=KV_SCHEMA)
    if observation is not None:
        mapped = mapped.observe(
            observation,
            F.count(F.lit(1)).alias("map_output_records"),
            # DISTINCT is not allowed in observed metrics; HLL sketch is
            F.approx_count_distinct("key").alias("approx_distinct_keys"),
        )

    def reduce_runs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # each run collects its values in one list (iadd extends in place)
        for keys, outs in walk_sorted_runs(
            batches, ["value"], list, operator.iadd, reduce_fn
        ):
            # bucket in Python (FNV over UTF-8 bytes, bucket_of) — the JVM
            # expression hashes code points and diverges on non-ASCII keys
            yield pd.DataFrame(
                {
                    "key": keys,
                    "value": outs,
                    "bucket": [bucket_of(k, n_reduce) for k in keys],
                }
            )

    return (
        mapped.repartition("key")
        .sortWithinPartitions("key")
        .mapInPandas(reduce_runs, schema="key string, value string, bucket int")
    )


def walk_sorted_runs(
    batches: Iterable[pd.DataFrame],
    columns: list[str],
    start: Callable,
    add: Callable,
    finish: Callable,
) -> Iterator[tuple[list, list]]:
    """Walk the runs of equal ``key`` through a key-sorted partition's
    Arrow batches: the reduce walk of :func:`run_job` and the KV fold of
    ``operators.kv.fold_kv_history_streaming``. A run opens with ``acc =
    start()``; each batch's slice of it is folded in with ``acc =
    add(acc, *slices)``, one list per name in ``columns``; the run closes
    at the next key or the partition end with ``finish(key, acc)``. The
    open run carries across batches, so per-task memory is one batch plus
    one ``acc``. Yields, per batch, the keys and outputs of the runs it
    closed.

    A NULL key is a group like any other: the boundary test is the
    ``started`` flag, not a ``cur = None`` sentinel, which would take the
    first NULL-key row for "no run yet" and drop the group."""
    started = False
    cur = acc = None
    for pdf in batches:
        keys = pdf["key"].tolist()
        cols = [pdf[c].tolist() for c in columns]
        out_keys: list = []
        outs: list = []
        lo = 0
        for i, k in enumerate(keys):
            if started and k == cur:
                continue
            if started:
                out_keys.append(cur)
                outs.append(finish(cur, add(acc, *[c[lo:i] for c in cols])))
            started, cur, acc, lo = True, k, start(), i
        if started:
            acc = add(acc, *[c[lo:] for c in cols])
        if out_keys:
            yield out_keys, outs
    if started:
        yield [cur], [finish(cur, acc)]


def write_text_output(result: DataFrame, out_dir: str) -> None:
    """Reference sink F9: ``"<key> <value>"`` text lines, one directory per
    reduce bucket (``mr-out-<r>`` analog; format ``src/mr/worker.go:211``).

    Spark's FileOutputCommitter supplies the temp-file + atomic-rename
    commit the reference hand-rolls (``src/mr/worker.go:68-75,216-220``).
    """
    (
        result.select(
            "bucket", F.format_string("%s %s", F.col("key"), F.col("value")).alias("line")
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .text(out_dir)
    )


def read_text_output(out_dir: str) -> list[str]:
    """Collect all output lines across buckets, sorted — the comparison the
    reference test harness does (``src/main/test-mr.sh:90-98`` sorts and
    ``cmp``s against the sequential golden output)."""
    lines: list[str] = []
    for path in glob.glob(os.path.join(out_dir, "bucket=*", "part-*")):
        with open(path, encoding="utf-8") as fh:
            lines.extend(ln.rstrip("\n") for ln in fh if ln)
    return sorted(lines)


def run_sequential(
    inputs: list[tuple[str, str]],
    map_fn: MapFn,
    reduce_fn: ReduceFn,
) -> list[str]:
    """Single-process oracle — reference F14 (``src/main/mrsequential.go:25-87``):
    map all → global sort by key → group runs → reduce → ``"key value"`` lines."""
    intermediate: list[tuple[str, str]] = []
    for name, contents in inputs:
        intermediate.extend(map_fn(name, contents))
    intermediate.sort(key=lambda kv: kv[0])
    out: list[str] = []
    i = 0
    while i < len(intermediate):
        j = i
        values: list[str] = []
        while j < len(intermediate) and intermediate[j][0] == intermediate[i][0]:
            values.append(intermediate[j][1])
            j += 1
        out.append(f"{intermediate[i][0]} {reduce_fn(intermediate[i][0], values)}")
        i = j
    return out


def bucket_of(key: str, n_reduce: int = 10) -> int:
    """The reference's bucket assignment (``ihash(key) % NReduce``)."""
    return (fnv1a32_py(key) & 0x7FFFFFFF) % n_reduce


def write_intermediate_json(mapped: DataFrame, out_dir: str, n_reduce: int = 10) -> None:
    """Reference F5 — materialized shuffle format: newline-delimited JSON
    ``{"Key":...,"Value":...}`` bucketed by FNV (``src/mr/worker.go:57-66``,
    file naming ``:46``). Spark's internal shuffle replaces this in run_job;
    this sink exists for parity/interop (e.g. handing intermediates to the
    reference's reduce phase). Bucket ids use the JVM code-point FNV —
    exact for ASCII keys (the reference corpus); run_job's output buckets
    use the byte-exact Python FNV."""
    (
        mapped.select(
            fnv1a32_bucket("key", n_reduce).alias("bucket"),
            F.to_json(
                F.struct(F.col("key").alias("Key"), F.col("value").alias("Value"))
            ).alias("line"),
        )
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .text(out_dir)
    )


def read_intermediate_json(spark: SparkSession, in_dir: str) -> DataFrame:
    """Reference F6 — shuffle read: decode all bucket files back to
    (key, value) rows (``src/mr/worker.go:148-175``)."""
    raw = spark.read.text(f"{in_dir}/bucket=*")
    parsed = raw.select(
        F.from_json(
            F.col("value"), "Key STRING, Value STRING"
        ).alias("kv")
    )
    return parsed.select(
        F.col("kv.Key").alias("key"), F.col("kv.Value").alias("value")
    )
