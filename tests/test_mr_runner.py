"""MR runner parity tests — the reference test harness's methodology
(``src/main/test-mr.sh``): run the distributed engine, compare sorted output
lines against the single-process sequential oracle (golden-diff, test-mr.sh:90-98).
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.mr import (
    APPS,
    frame_as_inputs,
    read_text_output,
    read_whole_files,
    run_job,
    run_sequential,
    write_text_output,
)


def _doc_inputs(spark, sf_dir):
    docs = table(spark, "documents", sf_dir)
    return frame_as_inputs(docs, "doc_id", "text")


def _doc_inputs_local(spark, sf_dir) -> list[tuple[str, str]]:
    docs = table(spark, "documents", sf_dir).select(
        F.col("doc_id").cast("string"), "text"
    )
    return [(r[0], r[1]) for r in docs.collect()]


@pytest.mark.parametrize("app", sorted(APPS))
def test_app_matches_sequential_oracle(spark, sf_dir, app):
    map_fn, reduce_fn = APPS[app]
    result = run_job(_doc_inputs(spark, sf_dir), map_fn, reduce_fn, n_reduce=10)
    got = sorted(
        f"{r['key']} {r['value']}" for r in result.select("key", "value").collect()
    )
    golden = sorted(run_sequential(_doc_inputs_local(spark, sf_dir), map_fn, reduce_fn))
    assert got == golden


def test_text_sink_golden_grammar(spark, sf_dir, tmp_path):
    """Exact output grammar: '<key> <value>' lines, n_reduce buckets, atomic
    commit (Spark output committer). Compared like test-mr.sh: sort across
    all bucket files and diff against the sequential oracle."""
    map_fn, reduce_fn = APPS["wc"]
    out = str(tmp_path / "mr-out")
    result = run_job(_doc_inputs(spark, sf_dir), map_fn, reduce_fn, n_reduce=10)
    write_text_output(result, out)
    got = read_text_output(out)
    golden = sorted(run_sequential(_doc_inputs_local(spark, sf_dir), map_fn, reduce_fn))
    assert got == golden
    # bucket ids present and within range
    buckets = {int(r["bucket"]) for r in result.select("bucket").distinct().collect()}
    assert buckets <= set(range(10))


def test_reduce_sees_all_values_of_key(spark, sf_dir):
    """Holistic reducer contract: reduce_fn receives every value of the key
    in one call (reference groups runs of the sorted stream,
    src/mr/worker.go:198-214)."""
    inputs = _doc_inputs(spark, sf_dir)
    n_docs = inputs.count()

    def map_fn(name, contents):
        return [("k", name)]

    def reduce_fn(key, values):
        return str(len(values))

    result = run_job(inputs, map_fn, reduce_fn, n_reduce=3).collect()
    assert len(result) == 1
    assert result[0]["value"] == str(n_docs)


def test_reduce_carries_key_runs_across_arrow_batches(spark):
    """The reduce walks sorted key runs batch by batch; a run longer than
    one Arrow batch must be carried into the next, so the hot key is still
    reduced exactly once with every value."""
    from mapreduce_framework_spark.mr.runner import bucket_of

    files = [(f"f{i}", " ".join(["hot"] * 90 + [f"cold{i % 3}"])) for i in range(12)]
    inputs = spark.createDataFrame(files, schema="name string, contents string")
    calls = spark.sparkContext.accumulator(0)

    def map_fn(name, contents):
        return [(w, name) for w in contents.split()]

    def reduce_fn(key, values):
        calls.add(1)
        return f"{len(values)} {','.join(sorted(values))}"

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "64")
        rows = run_job(inputs, map_fn, reduce_fn, n_reduce=10).collect()
    finally:
        spark.conf.set(conf, old)
    keys = [r["key"] for r in rows]
    assert sorted(keys) == ["cold0", "cold1", "cold2", "hot"]
    assert calls.value == 4
    got = {r["key"]: r["value"] for r in rows}
    assert got["hot"].startswith("1080 ")
    assert all(r["bucket"] == bucket_of(r["key"], 10) for r in rows)
    golden = sorted(run_sequential(files, map_fn, reduce_fn))
    assert sorted(f"{k} {v}" for k, v in got.items()) == golden


def _exchanges(df) -> tuple[str, list[str]]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    return plan, [ln for ln in plan.splitlines() if "Exchange" in ln]


def _write_files(tmp_path, n: int) -> list[str]:
    paths = []
    for i in range(n):
        p = tmp_path / f"in-{i}.txt"
        p.write_text(" ".join(f"w{(i + j) % 7}" for j in range(200)))
        paths.append(str(p))
    return paths


def test_run_job_plan_is_one_shuffle_then_sorted_runs(spark, tmp_path):
    """The reduce is a key shuffle, a sort and a batched mapInPandas: no
    per-key FlatMapGroupsInPandas, and exactly one Exchange between the
    map and the reduce when the input is read without one."""
    map_fn, reduce_fn = APPS["wc"]
    inputs = read_whole_files(spark, _write_files(tmp_path, 3))
    plan, exchanges = _exchanges(run_job(inputs, map_fn, reduce_fn))
    assert "FlatMapGroupsInPandas" not in plan
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(key" in exchanges[0]
    assert plan.count("MapInPandas") == 2


def test_read_whole_files_packs_files_without_a_shuffle(spark, tmp_path):
    """The whole-file source reads without an Exchange, and with at least
    as many files as cores every input partition gets a file."""
    cores = spark.sparkContext.defaultParallelism
    paths = _write_files(tmp_path, 2 * cores)
    df = read_whole_files(spark, paths)
    plan, exchanges = _exchanges(df)
    assert exchanges == [], plan
    per_part = dict(
        df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    n_parts = df.rdd.getNumPartitions()
    assert n_parts >= cores
    assert sorted(per_part) == list(range(n_parts))
    assert sum(per_part.values()) == len(paths)
    assert sorted(r["name"] for r in df.select("name").collect()) == sorted(
        f"in-{i}.txt" for i in range(len(paths))
    )


CHAOS_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, "/root/repo")
    from pyspark.sql import SparkSession
    from pyspark import TaskContext
    from mapreduce_framework_spark.mr import run_job, run_sequential, frame_as_inputs
    from mapreduce_framework_spark.catalog import table
    from pyspark.sql import functions as F

    # local[4, 3]: 4 threads, 3 task attempt failures allowed — the Spark
    # analog of the reference crash test (workers die and tasks re-run,
    # src/main/test-mr.sh:283-317, re-queue timer src/mr/coordinator.go:78-117)
    spark = (SparkSession.builder.master("local[4, 3]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .appName("chaos").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = sys.argv[1]

    def map_fn(name, contents):
        # crash.go:20-24 analog: fail the whole task attempt, deterministically
        # on the first attempt only so re-execution must recover it
        if TaskContext.get().attemptNumber() == 0:
            raise RuntimeError("injected map crash (crash.go analog)")
        ws = [w for w in __import__("re").split("[^a-zA-Z]+", contents) if w]
        return [(w, "1") for w in ws]

    def reduce_fn(key, values):
        return str(len(values))

    docs = table(spark, "documents", sf_dir)
    inputs = frame_as_inputs(docs, "doc_id", "text")
    result = run_job(inputs, map_fn, reduce_fn, n_reduce=10)
    got = sorted(f"{r['key']} {r['value']}" for r in result.collect())

    local = [(r[0], r[1]) for r in docs.select(F.col("doc_id").cast("string"), "text").collect()]
    def clean_map(name, contents):
        ws = [w for w in __import__("re").split("[^a-zA-Z]+", contents) if w]
        return [(w, "1") for w in ws]
    golden = sorted(run_sequential(local, clean_map, reduce_fn))
    assert got == golden, "chaos run diverged from golden"
    print("CHAOS_OK", len(got))
    """
)


def test_task_retry_recovers_injected_crashes(sf_dir):
    """Fault-injection parity: map tasks crash on their first attempt; Spark
    re-executes them (lineage) and the job output must still match the
    sequential golden output — the property test-mr.sh's crash test checks."""
    proc = subprocess.run(
        [sys.executable, "-c", CHAOS_SCRIPT, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "CHAOS_OK" in proc.stdout


def test_intermediate_json_roundtrip(spark, sf_dir, tmp_path):
    """F5/F6 parity: materialize the map output as the reference's NDJSON
    {"Key","Value"} bucket files and read it back losslessly."""
    from mapreduce_framework_spark.mr.runner import (
        read_intermediate_json,
        write_intermediate_json,
    )
    from pyspark.sql import functions as F

    map_fn, _ = APPS["wc"]
    inputs = _doc_inputs(spark, sf_dir)

    import pandas as pd

    def map_partition(batches):
        for pdf in batches:
            ks, vs = [], []
            for name, contents in zip(pdf["name"], pdf["contents"]):
                for k, v in map_fn(name, contents):
                    ks.append(k)
                    vs.append(v)
            yield pd.DataFrame({"key": ks, "value": vs})

    from mapreduce_framework_spark.mr.runner import KV_SCHEMA

    mapped = inputs.mapInPandas(map_partition, schema=KV_SCHEMA)
    out = str(tmp_path / "intermediate")
    write_intermediate_json(mapped, out, n_reduce=10)
    back = read_intermediate_json(spark, out)
    orig = sorted((r["key"], r["value"]) for r in mapped.collect())
    got = sorted((r["key"], r["value"]) for r in back.collect())
    assert got == orig


def test_run_job_bucket_is_byte_exact_for_unicode_keys(spark):
    """Bucket ids must come from FNV over UTF-8 bytes (bucket_of), not JVM
    code points — they diverge on non-ASCII keys like 'café'."""
    from mapreduce_framework_spark.mr.runner import bucket_of

    inputs = spark.createDataFrame(
        [("f1", "ignored")], schema="name string, contents string"
    )

    def map_fn(name, contents):
        return [("café", "1"), ("naïve", "1"), ("ascii", "1")]

    def reduce_fn(key, values):
        return str(len(values))

    rows = run_job(inputs, map_fn, reduce_fn, n_reduce=10).collect()
    got = {r["key"]: r["bucket"] for r in rows}
    assert got == {k: bucket_of(k, 10) for k in got}


CHAOS_MANY_SCRIPT = (
    """
import sys
sys.path.insert(0, "/root/repo")
import random
import time
from pyspark.sql import SparkSession
from pyspark import TaskContext
from mapreduce_framework_spark.mr import run_job, run_sequential, frame_as_inputs
from mapreduce_framework_spark.catalog import table
from pyspark.sql import functions as F

# The reference amplifies flakiness by looping its whole crash suite N
# times (src/main/test-mr-many.sh:15-22); this is the Spark analog: N
# trials of RANDOMIZED fault injection (crash.go:20-32 draws exit-vs-sleep
# per invocation), each trial's output byte-compared to the clean golden.
# Crashes are pseudo-random but seeded from (trial, partition, attempt) so
# any failure reproduces; attempts >= 2 always succeed, so with
# maxFailures=4 every trial must complete.
spark = (SparkSession.builder.master("local[4, 4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("chaos-many").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sf_dir = sys.argv[1]
n_trials = int(sys.argv[2])

docs = table(spark, "documents", sf_dir)
local = [(r[0], r[1]) for r in docs.select(F.col("doc_id").cast("string"), "text").collect()]

def clean_map(name, contents):
    import re
    ws = [w for w in re.split("[^a-zA-Z]+", contents) if w]
    return [(w, "1") for w in ws]

def reduce_fn(key, values):
    return str(len(values))

golden = sorted(run_sequential(local, clean_map, reduce_fn))

for trial in range(n_trials):
    fired = set()  # deserialized fresh per task: the fault fires once per
                   # task attempt, not once per record

    def map_fn(name, contents, _trial=trial, _fired=fired):
        ctx = TaskContext.get()
        key = f"{_trial}-{ctx.partitionId()}-{ctx.attemptNumber()}"
        if ctx.attemptNumber() < 2 and key not in _fired:
            _fired.add(key)
            draw = random.Random(key).random()
            if draw < 1.0 / 3.0:
                raise RuntimeError("injected crash (crash.go analog)")
            if draw < 2.0 / 3.0:
                time.sleep(random.Random(key + "s").random())  # straggler analog
        import re
        ws = [w for w in re.split("[^a-zA-Z]+", contents) if w]
        return [(w, "1") for w in ws]

    inputs = frame_as_inputs(docs, "doc_id", "text")
    result = run_job(inputs, map_fn, reduce_fn, n_reduce=10)
    got = sorted(f"{r['key']} {r['value']}" for r in result.collect())
    assert got == golden, f"trial {trial} diverged from golden"
    print(f"TRIAL_{trial}_OK")
print("CHAOS_MANY_OK")
    """
)


@pytest.mark.slow  # r14 item 2: chaos soak; single-trial retry/golden tests stay
def test_chaos_many_trials_match_golden(sf_dir):
    """test-mr-many.sh parity: 3 trials of randomized crash + straggler
    injection; every trial's distributed output must equal the sequential
    golden (exactly-once output under re-execution, amplified)."""
    proc = subprocess.run(
        [sys.executable, "-c", CHAOS_MANY_SCRIPT, sf_dir, "3"],
        capture_output=True,
        text=True,
        timeout=540,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "CHAOS_MANY_OK" in proc.stdout
