"""KV-store semantics as event-log replay — Q06–Q08, Q28 (SURVEY §2.3).

The reference declares (via client contract + porcupine model, servers are
stubs) a linearizable string KV store:

- ``Get(key) -> value`` ('' if absent)            src/kvraft/client.go:27-43
- ``Put(key, value)``  overwrite                  src/kvraft/client.go:59-61
- ``Append(key, value)`` state ← state ⧺ value    src/kvraft/client.go:62-64
  (model step fn: src/models/kv.go:40-54)
- shard(key) = int(first byte) mod 10             src/shardkv/client.go:22-29

For an analytics engine the linearization order *is given* (a deterministic
total order over the op log), so the whole KV semantics reduce to an ordered
per-key fold — consensus/replication is out of scope (SURVEY §7 risk 6).

There is no ``kv_ops`` table in the driver's testdata, so the op log is
**derived deterministically from the `events` table** with the exact same
expression in Spark and in the DuckDB oracle (both engines read the same
parquet, so the derivation cancels out and only the fold semantics are under
test). Values use the reference testers' grammar ``"x <id> <seq> y"``
(src/kvraft/test_test.go:141).

Scale design: everything is partitioned by key — the row_number, the fold,
and the streaming state (q28) — so there is no global-order bottleneck; a
key's history must fit in one executor (same memory model as the reference,
which holds all values of a key in RAM, src/mr/worker.go:148-177).
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import EVENTS_US_SQL, table
from mapreduce_framework_spark.registry import register

MID_TS = "2024-01-16 00:00:00"

# DuckDB twin of kv_ops(): keep both textually parallel.
KV_OPS_SQL = f"""
    SELECT ts, event_id,
           chr(97 + CAST(user_id % 26 AS INT)) || CAST(user_id % 50 AS VARCHAR) AS key,
           CASE event_type
             WHEN 'view' THEN 'get'
             WHEN 'purchase' THEN 'put'
             WHEN 'signup' THEN 'put'
             ELSE 'append'
           END AS op,
           CASE event_type
             WHEN 'view' THEN ''
             ELSE concat_ws(' ', 'x', CAST(user_id AS VARCHAR), CAST(event_id AS VARCHAR), 'y')
           END AS value
    FROM {EVENTS_US_SQL} ev_us
"""


def kv_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived KV op log: (ts, event_id, key, op, value).

    (ts, event_id) is the linearization order (event_id breaks ts ties).
    Key construction covers all 10 shard buckets (first chars a..z).

    NULL POLICY (round 10, exposed by the sweep's user_id null plan): a
    NULL user_id yields a NULL key (concat propagates NULL on both
    engines — the NULL-key group the fold keeps, see _fold_sql) but a
    NON-NULL value: both sides build the value with concat_ws, which
    skips NULL parts, so the fold never concatenates a NULL payload
    ('x <event_id> y' for a NULL user). The op column never depends on
    user_id.
    """
    ev = table(spark, "events", sf_dir)
    key = F.concat(
        F.expr("char(97 + CAST(user_id % 26 AS INT))"),
        (F.col("user_id") % 50).cast("string"),
    )
    op = (
        F.when(F.col("event_type") == "view", "get")
        .when(F.col("event_type").isin("purchase", "signup"), "put")
        .otherwise("append")
    )
    value = F.when(F.col("event_type") == "view", F.lit("")).otherwise(
        F.concat_ws(" ", F.lit("x"), F.col("user_id"), F.col("event_id"), F.lit("y"))
    )
    return ev.select(
        "ts", "event_id", key.alias("key"), op.alias("op"), value.alias("value")
    )


def _fold_sql(where: str = "") -> str:
    """Final state per key: value of last put ('' if none) ⧺ all appends
    after it, in linearization order (src/models/kv.go:40-54).

    NULL-KEY POLICY (round 10): a NULL key is a group like any other —
    Spark's groupBy and the streaming fold both keep it, so the oracle's
    w↔lp self-join is null-safe (IS NOT DISTINCT FROM), not an equi-join
    that would silently drop the NULL group. Reachable only when a
    source user_id is NULL (the derived key is NULL then); covered by
    the dirty-data sweep's user_id null plan."""
    return f"""
    WITH ops AS ({KV_OPS_SQL}),
    w AS (
      SELECT key, op, value,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY ts, event_id) AS ord
      FROM ops WHERE op <> 'get' {where}
    ),
    lp AS (
      SELECT key, MAX(CASE WHEN op = 'put' THEN ord ELSE 0 END) AS last_put
      FROM w GROUP BY key
    )
    SELECT w.key,
           COALESCE(string_agg(value, '' ORDER BY ord)
                    FILTER (WHERE (op = 'put' AND ord = lp.last_put)
                               OR (op = 'append' AND ord > lp.last_put)), '') AS value
    FROM w JOIN lp ON w.key IS NOT DISTINCT FROM lp.key
    GROUP BY w.key ORDER BY w.key
    """


def _fold_spark(ops: DataFrame) -> DataFrame:
    """DataFrame-native per-key fold: last-put + ordered append concat.

    No applyInPandas, no global sort — one shuffle on key; the per-key
    history is folded with JVM-side array functions.

    Round 13 (guide §2.4 — remove a pass): the fold IS the reference's
    imperative replay (src/models/kv.go:40-54 — put resets the state,
    append concatenates), so it is expressed directly as one
    ``aggregate()`` over the (ts, event_id)-sorted op array. The previous
    form assigned a row_number over a per-key window (an extra sort pass
    + projection between the exchange and the aggregate), derived
    ``last_put``, and filter/joined the array — same result, one more
    whole-stage pass (plans/r13/q06_kv_final_state_{before,after}.txt:
    Window+Filter stage removed). Equivalence: the concat of (value at
    the last put) + (appends after it) in order is exactly the left fold
    with put replacing the accumulator. NULL values behave as '' in both
    forms (array_join skips NULL elements; the fold coalesces — the
    oracle's string_agg skips NULLs identically)."""
    w = ops.where(F.col("op") != "get")
    grouped = w.groupBy("key").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "op", "value"))
        ).alias("items"),
    )
    folded = F.aggregate(
        F.col("items"),
        F.lit(""),
        lambda acc, x: F.when(x.op == "put", F.coalesce(x.value, F.lit(""))).otherwise(
            F.concat(acc, F.coalesce(x.value, F.lit("")))
        ),
    )
    return grouped.select("key", folded.alias("value")).orderBy("key")


@register(
    "q06_kv_final_state",
    oracle=_fold_sql(),
    tags=("ref", "K1", "K2", "K3"),
)
def q06_kv_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final KV state after replaying the whole op log in linearization
    order: put=assign, append=concat, get=no-op (src/models/kv.go:40-54)."""
    return _fold_spark(kv_ops(spark, sf_dir))


@register(
    "q07_kv_point_in_time",
    oracle=_fold_sql(where=f"AND ts <= TIMESTAMP '{MID_TS}'"),
    tags=("ref", "K1"),
)
def q07_kv_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State as of a mid-stream timestamp T — a linearizable read at T
    (the reference's Get contract, src/kvraft/client.go:27-43)."""
    ops = kv_ops(spark, sf_dir).where(F.col("ts") <= F.lit(MID_TS).cast("timestamp"))
    return _fold_spark(ops)


@register(
    "q08_shard_histogram",
    oracle=f"""
    WITH ops AS ({KV_OPS_SQL}),
    keys AS (SELECT DISTINCT key FROM ops)
    SELECT CAST(CASE WHEN length(key) > 0
                     THEN unicode(substr(key, 1, 1)) % 10 ELSE 0 END AS INT) AS shard,
           count(*) AS cnt
    FROM keys GROUP BY 1 ORDER BY shard
    """,
    tags=("ref", "K4"),
)
def q08_shard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key2shard routing (src/shardkv/client.go:22-29): shard = first byte
    mod NShards(=10); count of distinct keys per shard. NULL POLICY
    (round 10): a NULL key routes to shard 0 exactly like the empty key —
    Go's guard has no nil string, so NULL-behaves-as-empty is the
    reference-faithful reading; the oracle's CASE mirrors key2shard's
    when/otherwise (length(NULL) > 0 is not TRUE on either engine)."""
    from mapreduce_framework_spark.functions.hashing import key2shard

    keys = kv_ops(spark, sf_dir).select("key").distinct()
    return (
        keys.select(key2shard("key").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("shard")
    )


def fold_ops(state: str, pdf: pd.DataFrame) -> str:
    """THE imperative KV fold (src/models/kv.go:40-54): replay a batch of
    ops sorted by (ts, event_id) onto a prior state. Shared by q28 (batch,
    initial state '') and the streaming keyed-state handler
    (streaming/state.py, carrying state across micro-batches)."""
    pdf = pdf.sort_values(["ts", "event_id"])
    return _replay_ops(state, pdf["op"], pdf["value"])


def _replay_ops(state: str, ops, values) -> str:
    """The put/append rule of :func:`fold_ops` over ops already in
    linearization order: put replaces the state, append concatenates."""
    for op, value in zip(ops, values):
        if op == "put":
            state = value
        elif op == "append":
            state = state + value
    return state


def fold_kv_history(pdf: pd.DataFrame) -> pd.DataFrame:
    """Whole-history fold of one key's ops (the q28 batch path)."""
    return pd.DataFrame(
        {"key": [pdf["key"].iloc[0]], "value": [fold_ops("", pdf)]}
    )


def fold_kv_history_streaming(ops: DataFrame) -> DataFrame:
    """BOUNDED-MEMORY interpreted fold — the scale fix for q28's sole
    perf-weak shape: ``groupBy(key).applyInPandas`` must materialize one
    key's ENTIRE history as a single pandas group, so a hot key's
    multi-GB op log is one task's memory cliff at 100×. This form keeps
    the imperative per-row replay (the point of the q28 path — the
    interpreted twin of streaming/state.py's keyed handler) but streams
    it: repartition by key + sortWithinPartitions(key, ts, event_id) +
    ``mapInPandas``, where Arrow hands each task an ITERATOR of bounded
    record batches and the fold carries (current key, state) ACROSS
    batches. Per-task memory is O(arrow batch) + O(one state string)
    regardless of any key's history length; keys are contiguous within a
    partition by the sort, so a key closes exactly when the next key (or
    the partition end) arrives. Output equals fold_kv_history's
    bit-exactly (pinned by tests/test_kv_model.py, including a forced
    multi-batch hot key), and the plan is one shuffle + one
    ArrowEval-free MapInPandas — the same shuffle count as the
    applyInPandas form, minus the cliff. Registered-path swap is
    scheduled for the round q28 rotates into the driver window
    (registry.py retirement notes)."""

    from mapreduce_framework_spark.mr.runner import walk_sorted_runs

    def fold_partitions(batches):
        # the rows arrive sorted by (key, ts, event_id): each key is one
        # run, folded slice by slice onto one state string
        for keys, states in walk_sorted_runs(
            batches, ["op", "value"], str, _replay_ops, lambda _k, state: state
        ):
            yield pd.DataFrame({"key": keys, "value": states})

    return (
        ops.where(F.col("op") != "get")
        .select("key", "op", "value", "ts", "event_id")
        .repartition("key")
        .sortWithinPartitions("key", "ts", "event_id")
        .mapInPandas(fold_partitions, schema="key string, value string")
    )


@register(
    "q28_kv_stateful_replay",
    oracle=_fold_sql(),
    tags=("ext", "stateful"),
)
def q28_kv_stateful_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fold as q06 computed through the *custom stateful operator*
    path — the interpreted imperative replay that is the batch twin of the
    Structured Streaming applyInPandasWithState operator
    (streaming/state.py). REGISTERED BUILDER SWAP (round 9, scheduled by
    the round-8 registry notes): the fold now runs through
    :func:`fold_kv_history_streaming` — one repartition-by-key shuffle +
    a sorted ``mapInPandas`` whose state carries across Arrow batches, so
    per-task memory is O(arrow batch) + one state string instead of
    applyInPandas's O(key history) cliff (the registry's last perf-weak
    shape). Output is bit-identical to the applyInPandas twin
    (``q28_kv_stateful_replay_grouped`` below, kept for the parity tests);
    same name, same oracle as q06, plus batch-vs-streaming parity in
    tests/test_kv_model.py."""
    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(spark)
    return fold_kv_history_streaming(kv_ops(spark, sf_dir)).orderBy("key")


def q28_kv_stateful_replay_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-round-9 registered form of q28 (groupBy(key).applyInPandas
    with the whole-history fold) — retained as the parity twin the swap is
    pinned against (tests/test_kv_model.py): it shares fold_ops with the
    streaming keyed-state handler, so the three paths (this, the
    registered mapInPandas fold, and streaming/state.py) must all agree."""
    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(spark)
    ops = kv_ops(spark, sf_dir).where(F.col("op") != "get")
    folded = ops.groupBy("key").applyInPandas(
        lambda pdf: fold_kv_history(pdf), schema="key string, value string"
    )
    return folded.orderBy("key")
