"""foreachBatch sink: incremental KV-state materialization to parquet.

The third streaming output pattern (alongside the memory/file sinks and
applyInPandasWithState): ``foreachBatch`` hands each micro-batch to
arbitrary batch code, here a MERGE of the batch's per-key fold into a
persisted state table — the standard lakehouse "streaming upsert" shape.
Both merge sinks are configurations of one (``_merge_sink``); each reads
its latest state back as ``result()``, and
``streaming.windows.run_sink_stream`` drives either over a stream.

State versions are written as ``state_v{batch_id}_e{epoch}`` directories
(write-new then read-latest), which keeps each batch's write
atomic-by-directory the same way the reference commits via temp-file +
rename (src/mr/worker.go:68-75); a table format (Delta/Iceberg) would
replace the versioned directories with a real MERGE INTO.

Round 7: the root is addressed through a STATE MANIFEST (the ingest-index
discipline of streaming/ingest.py applied to the latest-pointer shape):
one atomic JSON commit per batch records the retained ``[version, dir]``
pairs, so the read path never lists directories (object-storage-safe), and
retention is bounded — only the last ``STATE_KEEP`` versions survive a
commit, because the strictly-before redelivery rule only ever needs the
version just below the in-flight batch. Without retention a 1e5-batch
stream leaves 1e5 full-state snapshots on disk. A root without a manifest
reads as empty; a sink refuses a manifest-less root that already holds
directories (storage.acquire_manifest_root).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.storage import (
    acquire_manifest_root,
    check_manifest_epoch,
    commit_manifest,
    read_manifest_doc,
    with_entry,
    write_epoch_dir,
)
from mapreduce_framework_spark.streaming.windows import _Sink

STATE_MANIFEST = "_state_manifest.json"  # underscore: invisible to Spark scans
# current version + the one a redelivered in-flight batch reads — the only
# versions the protocol can ever need
STATE_KEEP = 2
# the document a state root's first acquisition commits (no versions yet)
_FRESH_STATE = {"version": 1, "versions": []}


def _latest_state(
    spark: SparkSession, state_root: str, before_batch: int | None = None
) -> DataFrame | None:
    """Latest persisted state version — restricted to versions STRICTLY
    BEFORE ``before_batch`` when merging a batch. That restriction is what
    makes both merge sinks idempotent under foreachBatch's crash-restart
    redelivery: a failed attempt may already have written state_v{N}, and
    merging batch N on top of its own output would double-count it (pinned
    by tests/test_streaming.py::test_merge_sinks_redelivery_idempotent).

    Manifest-addressed (no directory listing; no manifest = no state).
    Asking for a version strictly below the whole retention window is a
    HARD ERROR, not an empty state: it means the checkpoint and the state
    root belong to different streams, and silently re-initializing would
    drop state."""
    man = read_manifest_doc(os.path.join(state_root, STATE_MANIFEST))
    if man is None:
        return None
    versions = [v for v, _ in man["versions"]]
    eligible = [
        e for e in man["versions"] if before_batch is None or e[0] < before_batch
    ]
    if not eligible:
        if versions and before_batch is not None:
            raise ValueError(
                f"state root retains versions {versions} but batch "
                f"{before_batch} needs a version strictly below it — "
                "checkpoint and state root belong to different streams"
            )
        return None
    path = os.path.join(state_root, eligible[-1][1])
    if not os.path.isdir(path):
        raise ValueError(
            f"state manifest references missing dir {path} — refusing to "
            "re-initialize state"
        )
    return spark.read.parquet(path)


def _write_state_version(
    state: DataFrame, state_root: str, batch_id: int, epoch: int
) -> None:
    """Write ``state_v{batch_id}_e{epoch}`` and publish it to the manifest
    (atomic JSON commit that records the dir name), then prune versions
    that fell out of the ``STATE_KEEP`` retention window — strictly AFTER
    the commit, so a crash anywhere leaves either the old manifest with
    all its dirs or the new one with harmless orphans. Every manifest
    field outside the retention window — including the epoch — is
    preserved by the rewrite.

    ``epoch``: the writer's fencing token, checked BEFORE the state write
    and enforced again at the manifest commit. A takeover that lands
    while the write is running is covered by the epoch in the dir name
    (storage.write_epoch_dir), as with index deltas: the fenced writer's
    commit fails and the owner's next commit prunes its orphan."""
    path = os.path.join(state_root, STATE_MANIFEST)
    check_manifest_epoch(path, epoch)
    entry = write_epoch_dir(state, state_root, "state", batch_id, epoch)
    man = read_manifest_doc(path)
    man["versions"] = with_entry(man["versions"], entry)[-STATE_KEEP:]
    # the fencing token is enforced AT the commit through the backend seam
    # (conditional PUT on object storage, last-moment re-check on POSIX)
    commit_manifest(path, man, expected_epoch=epoch)
    keep = {name for _, name in man["versions"]}
    for d in os.listdir(state_root):
        if d.startswith("state_v") and d not in keep:
            shutil.rmtree(os.path.join(state_root, d), ignore_errors=True)


def _merge_sink(spark: SparkSession, state_root: str, name: str, merge) -> _Sink:
    """The foreachBatch sink both merge factories configure: each batch is
    folded onto the state persisted strictly before it by ``merge(batch_df,
    prev)`` (``prev`` None: no state yet), and the fold is written as the
    next state version. ``result()`` is the latest persisted state.
    Constructing the sink ACQUIRES the state root (writer fencing,
    storage.acquire_manifest_root: a lost state commit would silently fork
    the fold history)."""
    epoch = acquire_manifest_root(
        os.path.join(state_root, STATE_MANIFEST), _FRESH_STATE
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = _latest_state(spark, state_root, before_batch=batch_id)
        _write_state_version(merge(batch_df, prev), state_root, batch_id, epoch)

    return _Sink(
        apply_batch,
        lambda: _latest_state(spark, state_root),
        name,
        f"state version under {state_root}",
    )


def make_kv_merge_batch_fn(spark: SparkSession, state_root: str) -> _Sink:
    """The KV merge sink: fold the batch's ops per key on top of the
    previous persisted state (_merge_sink)."""
    from mapreduce_framework_spark.operators.kv import fold_ops

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        import pandas as pd

        def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
            initial = ""
            if pdf["prev_value"].notna().any():
                initial = pdf["prev_value"].dropna().iloc[0]
            ops = pdf[pdf["op"].notna()]
            return pd.DataFrame(
                {"key": [pdf["key"].iloc[0]], "value": [fold_ops(initial, ops)]}
            )

        if prev is None:
            withprev = batch_df.withColumn("prev_value", F.lit(None).cast("string"))
        else:
            withprev = batch_df.join(
                prev.select("key", F.col("value").alias("prev_value")), "key", "left"
            )
        folded = withprev.groupBy("key").applyInPandas(
            fold_group, schema="key string, value string"
        )
        return folded if prev is None else (
            prev.join(folded, "key", "left_anti").unionByName(folded)
        )

    return _merge_sink(spark, state_root, "kv merge", merge)


def make_rollup_merge_batch_fn(spark: SparkSession, state_root: str) -> _Sink:
    """The rollup merge sink, maintaining an hourly continuous aggregate:
    the batch's (hour, event_type) partial aggregates are merged into the
    persisted rollup by re-aggregation (_merge_sink) — pure algebraic
    merge (sum of counts, sum of exact decimals), so the result is
    independent of how events are sliced into batches. This is the
    hypertable continuous-aggregate maintenance loop (q65's rollup, kept
    incrementally fresh); the state table is bounded by hours × types,
    tiny even when the raw stream is 100 TB."""

    def merge(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        from mapreduce_framework_spark.catalog import trunc_ntz_expr

        # NTZ-safe hour bucket — date_trunc coerces NTZ through the
        # session timezone (see catalog.trunc_ntz_expr)
        hourly = batch_df.groupBy(
            F.expr(trunc_ntz_expr("ts", 3600)).alias("h"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("val"),
        )
        return (
            hourly
            if prev is None
            else prev.unionByName(hourly)
            .groupBy("h", "event_type")
            .agg(F.sum("cnt").alias("cnt"), F.sum("val").alias("val"))
        )

    return _merge_sink(spark, state_root, "rollup merge", merge)
