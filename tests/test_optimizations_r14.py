"""Round-14 optimization pins (OPTIMIZATION_r14.md).

Focused tests for the operator internals this round touched:
- the bucketed banded-index layout (publish/match identity + plan shape),
- q88's per-row top-2-gram rewrite (equivalence vs the pre-r14
  distributed shape on clean/empty/NULL/tie-heavy inputs + plan shape),
- q90's materialized narrow tok frame (plan shape: one corpus scan).
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table


def test_bench_compact_line_fits_driver_tail_capture():
    """The driver captures the LAST 2000 bytes of bench stdout and parses
    the final line; overflow silently nulls the round's machine-readable
    bench signal (it did so in r6/r7 and r12 — VERDICT r13 item 5). Guard:
    the compact line, rendered with worst-case numeric widths for every
    timed query, must keep headroom under the cap. If this fails, move
    series to the full record / steady_state line, never widen the line."""
    import json

    import bench

    compact = {
        "metric": "headline_suite_wall_clock",
        "value": 99999.999,
        "unit": "sec",
        "queries_exec_warm": {n: 9999.999 for n in bench.HEADLINE},
        "exec_cold_total_sec": 99999.999,
        "exec_warm_total_sec": 99999.999,
        "build_total_sec": 99999.999,
        "sf": "/root/testdata/sf0.001",
        "n_queries": len(bench.HEADLINE),
        "r1_subset_sec": 99999.999,
        "r1_subset_exec_sec": 99999.999,
        "r1_subset_exec_warm_sec": 99999.999,
        "loadavg": [99.99, 99.99, 99.99],
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) <= 1900, (
        f"bench compact line would be {len(line)} B at worst-case widths; "
        "the driver tail capture is 2000 B"
    )


@pytest.fixture(scope="module")
def banded_fixture(spark, sf_dir, tmp_path_factory):
    from mapreduce_framework_spark.pipeline.dedup import (
        banded_signatures,
        index_signatures,
    )

    root = tmp_path_factory.mktemp("bucketed_bands")
    docs = table(spark, "documents", sf_dir)
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    sigs_path = str(root / "sigs")
    index_signatures(docs.where(F.col("doc_id") < cut)).write.mode(
        "overwrite"
    ).parquet(sigs_path)
    idx = spark.read.parquet(sigs_path)
    bands = banded_signatures(idx)
    bands_path = str(root / "bands")
    bands.write.mode("overwrite").parquet(bands_path)
    return {
        "idx": idx,
        "bands_plain": spark.read.parquet(bands_path),
        "bands_df": bands,
        "new_docs": docs.where(F.col("doc_id") >= cut),
        "root": root,
    }


def test_bucketed_bands_match_identity(spark, banded_fixture):
    """match_batch over the bucketed band table returns exactly the rows
    of the plain parquet band layout (the layout is a physical property,
    never a semantic one)."""
    from mapreduce_framework_spark.pipeline.dedup import (
        match_batch,
        publish_banded_bucketed,
    )

    fx = banded_fixture
    publish_banded_bucketed(
        fx["bands_df"],
        "t_r14_bands_bucketed",
        str(fx["root"] / "bands_bucketed"),
        n_buckets=8,
    )
    plain = sorted(
        map(
            tuple,
            match_batch(
                fx["idx"], fx["new_docs"], index_bands=fx["bands_plain"]
            ).collect(),
        )
    )
    bucketed = sorted(
        map(
            tuple,
            match_batch(
                fx["idx"],
                fx["new_docs"],
                index_bands=spark.table("t_r14_bands_bucketed"),
            ).collect(),
        )
    )
    assert plain == bucketed
    assert len(plain) > 0


def test_bucketed_bands_probe_side_has_no_exchange(spark, banded_fixture):
    """With broadcast disabled (the at-scale shape: a batch too large to
    broadcast), the candidate join's INDEX side is the bucketed scan with
    no Exchange above it — only the batch side shuffles. The plain
    parquet layout pays Exchanges on both sides of the same join."""
    from mapreduce_framework_spark.pipeline.dedup import (
        match_batch,
        publish_banded_bucketed,
    )

    fx = banded_fixture
    publish_banded_bucketed(
        fx["bands_df"],
        "t_r14_bands_bucketed_plan",
        str(fx["root"] / "bands_bucketed_plan"),
        n_buckets=8,
    )
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    # each key is restored to its own prior value, and an unset key to unset
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")

        def band_exchanges(bands):
            df = match_batch(fx["idx"], fx["new_docs"], index_bands=bands)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(r"Exchange hashpartitioning\(band", plan)), plan

        n_plain, _ = band_exchanges(fx["bands_plain"])
        n_bucketed, plan_b = band_exchanges(
            spark.table("t_r14_bands_bucketed_plan")
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # The candidate-join subtree can appear k times in the executed plan
    # (the verify semi-joins re-derive candidates when AQE does not reuse
    # the stage); plain pays 2 band exchanges per appearance (both sides),
    # bucketed pays only the batch side — so bucketing removes at least
    # half of all band-keyed exchanges (observed: 8 -> 4 at sf0.01).
    assert n_plain >= 2  # both candidate-join sides shuffled
    assert 1 <= n_bucketed <= n_plain // 2  # every index side exchange-free
    assert "Bucketed: true" in plan_b


def _repetition_stats_distributed(docs):
    """The pre-r14 distributed shape of repetition_stats (explode ->
    (doc, gram) count -> max -> join back), kept verbatim as the
    equivalence oracle for the per-row rewrite."""
    from mapreduce_framework_spark.functions.text import tokenize
    from mapreduce_framework_spark.pipeline.quality import (
        DUP_FRAC_MAX,
        TOP2_FRAC_MAX,
    )

    t = docs.select("doc_id", tokenize("text").alias("toks"))
    base = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
    )
    grams = t.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("gram"),
    )
    top = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top2_count"))
    )
    j = base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.when(
            F.col("n_tokens") > 0,
            1 - F.col("n_distinct").cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        F.coalesce(F.col("top2_count"), F.lit(0)).cast("bigint").alias("top2_count"),
        F.when(
            F.col("n_tokens") > 1,
            F.coalesce(F.col("top2_count"), F.lit(0)).cast("double")
            / (F.col("n_tokens") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("top2_frac"),
    )
    return j.withColumn(
        "is_repetitive",
        (F.col("dup_frac") > DUP_FRAC_MAX) | (F.col("top2_frac") > TOP2_FRAC_MAX),
    )


def test_repetition_stats_rowwise_matches_distributed(spark, sf_dir):
    """The per-row top-2 rewrite returns row-identical results to the
    pre-r14 distributed shape — on the real corpus AND on adversarial
    rows (NULL text, empty, one token, all-identical grams, ties between
    two gram runs, separator-only text)."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.quality import repetition_stats

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    dirty = spark.createDataFrame(
        [
            (10_000_001, None),
            (10_000_002, ""),
            (10_000_003, "one"),
            (10_000_004, "a a a a a a"),          # single dominant 2-gram run
            (10_000_005, "a b a b a b"),          # alternating: 'a b' vs 'b a' tie
            (10_000_006, "x y x y z z z z"),      # tie broken by a later run
            (10_000_007, "..., !!! ???"),         # separator-only -> 0 tokens
            (10_000_008, "Case case CASE case"),  # case-sensitive tokens
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(dirty)
    new = sorted(map(tuple, repetition_stats(both).collect()))
    old = sorted(map(tuple, _repetition_stats_distributed(both).collect()))
    assert new == old
    assert len(new) == both.count()


def test_repetition_stats_plan_has_no_exchange(spark, sf_dir):
    """q88's frame is now one scan, zero shuffles: no Exchange, no join,
    and exactly one parquet scan in the plan (the old shape had two scans,
    a gram exchange and a doc_id join)."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.quality import repetition_stats

    df = repetition_stats(table(spark, "documents", sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 1


def test_domain_mix_sample_single_scan(spark, sf_dir):
    """domain_mix_sample materializes the narrow tok frame once: the plan
    shows ExistingRDD consumers and at most one parquet scan (pre-r14 it
    tokenized the corpus twice)."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.sampling import domain_mix_sample

    df = domain_mix_sample(table(spark, "documents", sf_dir))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet|FileScan parquet", plan)) == 0
    assert "ExistingRDD" in plan
