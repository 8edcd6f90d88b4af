"""Queries Q01–Q05, Q09, Q10 — the reference MR applications as DataFrames.

Each reproduces the *semantics* of a reference app (``src/mrapps/``) as an
idiomatic, Catalyst-optimizable DataFrame query over the synthetic
``documents`` table (the stand-in for the reference's 8 ``pg-*.txt`` input
files, which are consumed as (filename, contents) pairs —
``src/mr/worker.go:33-38``). The generic imperative map/reduce path lives in
``mapreduce_framework_spark.mr``; these are the algebraic rewrites that scale
(word count as ``groupBy.count`` is map-side-combinable; ``run_job``'s
holistic reduce, which hands every value of a key to one call, is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.functions.hashing import (
    fnv1a32,
    fnv1a32_duckdb,
)
from mapreduce_framework_spark.functions.text import explode_tokens, tokenize_duckdb
from mapreduce_framework_spark.registry import register

_TOK_SQL = tokenize_duckdb("text")
_WORDS_CTE = (
    f"WITH words AS (SELECT doc_id, unnest({_TOK_SQL}) AS word FROM documents)"
)


@register(
    "q01_wordcount",
    oracle=f"""
    {_WORDS_CTE}
    SELECT word, count(*) AS cnt FROM words GROUP BY word ORDER BY word
    """,
    tags=("ref", "A1"),
)
def q01_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count (``src/mrapps/wc.go:21-44``): tokenize on non-letter runs,
    case-sensitive, count per word. Map-side combinable — Spark plans a
    partial_count before the shuffle, unlike the reference's holistic reduce."""
    docs = table(spark, "documents", sf_dir)
    return (
        explode_tokens(docs, "text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("word")
    )


@register(
    "q02_inverted_index",
    oracle=f"""
    {_WORDS_CTE},
    pairs AS (SELECT DISTINCT word, doc_id FROM words)
    SELECT word,
           count(*) AS doc_count,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS docs
    FROM pairs GROUP BY word ORDER BY word
    """,
    tags=("ref", "A2"),
)
def q02_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (``src/mrapps/indexer.go:20-39``): per-doc distinct
    words, then per word: doc frequency + comma-joined doc list sorted by
    doc id (the reference sorts values inside reduce, indexer.go:37)."""
    docs = table(spark, "documents", sf_dir)
    pairs = explode_tokens(docs, "text", keep=["doc_id"])
    # count_distinct(doc_id) alongside collect_set(doc_id) triggers
    # Catalyst's distinct-aggregate rewrite: a two-level aggregation with
    # an extra hashpartitioning(word, doc_id) exchange of the exploded
    # token stream BEFORE the per-word exchange (3 shuffles total;
    # plans/r13/q02_inverted_index_before.txt). collect_set already
    # deduplicates, so size(collect_set) is the same count (doc_id is the
    # non-null PK) with a single plain aggregate — one partial-aggregated
    # shuffle (guide §2.3/§2.4; after-plan: 2 shuffles).
    return (
        pairs.groupBy("word")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("_ids"))
        .select(
            "word",
            F.size("_ids").cast("long").alias("doc_count"),
            F.array_join(
                F.transform(F.col("_ids"), lambda x: x.cast("string")), ","
            ).alias("docs"),
        )
        .orderBy("word")
    )


_CRASH_EMITS_SQL = """
    SELECT 'a' AS key, CAST(doc_id AS VARCHAR) AS value FROM documents
    UNION ALL
    SELECT 'b', CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'c', CAST(length(text) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'd', 'xyzzy' FROM documents
"""


@register(
    "q03_crash_emits",
    oracle=f"""
    WITH emits AS ({_CRASH_EMITS_SQL})
    SELECT key, string_agg(value, ' ' ORDER BY value) AS joined
    FROM emits GROUP BY key ORDER BY key
    """,
    tags=("ref", "A3", "A4"),
)
def q03_crash_emits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data semantics of crash.go/nocrash.go (``src/mrapps/crash.go:34-55``):
    per document emit a→doc name, b→len(name), c→len(contents), d→'xyzzy';
    reduce = space-join of the *sorted* value list. (The crash behavior
    itself is covered by the task-retry chaos test, not a query.)"""
    docs = table(spark, "documents", sf_dir)
    emits = docs.select(
        F.expr(
            "stack(4, "
            "'a', CAST(doc_id AS STRING), "
            "'b', CAST(length(CAST(doc_id AS STRING)) AS STRING), "
            "'c', CAST(length(text) AS STRING), "
            "'d', 'xyzzy') AS (key, value)"
        )
    )
    return (
        emits.groupBy("key")
        .agg(F.array_join(F.array_sort(F.collect_list("value")), " ").alias("joined"))
        .orderBy("key")
    )


@register(
    "q04_per_doc_counts",
    oracle=f"""
    {_WORDS_CTE}
    SELECT doc_id, count(*) AS cnt FROM words GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("ref", "A6"),
)
def q04_per_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-input-file record count (early_exit.go emits (filename,'1') per
    record and reduce counts — ``src/mrapps/early_exit.go:21-40``); here the
    map records are the word tokens, so: tokens per document."""
    docs = table(spark, "documents", sf_dir)
    return (
        explode_tokens(docs, "text", keep=["doc_id"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("doc_id")
    )


@register(
    "q05_global_count",
    oracle="SELECT count(*) AS cnt FROM documents",
    tags=("ref", "A5"),
)
def q05_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total map-input record count (jobcount.go counts map invocations =
    input files — ``src/mrapps/jobcount.go:22-46``)."""
    return table(spark, "documents", sf_dir).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q09_fnv_bucket_histogram",
    oracle=f"""
    {_WORDS_CTE},
    distinct_words AS (SELECT DISTINCT word FROM words)
    SELECT CAST((({fnv1a32_duckdb('word')}) & 2147483647) % 10 AS INT) AS bucket,
           count(*) AS cnt
    FROM distinct_words GROUP BY 1 ORDER BY bucket
    """,
    tags=("ref", "F4"),
)
def q09_fnv_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference hash-partitioner parity (``src/mr/worker.go:16-20``): FNV-32a
    bucket (mod 10) histogram over the distinct words of Q01. The hash is a
    JVM-side ``aggregate`` expression — no Python UDF."""
    docs = table(spark, "documents", sf_dir)
    words = explode_tokens(docs, "text").distinct()
    bucket = (fnv1a32("word").bitwiseAND(F.lit(0x7FFFFFFF)) % 10).cast("int")
    return (
        words.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


@register(
    "q10_global_sort",
    oracle=f"""
    {_WORDS_CTE}
    SELECT word, count(*) AS cnt FROM words GROUP BY word
    ORDER BY cnt DESC, word ASC
    """,
    tags=("ref", "F14"),
)
def q10_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order sort (the sequential oracle's sort,
    ``src/main/mrsequential.go:59``): Q01 result by (count DESC, word ASC).
    Spark plans a range-partitioned sort — no single-node bottleneck."""
    docs = table(spark, "documents", sf_dir)
    return (
        explode_tokens(docs, "text")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
    )
