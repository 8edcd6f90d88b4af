"""mapreduce_framework_spark — a PySpark-native analytics engine.

A ground-up, Spark-first re-expression of the capabilities of the
``2000yeshu/mapreduce-framework`` reference (MIT 6.824 2022 labs): the
general-purpose MapReduce dataflow engine (reference ``src/mr/``), its 8
applications (``src/mrapps/``), the declared KV-store semantics
(``src/kvraft/``, ``src/models/kv.go``) — plus a relational / streaming /
LLM-data-pipeline surface built entirely on the Spark DataFrame API so
Catalyst + Tungsten own the physical plan.

Layout
------
- ``session``    : SparkSession factory tuned for local[N] testing and
                   100 TB-cluster defaults (AQE, Arrow, shuffle sizing).
- ``catalog``    : loaders for the synthetic TPC-H-ish test tables.
- ``mr``         : the generic map/reduce job runner (reference parity)
                   and the 8 reference applications.
- ``functions``  : cross-engine deterministic scalar helpers (FNV-32a,
                   tokenizer, shard expr) kept JVM-side where possible.
- ``operators``  : relational query builders (joins, aggs, windows, ...)
                   and the KV event-log replay operators.
- ``streaming``  : Structured Streaming variants (windows, keyed state,
                   incremental dedup).
- ``pipeline``   : LLM-training-data operators (dedup, similarity
                   search, text analysis, multimodal columns, corpus
                   shaping).
- ``storage``    : data-layout levers (partitioning, bucketing,
                   compaction, range-sorted writes).

The DataFrame-in/DataFrame-out library surface (everything a pipeline
composes without going through the query registry) is re-exported here.
"""

__version__ = "0.2.0"


def __getattr__(name):
    # Lazy re-exports: importing the package must not pull in pyspark
    # submodule graphs eagerly (deploy.py zips this package for executors
    # at session start, before any operator module is needed).
    from importlib import import_module

    _EXPORTS = {
        "get_spark": "mapreduce_framework_spark.session",
        "table": "mapreduce_framework_spark.catalog",
        "run_job": "mapreduce_framework_spark.mr",
        "run_sequential": "mapreduce_framework_spark.mr",
        # dedup library surface
        "shingles_of": "mapreduce_framework_spark.pipeline.dedup",
        "simhash_of": "mapreduce_framework_spark.pipeline.dedup",
        "simhash_banded_pairs": "mapreduce_framework_spark.pipeline.dedup",
        "lsh_neardup_pairs": "mapreduce_framework_spark.pipeline.dedup",
        "neardup_drop_list": "mapreduce_framework_spark.pipeline.dedup",
        "cross_snapshot_matches": "mapreduce_framework_spark.pipeline.dedup",
        "index_signatures": "mapreduce_framework_spark.pipeline.dedup",
        "match_batch": "mapreduce_framework_spark.pipeline.dedup",
        "span_blocks": "mapreduce_framework_spark.pipeline.span_dedup",
        "span_dedup": "mapreduce_framework_spark.pipeline.span_dedup",
        "exact_substring_dedup": "mapreduce_framework_spark.pipeline.span_dedup",
        "assign_cells": "mapreduce_framework_spark.pipeline.semantic_dedup",
        "semantic_dedup": "mapreduce_framework_spark.pipeline.semantic_dedup",
        "semantic_index": "mapreduce_framework_spark.pipeline.semantic_dedup",
        "semantic_match_batch": "mapreduce_framework_spark.pipeline.semantic_dedup",
        "fit_codebook": "mapreduce_framework_spark.pipeline.codebook",
        "refit_codebook": "mapreduce_framework_spark.pipeline.codebook",
        "quantization_error": "mapreduce_framework_spark.pipeline.codebook",
        "span_index": "mapreduce_framework_spark.pipeline.span_dedup",
        "span_contamination": "mapreduce_framework_spark.pipeline.span_dedup",
        "decontaminate": "mapreduce_framework_spark.pipeline.span_dedup",
        "quantize_embeddings": "mapreduce_framework_spark.pipeline.similarity",
        "ivf_index": "mapreduce_framework_spark.pipeline.similarity",
        "probe_ivf_index": "mapreduce_framework_spark.pipeline.similarity",
        "connected_components": "mapreduce_framework_spark.operators.graph",
        # corpus shaping
        "training_corpus": "mapreduce_framework_spark.pipeline.sampling",
        "stratified_sample": "mapreduce_framework_spark.pipeline.sampling",
        "pack_sequences": "mapreduce_framework_spark.pipeline.sampling",
        "domain_mix_sample": "mapreduce_framework_spark.pipeline.sampling",
        "chunk_documents": "mapreduce_framework_spark.pipeline.sampling",
        "token_counts": "mapreduce_framework_spark.pipeline.sampling",
        # tokenizer seam
        "train_bpe": "mapreduce_framework_spark.functions.tokenizers",
        "BpeTokenizer": "mapreduce_framework_spark.functions.tokenizers",
        # quality filters / scrubbing
        "repetition_stats": "mapreduce_framework_spark.pipeline.quality",
        "scrub_documents": "mapreduce_framework_spark.pipeline.quality",
        # storage layout
        "write_partitioned": "mapreduce_framework_spark.storage",
        "write_bucketed": "mapreduce_framework_spark.storage",
        "compact_parquet": "mapreduce_framework_spark.storage",
        "write_range_sorted": "mapreduce_framework_spark.storage",
        "read_index_manifest": "mapreduce_framework_spark.storage",
        "write_index_manifest": "mapreduce_framework_spark.storage",
        # streaming
        "streaming_exact_dedup": "mapreduce_framework_spark.streaming.dedup",
        "streaming_dedup_within_watermark": "mapreduce_framework_spark.streaming.dedup",
        "exact_fingerprint_index": "mapreduce_framework_spark.pipeline.dedup",
        "exact_match_batch": "mapreduce_framework_spark.pipeline.dedup",
        "make_ingest_batch_fn": "mapreduce_framework_spark.streaming.ingest",
        "make_semantic_ingest_batch_fn": "mapreduce_framework_spark.streaming.ingest",
        "run_sink_stream": "mapreduce_framework_spark.streaming.windows",
    }
    if name in _EXPORTS:
        return getattr(import_module(_EXPORTS[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
