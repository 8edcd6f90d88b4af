#!/usr/bin/env python3
"""Measured scaling for the LLM-pipeline families (SCALING.md evidence).

Amplifies the documents corpus by self-union with shifted doc_ids (the
same no-synthetic-data methodology as the relational probe in SCALING.md)
and measures wall-clock for the scale-path operators:

- MinHash-LSH near-dup (lsh_neardup_pairs)       — the q31 path
- banded SimHash near-dup (simhash_banded_pairs) — the q73 path
- SimHash fingerprints (simhash_of)              — the q32 scan
- contamination check shape (broadcast shingle join)

Amplified copies are *exact* duplicates of each other, so near-dup pair
counts grow with copies² × planted-pairs + copies-choose-2 × corpus —
realistic for dedup (that's what it exists to find); the number to watch
is wall-clock vs input rows on the signature/banding stages, which must
stay ~linear.

Usage: python tools/scaling_probe.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.deploy import ensure_package_on_executors
from mapreduce_framework_spark.pipeline.dedup import (
    lsh_neardup_pairs,
    shingles_of,
    simhash_banded_pairs,
    simhash_of,
)
from mapreduce_framework_spark.session import get_spark


def amplify(docs, factor: int):
    span = 10_000_000
    parts = [
        docs.select(
            (F.col("doc_id") + F.lit(i * span)).alias("doc_id"),
            "text",
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def timed(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return round(time.perf_counter() - t0, 2), n


def probe_incremental(spark, base) -> None:
    """Round-4 families: the incremental-dedup lifecycle and the chunking
    scan. The index side is amplified (the corpus grows); the batch side
    stays FIXED — match_batch wall must track the batch, not the index."""
    import shutil
    import tempfile

    from mapreduce_framework_spark.pipeline.dedup import (
        banded_signatures,
        index_signatures,
        match_batch,
    )
    from mapreduce_framework_spark.pipeline.sampling import chunk_documents

    max_id = base.agg(F.max("doc_id")).collect()[0][0]
    cut = (max_id + 1) * 9 // 10  # fixed 10% batch, corpus-size-derived
    batch = base.where(F.col("doc_id") >= cut)
    print("| index docs | index build (once) | match_batch wall (rows) | banded match wall | chunking wall (rows) |")
    print("|---|---|---|---|---|")
    for factor in (1, 2, 4):
        index_docs = amplify(base.where(F.col("doc_id") < cut), factor)
        idx_dir = tempfile.mkdtemp(prefix="mfs_probe_idx_")
        try:
            t0 = time.perf_counter()
            index_signatures(index_docs).write.mode("overwrite").parquet(
                os.path.join(idx_dir, "sigs")
            )
            idx = spark.read.parquet(os.path.join(idx_dir, "sigs"))
            banded_signatures(idx).write.mode("overwrite").parquet(
                os.path.join(idx_dir, "bands")
            )
            t_build = round(time.perf_counter() - t0, 2)
            bands = spark.read.parquet(os.path.join(idx_dir, "bands"))
            n_index = idx.count()
            t_match, n_match = timed(match_batch(idx, batch))
            t_banded, n_banded = timed(match_batch(idx, batch, index_bands=bands))
            assert n_banded == n_match
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)
        t_chunk, n_chunks = timed(chunk_documents(amplify(base, factor)))
        print(
            f"| {n_index} | {t_build} s | {t_match} s ({n_match}) | "
            f"{t_banded} s | {t_chunk} s ({n_chunks}) |"
        )


def probe_span_dedup(spark, base, factors=(1, 2, 4)) -> None:
    """Round-4 library-first family: span-level dedup. Amplified copies are
    exact duplicates, so every copy's blocks are dropped in favor of the
    base instance (n_kept collapses); wall must stay ~linear in rows while
    the dropped fraction rises with the amplification. Pass factors up to
    10 for the sf1-equivalent series (50 000 docs)."""
    from mapreduce_framework_spark.pipeline.span_dedup import span_dedup

    print("| docs | span-dedup wall | docs fully deduped |")
    print("|---|---|---|")
    for factor in factors:
        docs = amplify(base, factor)
        t0 = time.perf_counter()
        out = span_dedup(docs)
        gone = out.where(F.col("n_kept") == 0).count()
        n = out.count()
        t = round(time.perf_counter() - t0, 2)
        print(f"| {n} | {t} s | {gone} |")


def probe_lsh_sf1(spark, base) -> None:
    """Round-5 series: the LSH scale path driven to sf1-equivalent row
    counts (sf0.1 amplified ×10 = 50 000 docs ≈ the sf1 corpus). Stages
    are timed separately so the curve shows WHERE cost grows:

    - signature build (shingle scan + 64 partial-agg min()s) — the
      linear stage; must track rows;
    - band candidates (equi-join on (band, bsig)) — count + wall; under
      exact-duplicate amplification true-pair count grows ~copies², so
      candidates must track OUTPUT, not degenerate toward all-pairs
      (candidate/all-pairs ratio printed);
    - verified pairs (estimate prune + exact Jaccard) — end wall.
    """
    from mapreduce_framework_spark.pipeline.dedup import (
        _signatures_from_shingles,
        lsh_band_candidates,
    )

    print("| docs | signature build | band candidates (n, % of all-pairs) | verified pairs (n) | total |")
    print("|---|---|---|---|---|")
    for factor in (1, 2, 4, 10):
        docs = amplify(base, factor)
        n_docs = docs.count()
        t0 = time.perf_counter()
        sh = shingles_of(docs).localCheckpoint(eager=True)
        t_shingle = time.perf_counter() - t0
        t_sig_only, _ = timed(_signatures_from_shingles(sh))
        t_sig = round(t_shingle + t_sig_only, 2)
        t_cand, n_cand = timed(lsh_band_candidates(sh))
        all_pairs = n_docs * (n_docs - 1) / 2
        t_lsh, n_lsh = timed(lsh_neardup_pairs(docs))
        total = round(time.perf_counter() - t0, 2)
        print(
            f"| {n_docs} | {t_sig} s | {t_cand} s ({n_cand}, "
            f"{100 * n_cand / all_pairs:.3f} %) | {t_lsh} s ({n_lsh}) | {total} s |"
        )


def probe_semantic_fixed_k(spark, sf_dir, factors=(1, 2, 4, 10)) -> None:
    """Round-5 series, extended to sf1-equivalent rows in round 6: semantic
    dedup with a FIXED-K external codebook (the parameterization that makes
    the broadcast O(K·dim) at scale). The corpus is amplified; the codebook
    is NOT — assignment wall must track rows, and the drop list must grow
    linearly (every amplified copy is an exact duplicate of its base
    vector, condemned via their shared nearest cells). Round 6 adds the
    CANDIDATE-VOLUME column — the within-cell pair count the cell bound
    exists to control — recorded against the all-pairs quadratic, the same
    readout the LSH series has."""
    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        assign_cells,
        semantic_dedup,
        stride_centroids,
    )

    base = table(spark, "embeddings", sf_dir)
    k = 64
    cents = (
        stride_centroids(base).orderBy("cent_id").limit(k).localCheckpoint(eager=True)
    )
    span = 10_000_000
    print("| vectors | K | candidates (n, % of all-pairs) | semantic-dedup wall (drops) |")
    print("|---|---|---|---|")
    for factor in factors:
        parts = [
            base.select(
                (F.col("vec_id") + F.lit(i * span)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(factor)
        ]
        embs = parts[0]
        for p in parts[1:]:
            embs = embs.unionAll(p)
        n = embs.count()
        asg = assign_cells(embs, centroids=cents)
        t_cand, n_cand = timed(
            asg.alias("a")
            .join(asg.alias("b"), F.col("a.cent_id") == F.col("b.cent_id"))
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select("a.vec_id", "b.vec_id")
            .distinct()
        )
        all_pairs = n * (n - 1) / 2
        t, n_drop = timed(semantic_dedup(embs, centroids=cents))
        print(
            f"| {n} | {k} | {t_cand} s ({n_cand}, {100 * n_cand / all_pairs:.3f} %) | "
            f"{t} s ({n_drop}) |"
        )


def probe_semantic_kn(spark, sf_dir, factors=(1, 2, 4, 10)) -> None:
    """Round-6 companion to the fixed-K series: K GROWS WITH THE CORPUS
    (K = 64·f at amplification f — the documented scale knob). Mean cell
    population stays constant, so the candidate count per vector is
    O(cell × probes) and TOTAL candidates grow ~linearly — the wall curve
    must flatten from the fixed-K quadratic back toward linear. The
    codebook is re-derived per corpus (as a per-snapshot k-means fit
    would be); its broadcast is O(K·dim), still corpus-fraction-tiny."""
    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        assign_cells,
        semantic_dedup,
        stride_centroids,
    )

    base = table(spark, "embeddings", sf_dir)
    span = 10_000_000
    print("| vectors | K | candidates (n, % of all-pairs) | semantic-dedup wall (drops) |")
    print("|---|---|---|---|")
    for factor in factors:
        parts = [
            base.select(
                (F.col("vec_id") + F.lit(i * span)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(factor)
        ]
        embs = parts[0]
        for p in parts[1:]:
            embs = embs.unionAll(p)
        n = embs.count()
        k = 64 * factor
        cents = (
            stride_centroids(embs).orderBy("cent_id").limit(k).localCheckpoint(eager=True)
        )
        asg = assign_cells(embs, centroids=cents)
        t_cand, n_cand = timed(
            asg.alias("a")
            .join(asg.alias("b"), F.col("a.cent_id") == F.col("b.cent_id"))
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select("a.vec_id", "b.vec_id")
            .distinct()
        )
        all_pairs = n * (n - 1) / 2
        t, n_drop = timed(semantic_dedup(embs, centroids=cents))
        print(
            f"| {n} | {k} | {t_cand} s ({n_cand}, {100 * n_cand / all_pairs:.3f} %) | "
            f"{t} s ({n_drop}) |"
        )


def probe_exsub(spark, base, factors=(1, 2, 4)) -> None:
    """Round-6 series for the any-offset exact-substring dedup: stride-1
    instance rows grow ~tokens (10x the block form's rows — the
    documented price); wall must stay ~linear in rows while amplified
    copies collapse (every copy's tokens fully covered by its base)."""
    from mapreduce_framework_spark.pipeline.span_dedup import exact_substring_dedup

    print("| docs | exsub wall | fully-covered docs |")
    print("|---|---|---|")
    for factor in factors:
        docs = amplify(base, factor).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        out = exact_substring_dedup(docs)
        gone = out.where(F.col("n_dup_tokens") == F.col("n_tokens")).count()
        n = out.count()
        t = round(time.perf_counter() - t0, 2)
        print(f"| {n} | {t} s | {gone} |")


def probe_decon(spark, base, factors=(1, 2, 4)) -> None:
    """Round-6 series for span-level decontamination: the reference index
    (lower half of the corpus) is FIXED and persisted once; the candidate
    batch is amplified ×f. Per-batch cost must stay ~linear in batch rows
    (batch-side shingling + one hash semi-join), and the per-doc coverage
    of the amplified copies must equal their base's exactly."""
    from mapreduce_framework_spark.pipeline.span_dedup import (
        span_contamination,
        span_index,
    )

    cut = base.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    idx = span_index(base.where(F.col("doc_id") < cut)).localCheckpoint(eager=True)
    new_base = base.where(F.col("doc_id") >= cut)
    t0 = time.perf_counter()
    n_idx = idx.count()
    print(f"index: {n_idx} distinct windows ({round(time.perf_counter() - t0, 2)} s)")
    print("| batch docs | decon wall | contaminated docs | cont tokens |")
    print("|---|---|---|---|")
    base_rows = None
    for factor in factors:
        batch = amplify(new_base, factor).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        out = span_contamination(idx, batch)
        n_cont = out.where(F.col("n_cont_tokens") > 0).count()
        tot = out.agg(F.sum("n_cont_tokens")).collect()[0][0]
        n = out.count()
        t = round(time.perf_counter() - t0, 2)
        print(f"| {n} | {t} s | {n_cont} | {tot} |")
        if factor == 1:
            base_rows = (n_cont, tot)
        else:
            assert n_cont == base_rows[0] * factor, "coverage must replicate per copy"
            assert tot == base_rows[1] * factor


def probe_fit(spark, sf_dir, factors=(1, 2, 4, 10)) -> None:
    """Round-6 series for the codebook fitter: fit K = 64·f on the ×f
    corpus (4 Lloyd's iterations, K ∝ n as the semantic series
    prescribes). Per iteration the corpus-side work is one broadcast
    assignment + a K·dim partial agg, so the fit wall must stay ~linear
    in rows; the quantization error is the fit-quality readout."""
    from mapreduce_framework_spark.pipeline.codebook import (
        fit_codebook,
        quantization_error,
    )

    base = table(spark, "embeddings", sf_dir)
    span = 10_000_000
    print("| vectors | K | fit wall (4 iters) | quantization error |")
    print("|---|---|---|---|")
    for factor in factors:
        parts = [
            base.select(
                (F.col("vec_id") + F.lit(i * span)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(factor)
        ]
        embs = parts[0]
        for p in parts[1:]:
            embs = embs.unionAll(p)
        embs = embs.localCheckpoint(eager=True)
        n = embs.count()
        k = 64 * factor
        t0 = time.perf_counter()
        cents = fit_codebook(embs, k=k, iters=4)
        cents.count()
        t = round(time.perf_counter() - t0, 2)
        err = round(quantization_error(embs, cents), 4)
        print(f"| {n} | {k} | {t} s | {err} |")


def probe_span_skew(spark, base, factor=20) -> None:
    """Round-6 series: HOT-SPAN skew. Every document gets the same
    1000-token licence header (100 IDENTICAL 10-token blocks, all
    hashing to ONE bh key) prepended, then the corpus is amplified
    ×``factor`` — at sf0.1×20 that one bh key carries
    100 × n_docs ≈ 10^7 instances. This is the case the span_dedup docstring designs
    for. Timed LIKE-FOR-LIKE on one checkpointed instance frame,
    keep-first stage only:

    - agg form (shipped): groupBy(bh).min(key) + equi-join back — the hot
      key collapses to one row per map partition before the shuffle;
    - window form (anti-pattern baseline, not a shipped path):
      row_number() over (partitionBy bh orderBy key) — the full hot
      partition lands in ONE task and is sorted there.

    Also runs the full span_dedup pipeline for the end-to-end wall and the
    kept-exactly-once invariant."""
    from pyspark.sql import Window

    from mapreduce_framework_spark.pipeline.span_dedup import (
        _POS_CAP,
        span_blocks,
        span_dedup,
    )

    # 1000 copies of one token -> 100 IDENTICAL hot blocks per doc, so ONE
    # bh key carries 100 x n_docs rows (10^7 at sf0.1 x20)
    header = "hotword " * 1000
    hot_base = base.select(
        "doc_id", F.concat(F.lit(header), F.col("text")).alias("text")
    )
    print("| docs | hot-key rows | keep-first agg | keep-first window | full span_dedup | hot kept once |")
    print("|---|---|---|---|---|---|")
    for f in (1, factor):
        docs = amplify(hot_base, f).localCheckpoint(eager=True)
        n = docs.count()
        inst = (
            span_blocks(docs)
            .withColumn("key", F.col("doc_id") * _POS_CAP + F.col("pos"))
            .select("doc_id", "pos", "bh", "key")
            .localCheckpoint(eager=True)
        )
        n_hot = inst.groupBy("bh").count().agg(F.max("count")).collect()[0][0]
        n_distinct = inst.select("bh").distinct().count()
        n_inst = inst.count()
        # rows that cross the wire into the keep-first stage: the agg form
        # ships the MAP-SIDE-COMBINED rows (<= distinct bh per input
        # partition — the hot key collapses to one row per partition); the
        # window form ships EVERY instance row, hot key intact, into one
        # partition that no AQE rule can split
        agg_shuffle_rows = (
            inst.select(F.spark_partition_id().alias("pid"), "bh").distinct().count()
        )
        # shipped form: partial-agg min + join back
        first = inst.groupBy("bh").agg(F.min("key").alias("min_key"))
        t_agg, kept_a = timed(inst.join(first, "bh").where(F.col("key") == F.col("min_key")))
        # anti-pattern baseline: per-bh window sort
        w = Window.partitionBy("bh").orderBy("key")
        t_win, kept_w = timed(
            inst.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        )
        t_full0 = time.perf_counter()
        n_kept_total = span_dedup(docs).agg(F.sum("n_kept")).collect()[0][0]
        t_full = round(time.perf_counter() - t_full0, 2)
        assert n_kept_total == n_distinct == kept_a == kept_w, (
            n_kept_total, n_distinct, kept_a, kept_w,
        )
        print(
            f"| {n} | {n_hot} | {t_agg} s (shuffles {agg_shuffle_rows}) | "
            f"{t_win} s (shuffles {n_inst}, max-key-in-one-task {n_hot}) | {t_full} s | "
            f"yes ({n_distinct} distinct) |"
        )


def probe_bpe(spark, base, factors=(1, 4, 10)) -> None:
    """Round-7 series: the Python-boundary cost of the REAL-tokenizer
    seam. token_stats with a trained BpeTokenizer (Arrow-batched pandas
    UDF riding executor closures) vs the pure-JVM regex default, at
    amplified corpus sizes. The number to watch is tokens/s of the UDF
    path staying flat as rows grow (linear wall), and the plan staying
    ArrowEvalPython — BatchEvalPython (row-at-a-time pickling) anywhere
    is a hard failure."""
    from mapreduce_framework_spark.functions.tokenizers import train_bpe
    from mapreduce_framework_spark.pipeline.text_analysis import token_stats

    sample = [r["text"] for r in base.limit(200).collect() if r["text"]]
    tok = train_bpe(sample, n_merges=200)
    print("| docs | JVM regex wall | BPE UDF wall | BPE tokens | BPE tokens/s |")
    print("|---|---|---|---|---|")
    for f in factors:
        docs = amplify(base, f).localCheckpoint(eager=True)
        n = docs.count()
        t_jvm, _ = timed(token_stats(docs))
        bpe = token_stats(docs, tokenizer=tok)
        plan = bpe._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, "row-at-a-time Python in the plan"
        t0 = time.perf_counter()
        n_toks = bpe.agg(F.sum("real_tokens")).collect()[0][0]
        t_bpe = round(time.perf_counter() - t0, 2)
        print(
            f"| {n} | {t_jvm} s | {t_bpe} s | {n_toks} | "
            f"{int(n_toks / t_bpe)} |"
        )


def probe_refit(spark, sf_dir) -> None:
    """Round-7 series: codebook refresh on a drifted corpus. Fit K=64 on
    the sf embeddings, drift the corpus (every vector shifted by a
    constant offset — a clean distribution shift), then compare three
    books against the DRIFTED corpus: the stale original, the
    warm-started refit (refit_codebook, 4 iters), and a cold re-fit
    (fit_codebook from scratch, 8 iters). Reported per book:
    quantization error, fit wall, and MATCH-DECISION CHURN — the size of
    the symmetric difference between semantic_dedup drop lists under the
    stale vs refreshed book (the number that tells an operator how many
    admission decisions a refresh flips)."""
    from mapreduce_framework_spark.pipeline.codebook import (
        fit_codebook,
        quantization_error,
        refit_codebook,
    )
    from mapreduce_framework_spark.pipeline.semantic_dedup import semantic_dedup

    embs = table(spark, "embeddings", sf_dir).localCheckpoint(eager=True)
    n = embs.count()
    t0 = time.perf_counter()
    old = fit_codebook(embs, k=64, iters=4).localCheckpoint(eager=True)
    t_fit0 = round(time.perf_counter() - t0, 2)
    # drift: shift the first 4 dimensions only — a real distribution move
    # without collapsing the corpus toward one direction (a uniform
    # all-dims shift makes every pair cosine-similar and the decision
    # series degenerate)
    drifted = embs.select(
        "vec_id",
        F.transform(
            "embedding", lambda x, i: x + F.when(i < 4, F.lit(0.8)).otherwise(F.lit(0.0))
        ).alias("embedding"),
        "label",
    ).localCheckpoint(eager=True)

    t0 = time.perf_counter()
    refreshed = refit_codebook(drifted, old, iters=4).localCheckpoint(eager=True)
    t_refit = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    cold = fit_codebook(drifted, k=64, iters=8).localCheckpoint(eager=True)
    t_cold = round(time.perf_counter() - t0, 2)

    qe = {
        "stale": round(quantization_error(drifted, old), 5),
        "refit(4 it)": round(quantization_error(drifted, refreshed), 5),
        "cold(8 it)": round(quantization_error(drifted, cold), 5),
    }
    drops = {}
    for tag, book in (("stale", old), ("refit", refreshed)):
        drops[tag] = {
            r["vec_id"] for r in semantic_dedup(drifted, centroids=book).collect()
        }
    churn = len(drops["stale"] ^ drops["refit"])
    print(f"corpus: {n} vectors, K=64; original fit {t_fit0} s")
    print("| book | fit wall | quantization error on drifted corpus |")
    print("|---|---|---|")
    print(f"| stale (pre-drift) | — | {qe['stale']} |")
    print(f"| refit warm-start (4 iters) | {t_refit} s | {qe['refit(4 it)']} |")
    print(f"| cold re-fit (8 iters) | {t_cold} s | {qe['cold(8 it)']} |")
    print(
        f"match-decision churn stale→refit: {churn} flipped drop decisions "
        f"({len(drops['stale'])} stale drops, {len(drops['refit'])} refit drops)"
    )

    # the streaming-index side of the same refresh: seed the semantic
    # sink with the ORIGINAL book, then swap the committed index under
    # the refreshed book between batches (reindex_semantic_root) and
    # measure the swap wall + the first post-swap match — the operator's
    # actual downtime window for a refresh
    import shutil
    import tempfile

    from mapreduce_framework_spark.streaming.ingest import (
        make_semantic_ingest_batch_fn,
        reindex_semantic_root,
    )

    root = tempfile.mkdtemp(prefix="mfs_refit_swap_")
    try:
        cut = embs.agg(((F.max("vec_id") + 1) / 2).cast("long")).collect()[0][0]
        fn_old = make_semantic_ingest_batch_fn(
            spark, os.path.join(root, "idx"), os.path.join(root, "dec"), old
        )
        fn_old(embs.where(F.col("vec_id") < cut), 0)
        t0 = time.perf_counter()
        reindex_semantic_root(
            spark, os.path.join(root, "idx"), refreshed, next_batch=1
        )
        t_swap = round(time.perf_counter() - t0, 2)
        fn_new = make_semantic_ingest_batch_fn(
            spark, os.path.join(root, "idx"), os.path.join(root, "dec"), refreshed
        )
        t0 = time.perf_counter()
        fn_new(embs.where(F.col("vec_id") >= cut), 1)
        t_post = round(time.perf_counter() - t0, 2)
        print(
            f"streaming-index swap (reindex_semantic_root, {cut} indexed "
            f"vectors): {t_swap} s; first post-swap batch "
            f"({n - cut} vectors): {t_post} s"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def probe_ingest_compaction(spark, base, n_batches=64, compact_every=16) -> None:
    """Round-7 series: the ingest index-maintenance cost at many
    micro-batches, compacted-manifest lifecycle vs unmanaged delta pile.
    A FIXED small batch is admitted ``n_batches`` times (ids shifted so
    nothing matches — every delta lands); measured per run:

    - mean sink wall over the LAST 8 batches (steady state: contains the
      index open, the match join, and the delta+manifest commit);
    - the final index open+count wall and the dir/file counts the next
      batch would pay to read.

    The unmanaged pile pays O(batches) dirs × O(shuffle partitions) files
    per read; the manifest+compaction run reads 1 compacted dir + a
    ≤``compact_every`` tail. At 1e5 batches only the second shape
    survives."""
    import shutil
    import tempfile

    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.streaming.ingest import (
        _index_so_far,
        make_ingest_batch_fn,
    )

    batch0 = base.orderBy("doc_id").limit(50).localCheckpoint(eager=True)
    print(f"| lifecycle | batches | last-8 sink wall/batch | final index read | dirs | files |")
    print("|---|---|---|---|---|---|")
    for tag, ce in (("unmanaged (no compaction)", None), (f"manifest, compact_every={compact_every}", compact_every)):
        root = tempfile.mkdtemp(prefix="mfs_ingest_probe_")
        try:
            fn = make_ingest_batch_fn(
                spark,
                os.path.join(root, "index"),
                os.path.join(root, "decisions"),
                JACCARD_THRESHOLD,
                compact_every=ce,
            )
            walls = []
            for i in range(n_batches):
                b = batch0.select(
                    (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"), "text"
                )
                t0 = time.perf_counter()
                fn(b, i)
                walls.append(time.perf_counter() - t0)
            t_read, _ = timed(_index_so_far(spark, os.path.join(root, "index")))
            idx_root = os.path.join(root, "index")
            dirs = [d for d in os.listdir(idx_root) if os.path.isdir(os.path.join(idx_root, d))]
            files = sum(
                len([f for f in os.listdir(os.path.join(idx_root, d)) if f.endswith(".parquet")])
                for d in dirs
            )
            last8 = round(sum(walls[-8:]) / 8, 2)
            print(f"| {tag} | {n_batches} | {last8} s | {t_read} s | {len(dirs)} | {files} |")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def probe_cascade(spark, base, batch_n=5000) -> None:
    """Round-7 series: per-batch admission wall of the tiered cascade
    sink (exact fingerprint tier in front of MinHash) vs the single-tier
    MinHash sink, as the batch's crawl re-fetch fraction grows. Batch 0
    admits the whole corpus into each sink's index once; then a fixed-
    size batch with {0, 50, 90}% byte-identical re-fetches of index docs
    (rest fresh ids + perturbed text, so nothing else exact-matches) is
    timed as a redelivered batch 1 — overwrite semantics keep the index
    state identical across fractions.

    The quantity that transfers to a cluster: the MinHash tier's work is
    proportional to SURVIVORS of the exact tier (only they are shingled/
    hashed/banded), so on re-fetch-heavy real crawls the cascade's
    per-batch cost falls with the re-fetch fraction, while the exact
    tier itself is one narrow md5 equi-join. At 0% the cascade pays the
    fingerprint join as pure overhead — that delta is the price of the
    tier, also measured here."""
    import shutil
    import tempfile

    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.streaming.ingest import (
        delta_dir,
        make_cascade_ingest_batch_fn,
        make_ingest_batch_fn,
    )

    corpus = base.localCheckpoint(eager=True)
    n_corpus = corpus.count()

    def mixed_batch(refetch_pct: int):
        n_re = batch_n * refetch_pct // 100
        re = (
            corpus.orderBy("doc_id")
            .limit(n_re)
            .select((F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"), "text")
        )
        fresh = (
            corpus.orderBy(F.col("doc_id").desc())
            .limit(batch_n - n_re)
            .select(
                (F.col("doc_id") + F.lit(30_000_000)).alias("doc_id"),
                F.concat(F.lit("fresh marker xyzzy "), F.col("text")).alias("text"),
            )
        )
        return re.unionAll(fresh).localCheckpoint(eager=True)

    roots = {}
    fns = {}
    for tag in ("single", "cascade"):
        root = tempfile.mkdtemp(prefix=f"mfs_cascade_probe_{tag}_")
        roots[tag] = root
        if tag == "single":
            fns[tag] = make_ingest_batch_fn(
                spark,
                os.path.join(root, "sig"),
                os.path.join(root, "dec"),
                JACCARD_THRESHOLD,
            )
        else:
            fns[tag] = make_cascade_ingest_batch_fn(
                spark,
                os.path.join(root, "fp"),
                os.path.join(root, "sig"),
                os.path.join(root, "dec"),
                JACCARD_THRESHOLD,
            )
        t0 = time.perf_counter()
        fns[tag](corpus, 0)
        print(f"{tag}: index build (batch 0, {n_corpus} docs) {round(time.perf_counter() - t0, 2)} s")
    try:
        print(f"| re-fetch % | single-tier wall | cascade wall | minhash-tier docs (cascade) | batch |")
        print("|---|---|---|---|---|")
        for pct in (0, 50, 90):
            b = mixed_batch(pct)
            walls = {}
            for tag in ("single", "cascade"):
                t0 = time.perf_counter()
                fns[tag](b, 1)  # redelivery of batch 1: state stays batch-0-only
                walls[tag] = round(time.perf_counter() - t0, 2)
            # the quantity that transfers: docs the cascade still had to
            # shingle/minhash (= survivors of the exact tier)
            dec = spark.read.parquet(
                delta_dir(os.path.join(roots["cascade"], "dec"), 1)
            )
            survivors = dec.where(
                F.col("tier").isNull() | (F.col("tier") == "near_dup")
            ).count()
            print(
                f"| {pct} | {walls['single']} s | {walls['cascade']} s "
                f"| {survivors} | {batch_n} |"
            )
    finally:
        for root in roots.values():
            shutil.rmtree(root, ignore_errors=True)


def probe_full_cascade(spark, sf_dir, batch_n=2000) -> None:
    """Round-7 series: per-batch wall and PER-TIER WORKLOAD of the full
    three-tier admission sink (exact → MinHash → semantic) as the
    batch's duplicate composition varies, against a semantic-only sink
    on the same batches. The transferable quantity is each tier's INPUT
    size: the MinHash tier shingles only exact-tier survivors and the
    semantic tier scores centroids for only LEXICAL survivors — so the
    embedding stage's work collapses on re-fetch/template-heavy crawls,
    while a paraphrase-heavy batch is the only composition that pays it
    in full (and must: the lexical tiers cannot see paraphrase pairs).
    The semantic-only sink's wall is flat across compositions — it
    scores every doc regardless — which is exactly why it goes last in
    the cascade. Batch 1 is redelivered per mix (overwrite semantics
    keep the index at batch-0 state), as in probe_cascade.

    Mix construction (all corpus-derived, one per tier):
    - exact: byte-identical re-fetch (+20M ids);
    - near_dup: one appended token (+21M), embedding NEGATED so only
      the Jaccard tier can claim it;
    - semantic: char-reversed text with a fresh marker (+22M) — zero
      shared word shingles — carrying the SOURCE embedding (cos 1.0);
    - fresh: reversed text AND negated embedding (+30M) — invisible to
      all three tiers."""
    import shutil
    import tempfile

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.codebook import fit_codebook
    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.streaming.ingest import (
        delta_dir,
        make_full_cascade_ingest_batch_fn,
        make_semantic_ingest_batch_fn,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    embs = table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    corpus = docs.join(embs, "doc_id").localCheckpoint(eager=True)
    n_corpus = corpus.count()
    cb = fit_codebook(
        corpus.select(F.col("doc_id").alias("vec_id"), "embedding"), k=64, iters=2
    ).localCheckpoint(eager=True)

    neg = F.expr("transform(embedding, x -> -x)").alias("embedding")
    rev = F.concat(F.lit("para marker xyzzy "), F.reverse("text")).alias("text")

    def mixed_batch(kind: str, pct: int):
        n_dup = batch_n * pct // 100
        src = corpus.orderBy("doc_id").limit(n_dup)
        if kind == "exact":
            dup = src.select(
                (F.col("doc_id") + F.lit(20_000_000)).alias("doc_id"),
                "text",
                "embedding",
            )
        elif kind == "near_dup":
            dup = src.select(
                (F.col("doc_id") + F.lit(21_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zq")).alias("text"),
                neg,
            )
        else:  # semantic
            dup = src.select(
                (F.col("doc_id") + F.lit(22_000_000)).alias("doc_id"), rev, "embedding"
            )
        fresh = (
            corpus.orderBy(F.col("doc_id").desc())
            .limit(batch_n - n_dup)
            .select((F.col("doc_id") + F.lit(30_000_000)).alias("doc_id"), rev, neg)
        )
        return dup.unionAll(fresh).localCheckpoint(eager=True)

    def mixed_batch_n(n: int, pct: int):
        """60%-exact mix at arbitrary batch size: the corpus is cycled
        with distinct id offsets (an exact dup only needs the TEXT to be
        byte-identical to an index doc; ids are fresh), so the batch-size
        axis is not capped by the corpus size."""
        n_dup = n * pct // 100

        def cycled(m, base_off, xform):
            parts, off = [], base_off
            while m > 0:
                take = min(m, n_corpus)
                parts.append(
                    corpus.orderBy("doc_id")
                    .limit(take)
                    .select(
                        (F.col("doc_id") + F.lit(off)).alias("doc_id"),
                        xform,
                        "embedding",
                    )
                )
                m -= take
                off += 1_000_000
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            return out

        dup = cycled(n_dup, 20_000_000, F.col("text").alias("text"))
        fresh = cycled(n - n_dup, 60_000_000, rev)
        return dup.unionAll(fresh).localCheckpoint(eager=True)

    casc_root = tempfile.mkdtemp(prefix="mfs_fullcasc_probe_")
    sem_root = tempfile.mkdtemp(prefix="mfs_semonly_probe_")
    try:
        fn = make_full_cascade_ingest_batch_fn(
            spark,
            os.path.join(casc_root, "fp"),
            os.path.join(casc_root, "sig"),
            os.path.join(casc_root, "sem"),
            os.path.join(casc_root, "dec"),
            cb,
            JACCARD_THRESHOLD,
        )
        fn_sem = make_semantic_ingest_batch_fn(
            spark,
            os.path.join(sem_root, "idx"),
            os.path.join(sem_root, "dec"),
            cb,
        )
        t0 = time.perf_counter()
        fn(corpus, 0)
        t1 = time.perf_counter()
        fn_sem(corpus.select(F.col("doc_id").alias("vec_id"), "embedding"), 0)
        t2 = time.perf_counter()
        print(
            f"seed batch ({n_corpus} docs): full cascade "
            f"{round(t1 - t0, 2)} s, semantic-only {round(t2 - t1, 2)} s"
        )
        print(
            "| mix | cascade wall | sem-only wall | exact | near_dup "
            "| semantic | sem-tier input docs | batch |"
        )
        print("|---|---|---|---|---|---|---|---|")
        for kind, pct in (
            ("fresh", 0),
            ("exact", 60),
            ("near_dup", 60),
            ("semantic", 60),
        ):
            b = mixed_batch(kind, pct)
            ta = time.perf_counter()
            fn(b, 1)  # redelivery: index state stays batch-0-only
            tb = time.perf_counter()
            fn_sem(b.select(F.col("doc_id").alias("vec_id"), "embedding"), 1)
            tc = time.perf_counter()
            dec = spark.read.parquet(delta_dir(os.path.join(casc_root, "dec"), 1))
            tiers = {
                r["tier"]: r["n"]
                for r in dec.groupBy("tier").agg(F.count("*").alias("n")).collect()
            }
            sem_input = batch_n - tiers.get("exact", 0) - tiers.get("near_dup", 0)
            print(
                f"| {kind} {pct}% | {round(tb - ta, 2)} s | {round(tc - tb, 2)} s "
                f"| {tiers.get('exact', 0)} | {tiers.get('near_dup', 0)} "
                f"| {tiers.get('semantic', 0)} | {sem_input} | {batch_n} |"
            )
        # batch-size axis at a fixed 60%-exact mix: the per-batch fixed
        # cost (scheduling + 4 manifest commits) amortizes as per-doc work
        # grows, which is the claim that transfers to real batch sizes
        print()
        print("| batch (60% exact) | cascade wall | sem-only wall | sem-tier input docs |")
        print("|---|---|---|---|")
        for n in (500, 2000, 8000):
            b = mixed_batch_n(n, 60)
            ta = time.perf_counter()
            fn(b, 1)
            tb = time.perf_counter()
            fn_sem(b.select(F.col("doc_id").alias("vec_id"), "embedding"), 1)
            tc = time.perf_counter()
            dec = spark.read.parquet(delta_dir(os.path.join(casc_root, "dec"), 1))
            rejected = dec.where(
                F.col("tier").isin("exact", "near_dup")
            ).count()
            print(
                f"| {n} | {round(tb - ta, 2)} s | {round(tc - tb, 2)} s "
                f"| {n - rejected} |"
            )
    finally:
        shutil.rmtree(casc_root, ignore_errors=True)
        shutil.rmtree(sem_root, ignore_errors=True)


def _amplified_embeddings(base, factor: int):
    span = 10_000_000
    parts = [
        base.select(
            (F.col("vec_id") + F.lit(i * span)).alias("vec_id"), "embedding", "label"
        )
        for i in range(factor)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def probe_hot_bands(
    spark, sizes=(10_000, 30_000, 100_000), cap=64, batch_n=500
) -> None:
    """Round-8 series: HOT-BAND index skew (VERDICT r7 item 3 — the
    round-6 hot-span probe's shape applied to the banded candidate join).
    A boilerplate cluster of n near-identical index docs (one shared
    40-token template, a 3-way tail variation) shares band signatures, so
    a handful of (band, bsig) join keys carry ~n/3 index rows each — a
    batch of b probes then explodes to ~b x n raw candidate pairs THROUGH
    ONE HOT KEY, the skewed-shuffle scale-killer (at n=1e6, b=2000 that is
    2e9 pairs through single keys no AQE split can save, because every row
    shares the key). cap_banded bounds every key at ``cap`` lowest-doc_ids
    at layout-build/compaction time: candidates become O(b x cap), and the
    REJECT decision is preserved (the saturated band's retained
    representatives still verify >= threshold against any probe that
    matched a dropped member — recall argument in pipeline/dedup.py).
    Columns: max key population and raw candidate-pair volume (the
    shuffle the cap bounds), match_batch wall, and reject parity."""
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        _band_frame,
        _minhash_columns,
        banded_signatures,
        index_signatures,
        match_batch,
        shingles_of,
    )

    # the corpus tokenizer splits on non-letters, so the test vocab must
    # be alphabetic (numeric suffixes would collapse every token to one
    # word and make the whole cluster byte-identical shingle sets)
    alpha = lambda i: chr(97 + (i // 26) % 26) + chr(97 + i % 26)  # noqa: E731
    template = " ".join(f"w{alpha(i)}" for i in range(40))
    tails = F.array(*[F.lit(f"tail{alpha(i)}") for i in range(3)])
    probes = F.array(*[F.lit(f"probe{alpha(i)}") for i in range(3)])
    print(
        f"| index docs | hot key plain | hot key cap={cap} | raw cand plain | "
        "raw cand capped | match plain | match capped | rejects equal |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for n in sizes:
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit(template),
                F.element_at(tails, (F.col("id") % 3 + 1).cast("int")),
            ).alias("text"),
        )
        sigs = index_signatures(docs).localCheckpoint(eager=True)
        plain = banded_signatures(sigs).localCheckpoint(eager=True)
        capped = banded_signatures(sigs, band_cap=cap).localCheckpoint(eager=True)
        hot_p = plain.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
        hot_c = capped.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
        probe = (
            spark.range(batch_n)
            .select(
                (F.col("id") + 50_000_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.lit(template),
                    F.element_at(probes, (F.col("id") % 3 + 1).cast("int")),
                ).alias("text"),
            )
            .localCheckpoint(eager=True)
        )
        pb = _band_frame(_minhash_columns(shingles_of(probe))).localCheckpoint(
            eager=True
        )

        def raw_pairs(idx_bands):
            a, b = idx_bands.alias("a"), pb.alias("b")
            return (
                a.join(
                    b,
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bsig") == F.col("b.bsig")),
                )
                .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
                .distinct()
            )

        t_rp, n_rp = timed(raw_pairs(plain))
        t_rc, n_rc = timed(raw_pairs(capped))
        t_mp, _ = timed(match_batch(sigs, probe, JACCARD_THRESHOLD, index_bands=plain))
        t_mc, _ = timed(
            match_batch(sigs, probe, JACCARD_THRESHOLD, index_bands=capped)
        )
        rej_p = {
            r["id2"]
            for r in match_batch(sigs, probe, JACCARD_THRESHOLD, index_bands=plain)
            .select("id2")
            .distinct()
            .collect()
        }
        rej_c = {
            r["id2"]
            for r in match_batch(sigs, probe, JACCARD_THRESHOLD, index_bands=capped)
            .select("id2")
            .distinct()
            .collect()
        }
        print(
            f"| {n} | {hot_p} | {hot_c} | {n_rp} ({t_rp} s) | {n_rc} ({t_rc} s) "
            f"| {t_mp} s | {t_mc} s | {'yes' if rej_p == rej_c else 'NO'} |"
        )


def probe_hot_bands_xl(spark, n=1_000_000, cap=64, batch_n=500) -> None:
    """The capped path ONLY, at the 10^6-doc boilerplate cluster the main
    series extrapolates to (the plain path there is ~5e8 candidate pairs
    through single keys — pointless to sit through; the series already
    shows it growing with the index). What this measures is the claim
    that matters: with the cap, a batch against a million-doc adversarial
    cluster still costs O(batch)."""
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        banded_signatures,
        index_signatures,
        match_batch,
    )

    alpha = lambda i: chr(97 + (i // 26) % 26) + chr(97 + i % 26)  # noqa: E731
    template = " ".join(f"w{alpha(i)}" for i in range(40))
    tails = F.array(*[F.lit(f"tail{alpha(i)}") for i in range(3)])
    probes = F.array(*[F.lit(f"probe{alpha(i)}") for i in range(3)])
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit(template), F.element_at(tails, (F.col("id") % 3 + 1).cast("int"))
        ).alias("text"),
    )
    t0 = time.perf_counter()
    sigs = index_signatures(docs).localCheckpoint(eager=True)
    t_sig = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    capped = banded_signatures(sigs, band_cap=cap).localCheckpoint(eager=True)
    t_cap = round(time.perf_counter() - t0, 2)
    hot_c = capped.groupBy("band", "bsig").count().agg(F.max("count")).collect()[0][0]
    probe = (
        spark.range(batch_n)
        .select(
            (F.col("id") + 50_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit(template),
                F.element_at(probes, (F.col("id") % 3 + 1).cast("int")),
            ).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    t_m, _ = timed(match_batch(sigs, probe, JACCARD_THRESHOLD, index_bands=capped))
    n_rej = (
        match_batch(sigs, probe, JACCARD_THRESHOLD, index_bands=capped)
        .select("id2")
        .distinct()
        .count()
    )
    print(
        f"1e6-doc boilerplate cluster, cap={cap}: sig build {t_sig} s (once), "
        f"capped layout build {t_cap} s (once), max key {hot_c}, "
        f"match_batch({batch_n} probes) {t_m} s, {n_rej}/{batch_n} rejected"
    )


def probe_autopilot(spark, sf_dir, batch_n=400, twins_n=80, k=32) -> None:
    """Round-9 series (VERDICT r8 task 6): the drift AUTOPILOT measured
    END-TO-END inside a long semantic ingest — refresh_semantic_root_if_needed
    composing measure -> decide -> act between batches of a real sink,
    against a SHADOW chain that never refreshes (the counterfactual the
    round-7 --refit series priced in isolation).

    The sf embeddings are near-uniform on the sphere (measured qerr 0.69
    under ANY fitted book, saturating at 0.77 under arbitrary shifts — no
    cluster structure, hence nothing to drift), so this probe uses the
    synthetic population codebook drift actually happens to: 8 clusters
    with member noise 0.12 (pairwise member cos ~0.81 — ADMITTED at the
    0.9 threshold) and planted near-twins of previously-committed vectors
    (twin noise 0.06, cos ~0.97 — true duplicates the sink must REJECT).
    Population A = the fitted clusters; population B = 8 different
    directions (a topic shift). Under the stale book a B vector's cosines
    to every centroid are small and nearly tied, so the top-SEM_PROBES
    cell ranking decorrelates between a vector and its near-twin —
    candidates are missed and twin recall drops; the autopilot's warm
    refit gives the B clusters cells of their own and recall recovers.
    Autopilot policy: threshold=1.25, window=3, baseline = median of the
    first 4 batches (module defaults)."""
    import numpy as np

    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.codebook import fit_codebook
    from mapreduce_framework_spark.streaming.ingest import (
        delta_dir,
        make_semantic_ingest_batch_fn,
        refresh_semantic_root_if_needed,
    )

    dim, n_clusters, noise, twin_noise = 16, 8, 0.12, 0.06
    threshold = 0.9
    rng = np.random.RandomState(7)

    def directions(n):
        c = rng.randn(n, dim)
        return c / np.linalg.norm(c, axis=1, keepdims=True)

    a_centers = directions(n_clusters)
    b_centers = directions(n_clusters)

    def make_batch(centers, base_id, n):
        cl = rng.randint(0, n_clusters, n)
        vecs = centers[cl] + noise * rng.randn(n, dim)
        return spark.createDataFrame(
            [
                Row(vec_id=base_id + j, embedding=[float(x) for x in vecs[j]])
                for j in range(n)
            ]
        )

    def near_twins(committed_rows, base_id):
        out = []
        for j, r in enumerate(committed_rows[:twins_n]):
            v = np.array(r["embedding"]) + twin_noise * rng.randn(dim)
            out.append(Row(vec_id=base_id + j, embedding=[float(x) for x in v]))
        return spark.createDataFrame(out) if out else None

    fit = make_batch(a_centers, 90_000_000, 1200)
    cents = fit_codebook(
        fit.select("vec_id", "embedding"), k=k, iters=4
    ).localCheckpoint(eager=True)

    import shutil as _shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="mfs_autopilot_")

    def twin_rejects(dec_root, i):
        rows = spark.read.parquet(delta_dir(dec_root, i)).where(
            F.col("vec_id") >= 500_000_000
        )
        return rows.where(~F.col("admitted")).count(), rows.count()

    try:
        # AUTOPILOT chain (refresh between batches when the trend says so)
        # vs SHADOW chain (same batches, stale book forever)
        idx_a, dec_a = os.path.join(root, "idx_a"), os.path.join(root, "dec_a")
        idx_s, dec_s = os.path.join(root, "idx_s"), os.path.join(root, "dec_s")
        held = cents
        fn_a = make_semantic_ingest_batch_fn(spark, idx_a, dec_a, held, threshold)
        fn_s = make_semantic_ingest_batch_fn(spark, idx_s, dec_s, cents, threshold)
        prev_committed = []
        print(
            "| batch | population | sink wall | "
            f"twin rejects autopilot | twin rejects stale | autopilot |"
        )
        print("|---|---|---|---|---|---|")
        for i in range(9):
            pop = "A" if i < 4 else "B (drifted)"
            centers = a_centers if i < 4 else b_centers
            fresh = make_batch(centers, 1_000_000 * (i + 1), batch_n)
            twins = near_twins(prev_committed, 500_000_000 + 1_000_000 * i)
            batch = fresh.unionByName(twins) if twins is not None else fresh
            batch = batch.localCheckpoint(eager=True)
            t0 = time.perf_counter()
            fn_a(batch, i)
            wall = round(time.perf_counter() - t0, 2)
            fn_s(batch, i)
            ra, na = twin_rejects(dec_a, i)
            rs, ns = twin_rejects(dec_s, i)
            # twins for the NEXT batch come from vectors BOTH chains
            # committed (admitted in the autopilot chain; the chains only
            # diverge on twin verdicts, and those are never twin donors)
            admitted_ids = {
                r["vec_id"]
                for r in spark.read.parquet(delta_dir(dec_a, i))
                .where(F.col("admitted") & (F.col("vec_id") < 500_000_000))
                .collect()
            }
            prev_committed = [
                r for r in batch.collect() if r["vec_id"] in admitted_ids
            ]
            t0 = time.perf_counter()
            refreshed = refresh_semantic_root_if_needed(
                spark, idx_a, held, next_batch=i + 1, threshold=1.25, window=3
            )
            ap_wall = round(time.perf_counter() - t0, 3)
            if refreshed is not None:
                held = refreshed
                fn_a = make_semantic_ingest_batch_fn(
                    spark, idx_a, dec_a, held, threshold
                )
                verdict = f"REFIT+SWAP ({ap_wall} s)"
            else:
                verdict = f"no-op ({ap_wall} s)"
            fmt = lambda r, n: f"{r}/{n}" if n else "-"  # noqa: E731
            print(
                f"| {i} | {pop} | {wall} s | {fmt(ra, na)} | {fmt(rs, ns)} "
                f"| {verdict} |"
            )
    finally:
        _shutil.rmtree(root, ignore_errors=True)


def probe_decon_tier(spark, sf_dir, batch_n=None) -> None:
    """Round-9 series: what the opt-in DECONTAMINATION tier costs per
    batch, and that the cost is FLAT in benchmark size (the tier is a
    batch-side tokenize/shingle + a semi-join against the distinct span
    hashes — the benchmark never explodes into the batch). Three
    full-cascade configurations over the same two sf batches: no decon /
    small benchmark (every 100th doc) / large benchmark (every 3rd doc)."""
    import shutil as _shutil
    import tempfile

    from mapreduce_framework_spark.pipeline.codebook import fit_codebook
    from mapreduce_framework_spark.pipeline.span_dedup import span_index
    from mapreduce_framework_spark.streaming.ingest import (
        make_full_cascade_ingest_batch_fn,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    embs = table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    de = docs.join(embs, "doc_id", "left")
    cut = de.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    b0 = de.where(F.col("doc_id") < cut).localCheckpoint(eager=True)
    b1 = de.where(F.col("doc_id") >= cut).localCheckpoint(eager=True)
    cb = fit_codebook(
        table(spark, "embeddings", sf_dir).where(F.col("vec_id") < cut),
        k=64,
        iters=2,
    ).localCheckpoint(eager=True)
    configs = [
        ("no decon", None),
        ("bench = every 100th doc", docs.where(F.col("doc_id") % 100 == 0)),
        ("bench = every 3rd doc", docs.where(F.col("doc_id") % 3 == 0)),
    ]
    print("| config | bench spans | seed batch | match batch |")
    print("|---|---|---|---|")
    for label, bench in configs:
        idx = (
            span_index(bench).localCheckpoint(eager=True)
            if bench is not None
            else None
        )
        n_spans = idx.count() if idx is not None else 0
        root = tempfile.mkdtemp(prefix="mfs_decon_probe_")
        try:
            fn = make_full_cascade_ingest_batch_fn(
                spark,
                os.path.join(root, "fp"),
                os.path.join(root, "sig"),
                os.path.join(root, "sem"),
                os.path.join(root, "dec"),
                cb,
                threshold=0.8,
                benchmark_span_index=idx,
            )
            t0 = time.perf_counter()
            fn(b0, 0)
            t1 = time.perf_counter()
            fn(b1, 1)
            t2 = time.perf_counter()
            print(
                f"| {label} | {n_spans} | {round(t1 - t0, 2)} s | "
                f"{round(t2 - t1, 2)} s |"
            )
        finally:
            _shutil.rmtree(root, ignore_errors=True)


def probe_hot_fp(spark, sizes=(10_000, 100_000, 300_000), batch_n=500) -> None:
    """Round-9 series: HOT-FINGERPRINT index skew (VERDICT r8 missing item
    1 — the round-8 band/cell probe shape applied to the EXACT tier). A
    byte-identical boilerplate cluster of n crawl re-fetches is ONE md5
    key carrying n index rows, so exact_match_batch ships |batch| x n
    pairs THROUGH THAT SINGLE KEY (no AQE split can save identical-key
    rows). The distinct-fp index (cap_fingerprints: min doc_id per fp)
    bounds every key at ONE row — and unlike the band/cell caps this is
    DECISION-LOSSLESS: the admission rule's min(id1) IS the retained row.
    Columns: max fp key population, matched-pair volume, per-batch
    decision wall (exact_match_batch -> min(id1) per doc), decision
    parity."""
    from mapreduce_framework_spark.pipeline.dedup import (
        exact_fingerprint_index,
        exact_match_batch,
    )

    print(
        "| index docs | hot fp full | hot fp distinct | pairs full | "
        "pairs distinct | decide full | decide distinct | decisions equal |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for n in sizes:
        cluster = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.lit("the same boilerplate page body").alias("text"),
        )
        normals = spark.range(5_000).select(
            (F.col("id") + 10_000_000).alias("doc_id"),
            F.concat(F.lit("unique page "), F.col("id").cast("string")).alias("text"),
        )
        docs = cluster.unionByName(normals)
        full = exact_fingerprint_index(docs).localCheckpoint(eager=True)
        dist = exact_fingerprint_index(docs, distinct=True).localCheckpoint(eager=True)
        hot_f = full.groupBy("fp").count().agg(F.max("count")).collect()[0][0]
        hot_d = dist.groupBy("fp").count().agg(F.max("count")).collect()[0][0]
        probes = spark.range(batch_n).select(
            (F.col("id") + 50_000_000).alias("doc_id"),
            F.lit("the same boilerplate page body").alias("text"),
        ).localCheckpoint(eager=True)

        def decide(idx):
            return (
                exact_match_batch(idx, probes)
                .groupBy("id2")
                .agg(F.min("id1").alias("matched_id"))
            )

        t_pf, n_pf = timed(exact_match_batch(full, probes))
        t_pd, n_pd = timed(exact_match_batch(dist, probes))
        t_df, _ = timed(decide(full))
        t_dd, _ = timed(decide(dist))
        eq = {
            (r["id2"], r["matched_id"]) for r in decide(full).collect()
        } == {(r["id2"], r["matched_id"]) for r in decide(dist).collect()}
        print(
            f"| {n} | {hot_f} | {hot_d} | {n_pf} ({t_pf} s) | {n_pd} ({t_pd} s) "
            f"| {t_df} s | {t_dd} s | {'yes' if eq else 'NO'} |"
        )


def probe_hot_fp_xl(spark, n=1_000_000, batch_n=500) -> None:
    """The distinct path at the 10^6-copy cluster itself (the plain path
    there is 5e8 matched pairs through one key — the main series already
    shows it growing linearly with the index). Claim under test: with the
    distinct-fp guard, a batch against a million-copy byte-identical
    cluster costs O(batch) and every probe still reports the min doc_id."""
    from mapreduce_framework_spark.pipeline.dedup import (
        exact_fingerprint_index,
        exact_match_batch,
    )

    cluster = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page body").alias("text"),
    )
    normals = spark.range(5_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("unique page "), F.col("id").cast("string")).alias("text"),
    )
    docs = cluster.unionByName(normals)
    t0 = time.perf_counter()
    dist = exact_fingerprint_index(docs, distinct=True).localCheckpoint(eager=True)
    t_build = round(time.perf_counter() - t0, 2)
    hot_d = dist.groupBy("fp").count().agg(F.max("count")).collect()[0][0]
    probes = spark.range(batch_n).select(
        (F.col("id") + 50_000_000).alias("doc_id"),
        F.lit("the same boilerplate page body").alias("text"),
    ).localCheckpoint(eager=True)
    decide = (
        exact_match_batch(dist, probes)
        .groupBy("id2")
        .agg(F.min("id1").alias("matched_id"))
    )
    t_m, n_m = timed(decide)
    rows = decide.collect()
    ok = len(rows) == batch_n and all(r["matched_id"] == 0 for r in rows)
    print(
        f"1e6-copy byte-identical cluster: distinct-fp build {t_build} s (once), "
        f"max fp key {hot_d}, decide({batch_n} probes) {t_m} s, "
        f"{n_m}/{batch_n} rejected, min-id parity {'yes' if ok else 'NO'}"
    )


def probe_hot_cells(spark, sizes=(10_000, 30_000, 100_000), cap=64, batch_n=500) -> None:
    """Round-8 series: HOT-CELL index skew — the semantic twin of
    --hot-bands. A cluster of IDENTICAL embeddings (crawl re-fetches /
    templated pages) lands its whole mass in one cell regardless of K,
    so the semantic matcher's cent_id equi-join carries |batch| × |cluster|
    candidate pairs through one hot key. cap_cells bounds the cell at
    build/compaction time; for identical-embedding clusters the cap is
    LOSSLESS (every member has the same cosine to any probe — see
    pipeline/semantic_dedup.py:cap_cells)."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        cap_cells,
        semantic_index,
        semantic_match_batch,
    )

    cents = spark.createDataFrame(
        [
            Row(cent_id=i, cent=[float(x) for x in v])
            for i, v in enumerate([[1, 0, 0], [0, 1, 0], [0, 0, 1], [1, 1, 1]])
        ]
    )
    thr = 0.96
    print(
        f"| index vecs | hot cell plain | hot cell cap={cap} | match plain | "
        "match capped | rejects equal |"
    )
    print("|---|---|---|---|---|---|")
    for n in sizes:
        embs = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(4.0), F.lit(0.0), F.lit(0.0)).alias("embedding"),
        )
        idx = semantic_index(embs, cents).localCheckpoint(eager=True)
        capped = cap_cells(idx, cap).localCheckpoint(eager=True)
        hot_p = idx.groupBy("cent_id").count().agg(F.max("count")).collect()[0][0]
        hot_c = capped.groupBy("cent_id").count().agg(F.max("count")).collect()[0][0]
        probe = spark.range(batch_n).select(
            (F.col("id") + 50_000_000).alias("vec_id"),
            F.array(F.lit(4.0), F.lit(0.1), F.lit(0.0)).alias("embedding"),
        )
        t_p, _ = timed(semantic_match_batch(idx, probe, cents, thr))
        t_c, _ = timed(semantic_match_batch(capped, probe, cents, thr))
        rej_p = {
            r["new_id"]
            for r in semantic_match_batch(idx, probe, cents, thr)
            .select("new_id")
            .distinct()
            .collect()
        }
        rej_c = {
            r["new_id"]
            for r in semantic_match_batch(capped, probe, cents, thr)
            .select("new_id")
            .distinct()
            .collect()
        }
        print(
            f"| {n} | {hot_p} | {hot_c} | {t_p} s | {t_c} s | "
            f"{'yes' if rej_p == rej_c else 'NO'} |"
        )


def probe_hot_cells_xl(spark, n=1_000_000, cap=64, batch_n=500) -> None:
    """Capped path only, at the 10^6-vector identical-embedding cluster
    the --hot-cells series extrapolates to (the plain path there is 5e8
    candidate pairs through one cell). The O(batch) steady-state claim,
    measured at the adversary's real size."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        cap_cells,
        semantic_index,
        semantic_match_batch,
    )

    cents = spark.createDataFrame(
        [
            Row(cent_id=i, cent=[float(x) for x in v])
            for i, v in enumerate([[1, 0, 0], [0, 1, 0], [0, 0, 1], [1, 1, 1]])
        ]
    )
    embs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(4.0), F.lit(0.0), F.lit(0.0)).alias("embedding"),
    )
    t0 = time.perf_counter()
    idx = semantic_index(embs, cents).localCheckpoint(eager=True)
    t_idx = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    capped = cap_cells(idx, cap).localCheckpoint(eager=True)
    t_cap = round(time.perf_counter() - t0, 2)
    hot_c = capped.groupBy("cent_id").count().agg(F.max("count")).collect()[0][0]
    probe = spark.range(batch_n).select(
        (F.col("id") + 50_000_000).alias("vec_id"),
        F.array(F.lit(4.0), F.lit(0.1), F.lit(0.0)).alias("embedding"),
    )
    t_m, _ = timed(semantic_match_batch(capped, probe, cents, 0.96))
    n_rej = (
        semantic_match_batch(capped, probe, cents, 0.96)
        .select("new_id")
        .distinct()
        .count()
    )
    print(
        f"1e6-vector identical-embedding cluster, cap={cap}: index build "
        f"{t_idx} s (once), capped layout {t_cap} s (once), max cell {hot_c}, "
        f"semantic_match_batch({batch_n} probes) {t_m} s, {n_rej}/{batch_n} rejected"
    )


def probe_ann_fixed_k(spark, sf_dir) -> None:
    """Round-5 series: IVF ANN with a FIXED-K external codebook (q56's
    round-5 parameterization — broadcast O(K·dim), corpus-independent).
    The corpus is amplified; the codebook and query set are NOT. Numbers
    to watch: IVF wall must track rows (assignment is the only
    corpus-wide pass; at fixed K the probed cells grow linearly, which is
    the documented K-as-knob tradeoff), and recall@k vs the exact
    brute-force baseline ON THE SAME amplified corpus must hold — the
    amplified exact copies land in identical cells, so cell-bounded
    search loses none of them."""
    from mapreduce_framework_spark.pipeline.similarity import (
        TOP_K,
        ann_bruteforce,
        ann_ivf,
        IVF_CENTROID_STRIDE,
        _norms_spark,
        _stride_codebook,
    )

    base = table(spark, "embeddings", sf_dir)
    k = 64
    cents = (
        _stride_codebook(_norms_spark(base), IVF_CENTROID_STRIDE)
        .orderBy("cent_id")
        .limit(k)
        .localCheckpoint(eager=True)
    )
    print("| vectors | K | ivf wall (rows) | brute wall | recall@5 |")
    print("|---|---|---|---|---|")
    for factor in (1, 2, 4):
        embs = _amplified_embeddings(base, factor)
        n = embs.count()
        t0 = time.perf_counter()
        ivf_rows = ann_ivf(embs, centroids=cents, nprobe=2).collect()
        t_ivf = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        exact_rows = ann_bruteforce(embs).collect()
        t_brute = round(time.perf_counter() - t0, 2)
        exact, got = {}, {}
        for r in exact_rows:
            exact.setdefault(r["qid"], set()).add(r["cid"])
        for r in ivf_rows:
            got.setdefault(r["qid"], set()).add(r["cid"])
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        total = sum(len(v) for v in exact.values())
        print(
            f"| {n} | {k} | {t_ivf} s ({len(ivf_rows)}) | {t_brute} s | "
            f"{hits}/{total} = {hits / total:.2f} |"
        )


def probe_events_families(spark, sf_dir) -> None:
    """Round-5 series: the analytics (q97-q99) and temporal (q57/q58)
    families at sf1-equivalent event counts. Amplification shifts
    user_id/event_id so the corpus gains USERS at constant per-user
    density — the realistic growth axis (per-key state and window sizes
    stay constant; only key count grows). Every operator here is one or
    two shuffles keyed by user/session, so wall must track rows."""
    from mapreduce_framework_spark.operators.funnel import (
        cohort_retention,
        session_funnel,
        session_transitions,
    )
    from mapreduce_framework_spark.operators.temporal import (
        asof_last_click,
        range_clicks_prev_hour,
    )

    base = table(spark, "events", sf_dir).select(
        "event_id", "user_id", "ts", "event_type"
    )
    span = 10_000_000
    print("| events | funnel | retention | transitions | asof | range |")
    print("|---|---|---|---|---|---|")
    for factor in (1, 2, 4, 10):
        parts = [
            base.select(
                (F.col("event_id") + F.lit(i * span)).alias("event_id"),
                (F.col("user_id") + F.lit(i * span)).alias("user_id"),
                "ts",
                "event_type",
            )
            for i in range(factor)
        ]
        ev = parts[0]
        for p in parts[1:]:
            ev = ev.unionAll(p)
        ev = ev.localCheckpoint(eager=True)
        n = ev.count()
        t_fun, _ = timed(session_funnel(ev))
        t_ret, _ = timed(cohort_retention(ev))
        t_tra, _ = timed(session_transitions(ev))
        t_aso, _ = timed(asof_last_click(ev))
        t_rng, _ = timed(range_clicks_prev_hour(ev))
        print(
            f"| {n} | {t_fun} s | {t_ret} s | {t_tra} s | {t_aso} s | {t_rng} s |"
        )


def probe_multimodal(spark, sf_dir) -> None:
    """Arrow-batched mapInPandas throughput for the multimodal family
    (q37 featurize / q76 frame-sample / q77 resize) at amplified payload
    counts. The number to watch: wall vs payload rows must stay ~linear
    (each operator is a single scan through Python workers, no shuffle),
    and the per-row cost must not grow with corpus size."""
    from mapreduce_framework_spark.pipeline.multimodal import (
        FEATURE_SCHEMA,
        FRAME_SCHEMA,
        RESIZE_SCHEMA,
        extract_byte_features,
        resize_payloads,
        sample_frames,
    )

    # 8x-repeated text per payload: individual payloads in the KB range,
    # so per-row Python overhead doesn't drown the byte-throughput signal
    base = table(spark, "documents", sf_dir).select(
        "doc_id", F.repeat("text", 8).alias("text")
    )
    total_bytes = base.select(
        F.sum(F.length(F.encode("text", "utf-8")))
    ).collect()[0][0]
    print("| payload rows | MB | featurize | frame-sample (rows) | resize |")
    print("|---|---|---|---|---|")
    warmed = False
    for factor in (1, 1, 2, 4):
        media = (
            amplify(base, factor)
            .select(
                "doc_id",
                F.lit("text/plain").alias("media_type"),
                F.encode("text", "utf-8").alias("payload"),
            )
            .where(F.col("payload").isNotNull())
            .localCheckpoint(eager=True)
        )
        n = media.count()
        mb = round(total_bytes * factor / 1e6, 1)
        if not warmed:  # first pass warms the Python workers; not reported
            warmed = True
            media.mapInPandas(extract_byte_features, schema=FEATURE_SCHEMA).count()
            continue
        t_feat, _ = timed(media.mapInPandas(extract_byte_features, schema=FEATURE_SCHEMA))
        t_frame, n_frames = timed(media.mapInPandas(sample_frames, schema=FRAME_SCHEMA))
        t_rs, _ = timed(media.mapInPandas(resize_payloads, schema=RESIZE_SCHEMA))
        print(f"| {n} | {mb} | {t_feat} s | {t_frame} s ({n_frames}) | {t_rs} s |")



def probe_quality_gate(spark, sf_dir, sizes=(2_000, 8_000, 32_000)) -> None:
    """Round-10 series (the r11 registration evidence): the quality
    gate's per-batch cost is LINEAR in batch rows and INDEPENDENT of any
    index — the tier touches no state, so unlike every other tier there
    is no index-size axis at all. Two measurements: (a) quality_rejects
    wall vs batch rows on real sf docs (expect ~linear; the gram
    aggregate dominates); (b) the full-cascade sink gate-on vs gate-off
    A/B at a fixed batch (the composed marginal cost, which includes the
    smaller downstream tiers working on fewer survivors)."""
    import shutil
    import tempfile

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.codebook import fit_codebook
    from mapreduce_framework_spark.pipeline.quality import quality_rejects
    from mapreduce_framework_spark.streaming.ingest import (
        make_full_cascade_ingest_batch_fn,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    n_docs = docs.count()
    quality_rejects(docs.limit(500)).count()  # warm the plan/JIT
    print("| batch rows | quality_rejects wall | rejects |")
    print("|---|---|---|")
    for n in sizes:
        # amplify beyond the sf corpus with id-shifted copies (the
        # standard no-synthetic-data methodology of this file) — the
        # gate is per-doc, so copies exercise exactly the same work
        factor = max(1, -(-n // n_docs))
        batch = (
            amplify(docs, factor).limit(n).localCheckpoint(eager=True)
            if factor > 1
            else docs.limit(n).localCheckpoint(eager=True)
        )
        t0 = time.perf_counter()
        nrej = quality_rejects(batch).count()
        w = round(time.perf_counter() - t0, 2)
        print(f"| {n} | {w} s | {nrej} |")

    embs = table(spark, "embeddings", sf_dir).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    de = docs.join(embs, "doc_id", "left")
    cut = de.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    b0 = de.where(F.col("doc_id") < cut).localCheckpoint(eager=True)
    b1 = de.where(F.col("doc_id") >= cut).localCheckpoint(eager=True)
    cb = fit_codebook(
        table(spark, "embeddings", sf_dir).where(F.col("vec_id") < cut),
        k=64,
        iters=2,
    ).localCheckpoint(eager=True)
    print("| sink | seed batch | match batch |")
    print("|---|---|---|")
    for gate in (False, True):
        root = tempfile.mkdtemp(prefix="mfs_probe_qg_")
        try:
            fn = make_full_cascade_ingest_batch_fn(
                spark,
                os.path.join(root, "fp"),
                os.path.join(root, "sig"),
                os.path.join(root, "sem"),
                os.path.join(root, "dec"),
                cb,
                threshold=0.8,
                quality_gate=gate,
            )
            t0 = time.perf_counter()
            fn(b0, 0)
            t1 = time.perf_counter()
            fn(b1, 1)
            t2 = time.perf_counter()
            label = "gate ON" if gate else "gate off"
            print(f"| {label} | {round(t1 - t0, 2)} s | {round(t2 - t1, 2)} s |")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="mfs-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_on_executors(spark)
    base = table(spark, "documents", sf_dir).select("doc_id", "text")
    base.count()  # warm
    if "--lsh-sf1" in sys.argv:  # round-5 series only (the long one)
        probe_lsh_sf1(spark, base)
        return
    if "--semantic" in sys.argv:  # round-5 fixed-K codebook series
        probe_semantic_fixed_k(spark, sf_dir)
        return
    if "--ann" in sys.argv:  # round-5 fixed-K IVF ANN series
        probe_ann_fixed_k(spark, sf_dir)
        return
    if "--events-sf1" in sys.argv:  # round-5 analytics/temporal series
        probe_events_families(spark, sf_dir)
        return
    if "--span-sf1" in sys.argv:  # round-5 sf1-equivalent span series
        probe_span_dedup(spark, base, factors=(2, 4, 10))
        return
    if "--span-skew" in sys.argv:  # round-6 hot-span skew series
        probe_span_skew(spark, base)
        return
    if "--semantic-kn" in sys.argv:  # round-6 K-grows-with-corpus series
        probe_semantic_kn(spark, sf_dir)
        return
    if "--exsub" in sys.argv:  # round-6 exact-substring series
        probe_exsub(spark, base)
        return
    if "--fit" in sys.argv:  # round-6 codebook-fitter series
        probe_fit(spark, sf_dir)
        return
    if "--decon" in sys.argv:  # round-6 span-decontamination series
        probe_decon(spark, base)
        return
    if "--soak" in sys.argv:  # round-10 long-horizon composed soak
        probe_soak(spark)
        return
    if "--soak-media" in sys.argv:  # round-12 six-tier composed soak;
        # round-13: --phash-cells=64 runs the birthday-mass width segment
        cells = next(
            (
                int(a.split("=", 1)[1])
                for a in sys.argv
                if a.startswith("--phash-cells=")
            ),
            None,
        )
        probe_soak(spark, media_tier=True, phash_cells=cells)
        return
    if "--quality-net" in sys.argv:  # round-11 composed gate-off/on A/B
        probe_quality_net(spark)
        return
    if "--phash" in sys.argv:  # round-11 perceptual-hash tier series
        probe_phash(spark, base)
        return
    if "--quality-gate" in sys.argv:  # round-10 quality-tier cost series
        probe_quality_gate(spark, sf_dir)
        return
    if "--ingest-compaction" in sys.argv:  # round-7 manifest/compaction series
        probe_ingest_compaction(spark, base)
        return
    if "--cascade" in sys.argv:  # round-7 tiered-admission series
        probe_cascade(spark, base)
        return
    if "--full-cascade" in sys.argv:  # round-7 three-tier economics series
        probe_full_cascade(spark, sf_dir)
        return
    if "--refit" in sys.argv:  # round-7 codebook-refresh drift series
        probe_refit(spark, sf_dir)
        return
    if "--hot-bands" in sys.argv:  # round-8 hot-band skew series
        probe_hot_bands(spark)
        return
    if "--hot-bands-xl" in sys.argv:  # round-8: capped path at 1e6 docs
        probe_hot_bands_xl(spark)
        return
    if "--autopilot" in sys.argv:  # round-9: drift autopilot end-to-end
        probe_autopilot(spark, sf_dir)
        return
    if "--decon-tier" in sys.argv:  # round-9: decon tier per-batch cost
        probe_decon_tier(spark, sf_dir)
        return
    if "--hot-fp" in sys.argv:  # round-9: exact-tier hot-fp skew series
        probe_hot_fp(spark)
        return
    if "--hot-fp-xl" in sys.argv:  # round-9: distinct-fp at a 1e6 cluster
        probe_hot_fp_xl(spark)
        return
    if "--hot-cells" in sys.argv:  # round-8: semantic hot-cell twin
        probe_hot_cells(spark)
        return
    if "--hot-cells-xl" in sys.argv:  # round-8: capped cells at 1e6 vecs
        probe_hot_cells_xl(spark)
        return
    if "--bpe" in sys.argv:  # round-7 tokenizer Python-boundary series
        probe_bpe(spark, base)
        return
    if "--multimodal" in sys.argv:  # round-5 mapInPandas throughput series
        probe_multimodal(spark, sf_dir)
        return
    probe_incremental(spark, base)
    print()
    probe_span_dedup(spark, base)
    print()

    print(f"| docs | simhash wall | banded-pairs wall (rows) | lsh-pairs wall (rows) | contamination wall |")
    print("|---|---|---|---|---|")
    for factor in (1, 2, 4):
        docs = amplify(base, factor).localCheckpoint(eager=True)
        n_docs = docs.count()
        t_sim, _ = timed(simhash_of(docs))
        t_band, n_band = timed(simhash_banded_pairs(docs))
        t_lsh, n_lsh = timed(lsh_neardup_pairs(docs))
        sh = shingles_of(docs)
        bench = sh.where(F.col("doc_id") < 50).select(
            F.col("doc_id").alias("bench_id"), "s"
        )
        contam = (
            sh.where(F.col("doc_id") >= 50)
            .join(F.broadcast(bench), "s")
            .groupBy("doc_id")
            .agg(F.countDistinct("s").alias("n"))
        )
        t_con, _ = timed(contam)
        print(
            f"| {n_docs} | {t_sim} s | {t_band} s ({n_band}) | "
            f"{t_lsh} s ({n_lsh}) | {t_con} s |"
        )


def run_soak(
    spark,
    n_batches: int = 200,
    batch_n: int = 200,
    compact_every: int = 16,
    crash_at: int | None = 120,
    drift_at: int | None = 110,
    cos_threshold: float = 0.9,
    k: int = 32,
    seed: int = 11,
    quality_gate: bool = True,
    spam_n: int = 6,
    media_tier: bool = False,
    phash_cells: int | None = None,
):
    """Round-10 LONG-HORIZON COMPOSED SOAK (VERDICT r9 task 5): one
    multi-hundred-batch FIVE-tier cascade ingest (quality → exact →
    MinHash → semantic → decon) composing everything hardened in rounds
    8-10 — manifest fencing with atomic acquisition, compaction with cap
    re-application (band_cap/cell_cap), the drift autopilot firing
    mid-run on a real population shift, the decontamination tier against
    a span-indexed benchmark, and the round-10 quality gate — and
    measures the three soak invariants:

    - wall/batch stays FLAT (per-batch work is O(batch) + manifest-
      bounded index reads; compaction keeps file counts bounded);
    - manifest delta lists stay BOUNDED by the compaction cadence on
      every root (fp/sig/bands/sem/decisions);
    - a mid-soak CRASH+TAKEOVER replays the in-flight batch
      byte-identically (redelivery visibility is strictly-before-batch),
      and the fenced predecessor hard-errors instead of writing.

    Synthetic population (the probe_autopilot methodology — the sf
    embeddings have no cluster structure to drift): texts are random
    80-token draws from a 600-word vocab (pass the quality gate by
    construction); embeddings come from 8 unit-sphere cluster centers
    (population A, switching to disjoint population B at ``drift_at`` to
    trip the autopilot). Each batch plants every reject class from
    PREVIOUSLY ADMITTED docs: byte-identical re-fetches (exact tier),
    suffix-append rewrites at Jaccard ~0.96 (MinHash tier), new-text
    embedding twins at cos ~0.97 (semantic tier), verbatim benchmark
    copies (decon tier), and single-word spam (quality tier).

    ``media_tier`` (round 12, opt-in so the r10/r11 five-tier series
    stays comparable): wires the perceptual phash tier
    (phash_index_root) and plants same-length 1-char retouches of
    admitted docs — the SIX-tier production shape of q110 (registered
    r13), soaked with the same crash/fencing/compaction invariants (the
    phash manifest joins the bounded-deltas assertion via roots).
    ``phash_cells`` (round 13) selects the grid width per
    multimodal_dedup.phash_params — the SCALING.md birthday-mass lever:
    at 64 the accidental media_dup mass of the 32-bit run should
    collapse to the planted retouches alone.

    Returns a dict of invariant measurements; probe/pytest assert on it.
    """
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.codebook import fit_codebook
    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.pipeline.span_dedup import span_index
    from mapreduce_framework_spark.storage import WriterFenced, read_index_manifest
    from mapreduce_framework_spark.streaming.ingest import (
        delta_dir,
        make_full_cascade_ingest_batch_fn,
        refresh_semantic_root_if_needed,
    )

    # member noise 0.25 puts same-cluster pairs at cos ~0.5 — far enough
    # below the 0.9 threshold that even the max over hundreds of indexed
    # cluster-mates stays under it (at 0.12 the extreme-value tail
    # semantic-rejected half the fresh docs); twins at 0.05 sit ~0.98
    dim, n_clusters, noise, twin_noise = 16, 8, 0.25, 0.05
    rng = np.random.RandomState(seed)
    # alphabetic-only words: the family tokenizer splits on [^a-zA-Z]+,
    # so digits would collapse every word to "w" and the quality gate
    # would (correctly) spam-reject the whole corpus
    vocab = [
        "w" + chr(97 + i % 26) + chr(97 + (i // 26) % 26) + chr(97 + (i // 676) % 26)
        for i in range(600)
    ]
    if media_tier:
        # the uniform-lowercase vocab is an adversarial LOW-TEXTURE corpus
        # for an average-hash: every cell mean hovers at the global mean,
        # so fresh random docs land within Hamming 4 of each other (70% of
        # pairs measured ≤ 4 — the tier would "correctly" mass-reject the
        # whole stream and starve every later tier). Real corpora carry
        # brightness texture; model it by mixing character case (uppercase
        # sits 32 code points below lowercase), which pushes the median
        # random-pair Hamming to 15 with zero false pairs at this corpus
        # size while the planted 1-char retouch stays ≤ 3. Gated on
        # media_tier so the r10/r11 five-tier soak series stays
        # population-identical.
        vocab = [
            w[:1] + "".join(
                c.upper() if (i >> k) & 1 else c for k, c in enumerate(w[1:])
            )
            for i, w in enumerate(vocab)
        ]

    def text_of(n_tok: int) -> str:
        return " ".join(vocab[j] for j in rng.randint(0, len(vocab), n_tok))

    def directions(n):
        c = rng.randn(n, dim)
        return c / np.linalg.norm(c, axis=1, keepdims=True)

    a_centers, b_centers = directions(n_clusters), directions(n_clusters)

    def vec(centers):
        v = centers[rng.randint(0, n_clusters)] + noise * rng.randn(dim)
        return [float(x) for x in v]

    bench_rows = [
        Row(doc_id=900_000_000 + j, text=text_of(80)) for j in range(40)
    ]
    bench = spark.createDataFrame(bench_rows)
    bsi = span_index(bench).localCheckpoint(eager=True)

    fit = spark.createDataFrame(
        [Row(vec_id=800_000_000 + j, embedding=vec(a_centers)) for j in range(1200)]
    )
    held = fit_codebook(fit, k=k, iters=4).localCheckpoint(eager=True)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")  # tiny batches: the
    # per-batch fixed cost is dominated by shuffle-file and delta-file
    # counts, which at this batch size measure the harness, not the sink
    root = tempfile.mkdtemp(prefix="mfs_soak_")
    root_names = ("fp", "sig", "bands", "sem", "dec") + (
        ("ph",) if media_tier else ()
    )
    roots = {n: os.path.join(root, n) for n in root_names}

    def make_fn():
        return make_full_cascade_ingest_batch_fn(
            spark,
            roots["fp"],
            roots["sig"],
            roots["sem"],
            roots["dec"],
            held,
            threshold=JACCARD_THRESHOLD,
            cos_threshold=cos_threshold,
            compact_every=compact_every,
            sig_bands_root=roots["bands"],
            band_cap=4096,
            cell_cap=4096,
            benchmark_span_index=bsi,
            cont_threshold=0.05,
            quality_gate=quality_gate,
            phash_index_root=roots.get("ph"),
            phash_cells=phash_cells,
        )

    out = {
        "walls": [],
        "autopilot_fired_at": [],
        "crash_replay_identical": None,
        "zombie_fenced": None,
        "tier_counts": {},
        "manifest_delta_counts": {},
    }
    admitted_pool: list = []  # (doc_id, text, embedding) of admitted fresh docs
    try:
        fn = make_fn()
        for i in range(n_batches):
            centers = a_centers if (drift_at is None or i < drift_at) else b_centers
            base = 1_000_000 * (i + 1)
            rows = [
                Row(doc_id=base + j, text=text_of(80), embedding=vec(centers))
                for j in range(batch_n)
            ]
            donors = admitted_pool[-40:]
            for j, d in enumerate(donors[:10]):  # exact-tier re-fetches
                rows.append(Row(doc_id=base + 500_000 + j, text=d[1], embedding=d[2]))
            for j, d in enumerate(donors[10:20]):  # MinHash-tier rewrites
                rows.append(
                    Row(
                        doc_id=base + 600_000 + j,
                        text=d[1] + " " + text_of(3),
                        embedding=vec(centers),
                    )
                )
            for j, d in enumerate(donors[20:30]):  # semantic-tier twins
                tv = np.array(d[2]) + twin_noise * rng.randn(dim)
                rows.append(
                    Row(
                        doc_id=base + 700_000 + j,
                        text=text_of(80),
                        embedding=[float(x) for x in tv],
                    )
                )
            if media_tier:  # media-tier retouches: same-length 1-char
                # perturbation of an admitted doc — word-shingle J ~ 79/81
                # (MinHash would catch it too, but the phash tier runs
                # FIRST, so tier attribution is the media tier's)
                for j, d in enumerate(donors[30:40]):
                    rows.append(
                        Row(
                            doc_id=base + 750_000 + j,
                            text=d[1][:5] + "Q" + d[1][6:],
                            embedding=vec(centers),
                        )
                    )
            for j in range(6):  # decon-tier benchmark copies
                rows.append(
                    Row(
                        doc_id=base + 800_000 + j,
                        text=bench_rows[rng.randint(0, len(bench_rows))]["text"],
                        embedding=vec(centers),
                    )
                )
            for j in range(spam_n):  # quality-tier spam
                rows.append(
                    Row(
                        doc_id=base + 850_000 + j,
                        # spam bodies unique per (batch, doc) — fresh junk
                        # every batch, like a real crawl. With the gate OFF
                        # they must NOT collapse in the exact tier (the
                        # first probe draft reused bodies across batches and
                        # measured md5-dedup, not the junk regime): each
                        # pays full downstream candidate work AND is
                        # admitted into every index, which is precisely
                        # what the gate prevents.
                        text="spam " * 40
                        + vocab[(31 * i + j) % len(vocab)]
                        + " "
                        + vocab[(17 * i + 5 * j + 1) % len(vocab)],
                        embedding=vec(centers),
                    )
                )
            batch = spark.createDataFrame(rows).localCheckpoint(eager=True)

            t0 = time.perf_counter()
            fn(batch, i)
            out["walls"].append(round(time.perf_counter() - t0, 3))

            if crash_at is not None and i == crash_at:
                # crash+takeover: a new acquirer re-delivers the SAME batch
                # delta_dir resolves through the manifest: the takeover's
                # redelivery publishes an epoch-suffixed replacement dir,
                # so re-resolve after the replay
                before = sorted(
                    map(tuple, spark.read.parquet(delta_dir(roots["dec"], i)).collect())
                )
                old_fn = fn
                fn = make_fn()  # re-acquires every root: fences old_fn
                fn(batch, i)  # redelivery (visibility strictly-before-i)
                after = sorted(
                    map(tuple, spark.read.parquet(delta_dir(roots["dec"], i)).collect())
                )
                out["crash_replay_identical"] = before == after
                try:
                    old_fn(batch, i)
                    out["zombie_fenced"] = False
                except WriterFenced:
                    out["zombie_fenced"] = True

            dd = spark.read.parquet(delta_dir(roots["dec"], i))
            for r in dd.groupBy("tier").count().collect():
                key = r["tier"] or "admitted"
                out["tier_counts"][key] = out["tier_counts"].get(key, 0) + r["count"]
            admitted_pool = [
                (r["doc_id"], r["text"], r["embedding"])
                for r in batch.join(
                    dd.where(F.col("admitted")).select("doc_id"), "doc_id"
                ).collect()
                if r["doc_id"] < 1_000_000 * (i + 1) + 500_000
            ]

            refreshed = refresh_semantic_root_if_needed(
                spark, roots["sem"], held, next_batch=i + 1,
                threshold=1.25, window=3,
            )
            if refreshed is not None:
                held = refreshed.localCheckpoint(eager=True)
                fn = make_fn()
                out["autopilot_fired_at"].append(i)

        for name, r in roots.items():
            man = read_index_manifest(r)
            out["manifest_delta_counts"][name] = len(man.get("deltas", []))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)
    return out


def probe_soak(
    spark, n_batches=200, batch_n=200, media_tier=False, phash_cells=None
) -> None:
    """Print the SCALING.md soak table: per-batch wall at {1, 50, 100,
    200} plus the invariant verdicts (see run_soak). ``media_tier``
    runs the round-12 SIX-tier form (phash tier + retouch plants +
    textured vocab); ``phash_cells`` selects the perceptual grid width
    (the round-13 birthday-mass segment passes 64)."""
    res = run_soak(
        spark,
        n_batches=n_batches,
        batch_n=batch_n,
        media_tier=media_tier,
        phash_cells=phash_cells,
    )
    walls = res["walls"]
    print("| batch | wall (s) |")
    print("|---|---|")
    for b in (1, 50, 100, 200):
        if b <= len(walls):
            print(f"| {b} | {walls[b - 1]} |")
    import statistics

    early = statistics.median(walls[4:14]) if len(walls) > 14 else None
    late = statistics.median(walls[-10:])
    print(f"median wall batches 5-14: {early} s; last 10: {late} s")
    print(f"tier counts: {res['tier_counts']}")
    print(f"autopilot fired at: {res['autopilot_fired_at']}")
    print(f"crash replay identical: {res['crash_replay_identical']}")
    print(f"zombie fenced: {res['zombie_fenced']}")
    print(f"manifest delta counts: {res['manifest_delta_counts']}")


def probe_phash(spark, base, factors=(1, 2, 4)) -> None:
    """Round-11 series (the r12 registration evidence for q109): the
    perceptual-hash tier's scale shape.

    (a) hash build wall vs corpus size — expect ~linear (one vectorized
        Arrow/numpy cumsum pass per doc; no shuffle at all);
    (b) banded pairs wall vs corpus size — the (band, bsig) equi-join;
        with 4 bands over 8-bit signatures the keyspace is only 1024, so
        at amplification the join fans out as sum of squares of band
        populations — the reason the INCREMENTAL form (index + O(batch)
        match), not all-corpus pairs, is the production route (same
        verdict as the q30/q31 exact-vs-LSH split);
    (c) the adversarial hot band: a 20k-identical-doc cluster shares all
        4 band keys; the capped match (cap_banded 64) must stay flat
        while staying decision-lossless for the canonical lowest-id
        match (the pigeonhole guarantee only needs ONE surviving band
        row ≤1 bit away, and identical docs keep the lowest ids under
        the cap by construction)."""
    from mapreduce_framework_spark.pipeline.multimodal_dedup import (
        phash_banded_pairs,
        phash_index,
        phash_match_batch,
        phash_of,
    )

    print("| factor | docs | hash build | banded pairs | pairs |")
    print("|---|---|---|---|---|")
    for f in factors:
        docs = amplify(base, f).localCheckpoint(eager=True)
        tw, n = timed(phash_of(docs))
        # NOTE: amplified copies are byte-identical, so every copy-pair is
        # hamming 0 — the pair count grows ~quadratically in factor by
        # construction; the wall column is the signal, the pairs column
        # the explanation
        tp, npairs = timed(phash_banded_pairs(docs))
        print(f"| {f} | {n} | {tw} s | {tp} s | {npairs} |")

    n_hot = 20_000
    from pyspark.sql import Row

    hot = spark.createDataFrame(
        [Row(doc_id=i, text="the same hot boilerplate body " * 4) for i in range(n_hot)]
    )
    idx = phash_index(hot).localCheckpoint(eager=True)
    batch = spark.createDataFrame(
        [Row(doc_id=10_000_000 + i, text="the same hot boilerplate body " * 4) for i in range(200)]
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    got = phash_match_batch(idx, batch, band_cap=64).collect()
    tc = round(time.perf_counter() - t0, 2)
    assert len(got) == 200 and all(r["matched_id"] == 0 and r["hamming"] == 0 for r in got)
    print(
        f"hot cluster {n_hot} identical docs, 200-doc batch, cap 64: "
        f"{tc} s, all matched to canonical doc 0"
    )


def probe_quality_net(spark, sizes=(200, 800, 2000), n_batches=8) -> None:
    """Round-11 series (VERDICT r10 task 6): the quality gate's COMPOSED
    net cost, gate-off vs gate-on, at three batch sizes through the soak
    harness (steady state: no crash, no drift — the cost axis only).
    The round-10 claim was "net-negative in the composed cascade"; this
    makes it a table WITH the mechanism visible: gate-on moves the spam
    plants (and any organic junk) to the stateless 'quality' tier, so
    they never reach the index tiers — fewer survivors shingle, band,
    and probe, and none of the junk is ever INDEXED (gate-off admits
    distinct-bodied spam, which then grows the index and every later
    batch's candidate sets). Two axes: batch size at the default ~3%
    junk (where the gate's fixed floor is the dominant term), and the
    JUNK FRACTION at a fixed batch (where the downstream savings grow
    until the gate pays for itself — the regime of the r10 claim)."""
    import statistics

    def row(batch_n, gate, spam_n, label):
        res = run_soak(
            spark,
            n_batches=n_batches,
            batch_n=batch_n,
            crash_at=None,
            drift_at=None,
            quality_gate=gate,
            spam_n=spam_n,
        )
        med = statistics.median(res["walls"][2:])  # skip seed batches
        g = "ON " if gate else "off"
        print(
            f"| {batch_n} | {label} | gate {g} | {round(med, 2)} s/batch | "
            f"{res['tier_counts']} |",
            flush=True,
        )

    for batch_n in sizes:
        for gate in (False, True):
            row(batch_n, gate, 6, "junk ~3%")
    # the junk-fraction axis: same fixed batch, 30% distinct-bodied spam
    for gate in (False, True):
        row(800, gate, 240, "junk ~30%")


# Keep this at the very END: everything above (incl. the post-main
# soak/quality-net probes) must be defined before the CLI dispatch runs.
if __name__ == "__main__":
    main()
