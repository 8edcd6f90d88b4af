"""Driver-checkable Structured Streaming replays.

The streaming operators and ingest sinks are pytest-verified for batch
parity, but a streaming query can't be hash-compared by the external
driver directly — so these builders *run* the stream to completion
(``availableNow``) inside a normal ``(spark, sf_dir) -> DataFrame``
builder and return the materialized result, which a DuckDB oracle then
hash-checks.

Every replay works under one scratch root (:func:`_scratch_root`). The
window and state replays (q82, q83, q94) stream into a memory sink and
reuse their batch twins' oracles verbatim, because streaming-equals-batch
is the operators' contract. The sink replays (q95, q96, q103, q104/q106,
q107/q108/q110) share one staging path (:func:`_staged_replay`): each
batch is written as one parquet part with a pinned, increasing mtime,
streamed back one part per trigger through ``run_sink_stream``, and the
sink's result is checkpointed before the scratch root is removed. The
admission cascades share one sink call (:func:`_cascade_sink`), which
owns the no-usable-centroid fallback.

The cascade oracles are configurations of one DuckDB builder
(:func:`_cascade_oracle`) over per-tier CTE fragments. They are written
independently of the sink's tier list and import nothing from
streaming/ingest.py, so each differential compares two implementations.

At scale the same topology runs continuously (file source → watermark →
windowed agg / keyed state → sink); availableNow is just the bounded
replay of it.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# batch twins must be registered first — their oracles are reused
import mapreduce_framework_spark.operators.kv  # noqa: F401
import mapreduce_framework_spark.operators.windows  # noqa: F401
from mapreduce_framework_spark.catalog import parquet_path
from mapreduce_framework_spark.operators.kv import kv_ops
from mapreduce_framework_spark.registry import REGISTRY, register
from mapreduce_framework_spark.streaming.state import streaming_kv_state
from mapreduce_framework_spark.streaming.windows import (
    read_events_stream,
    run_sink_stream,
    run_stream_to_memory,
    streaming_session_sessions,
    streaming_tumbling_counts,
)


def _stage_events(sf_dir: str, staging: str) -> None:
    """Copy the (read-only) events table into a file-stream staging dir — a
    parquet "file" may itself be a directory when written by Spark."""
    src = parquet_path(sf_dir, "events")
    if os.path.isdir(src):
        for i, f in enumerate(sorted(os.listdir(src))):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(src, f), os.path.join(staging, f"part_{i}.parquet")
                )
    else:
        shutil.copy(src, staging)


def _set_staged_mtime(path: str, when: float) -> None:
    """Pin the modification time of every parquet file under ``path`` (a
    file or a Spark-written dataset directory). FileStreamSource orders
    batches by file mtime; explicit utime makes that order deterministic
    with zero added latency (no sleep-between-writes)."""
    if os.path.isfile(path):
        os.utime(path, (when, when))
        return
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                os.utime(os.path.join(dirpath, f), (when, when))


@contextmanager
def _scratch_root(tag: str) -> Iterator[str]:
    """A fresh, empty directory for one replay run, removed on exit. A
    replay's result must not read from it after exit: the memory sink
    holds its rows, or :func:`_staged_replay` checkpoints them."""
    root = os.path.join("/tmp", f"mfs_{tag}_{uuid.uuid4().hex[:8]}")
    os.makedirs(root)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _staged_replay(
    spark: SparkSession,
    tag: str,
    parts: Sequence[DataFrame],
    run: Callable[[DataFrame, str], DataFrame],
) -> DataFrame:
    """Stream ``parts`` through ``run(stream, root)`` as one micro-batch
    each, in order, and return its result checkpointed so that it
    survives the removal of the scratch ``root``. Each part is written as
    one parquet file with an explicit, increasing mtime (FileStreamSource
    orders files by mtime) and read back with ``maxFilesPerTrigger`` 1."""
    with _scratch_root(tag) as root:
        staging = os.path.join(root, "staging")
        now = time.time()
        for i, part in enumerate(parts):
            path = os.path.join(staging, f"part_{i}")
            part.coalesce(1).write.parquet(path)
            _set_staged_mtime(path, now - 300 + i * 100)
        stream = (
            spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(staging, "part_*"))
        )
        return run(stream, root).localCheckpoint(eager=True)


def _empty_decisions(docs: DataFrame, score: str, tier: bool = True) -> DataFrame:
    """The decisions of a replay over an empty corpus: no rows (``docs``
    is empty), and the populated path's columns."""
    return docs.select(
        "doc_id",
        F.lit(True).alias("admitted"),
        F.lit(-1).cast("long").alias("matched_id"),
        F.lit(0.0).alias(score),
        *([F.lit(None).cast("string").alias("tier")] if tier else []),
    )


def _cascade_sink(
    spark: SparkSession, stream: DataFrame, root: str, centroids: DataFrame, **tiers
) -> DataFrame:
    """Run the full admission cascade over ``stream`` with its indexes
    under ``root`` and the opt-in ``tiers`` (keyword arguments of both
    cascade sinks). A corpus with NO usable centroid (every embedding
    NULL or zero-norm) leaves the semantic tier nothing to match against,
    so the lexical sink runs instead — every other tier kept, its jaccard
    reported as the tier-typed ``score``. That is the corpus-level analog
    of the sink's per-doc unembedded-doc policy, and exactly what the
    oracles compute (an empty ``e`` CTE makes the semantic tier
    vacuous)."""
    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.streaming.ingest import (
        make_cascade_ingest_batch_fn,
        make_full_cascade_ingest_batch_fn,
    )

    kw = dict(
        fp_index_root=os.path.join(root, "fp_index"),
        sig_index_root=os.path.join(root, "sig_index"),
        decisions_root=os.path.join(root, "decisions"),
        threshold=JACCARD_THRESHOLD,
        **tiers,
    )
    checkpoint = os.path.join(root, "ckpt")
    if not centroids.take(1):
        sink = make_cascade_ingest_batch_fn(spark, **kw)
        decisions = run_sink_stream(stream, sink, checkpoint)
        return decisions.withColumnRenamed("jaccard", "score")
    sink = make_full_cascade_ingest_batch_fn(
        spark,
        sem_index_root=os.path.join(root, "sem_index"),
        centroids=centroids,
        **kw,
    )
    return run_sink_stream(stream, sink, checkpoint)


@register(
    "q82_streaming_tumbling_replay",
    oracle=REGISTRY["q25_tumbling_window"].oracle,
    tags=("ext", "streaming", "window", "replay"),
)
def q82_streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q25 through the actual streaming path: file-source readStream →
    watermark → window() agg → availableNow → memory sink; the batch
    oracle must match the materialized stream output exactly.

    The replay deliberately processes all staged files in ONE micro-batch
    (max_files_per_trigger=None): batch boundaries carry no meaning here,
    and a single batch makes the run independent of file count/order —
    a multi-file events table would otherwise risk watermark-late drops
    and duplicate update-mode emissions per window key. Multi-batch
    watermark behavior is exercised where it is the point: the late-data
    and session-replay paths (tests + q94)."""
    # the file stream source requires a directory — stage the (read-only)
    # events table into one
    with _scratch_root("q82") as staging:
        _stage_events(sf_dir, staging)
        stream = streaming_tumbling_counts(
            read_events_stream(spark, staging, max_files_per_trigger=None)
        )
        out = run_stream_to_memory(stream, spark, output_mode="update", timeout_s=300)
    return out.orderBy("window_start", "event_type")


@register(
    "q94_streaming_session_replay",
    oracle=REGISTRY["q27_session_window"].oracle,
    tags=("ext", "streaming", "session", "replay"),
)
def q94_streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q27 through the streaming path: session_window (30-min gap) in
    append mode emits a session only once the watermark passes its close —
    so after the corpus batches, two watermark-advancer sentinel batches
    (user_id −1) push the effective watermark beyond every real session's
    end. Spark applies a recorded watermark one batch late, which is why
    TWO advancer batches are needed: the first records the high watermark,
    the second makes it effective, closing every corpus session.

    Robust to a multi-file corpus: the watermark delay is sized to the
    corpus event-time SPAN (+1 h), so no corpus event is ever late no
    matter how events are distributed across staged files, and the
    advancers sit at max+delay+2 h / +4 h so the effective watermark still
    clears max+gap. Batch order is pinned by explicit file mtimes
    (corpus < adv1 < adv2), not sleeps. Sentinel sessions are filtered
    out; per-user session counts must equal the batch q27 oracle
    verbatim."""
    import datetime as dt

    from mapreduce_framework_spark.catalog import EVENTS_SCHEMA, table

    ev = table(spark, "events", sf_dir)
    tmin, max_ts = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    if max_ts is None:  # empty input: zero sessions, batch-path schema
        return (
            ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy("user_id")
        )
    delay_s = int((max_ts - tmin).total_seconds()) + 3600

    with _scratch_root("q94") as staging:
        _stage_events(sf_dir, staging)
        now = time.time()
        _set_staged_mtime(staging, now - 300)
        for name, hours, mtime in (("adv1", 2, now - 200), ("adv2", 4, now - 100)):
            ts = max_ts + dt.timedelta(seconds=delay_s, hours=hours)
            adv = spark.createDataFrame(
                [(-1, ts, -1, "sentinel", 0.0, "{}")], schema=EVENTS_SCHEMA
            )
            adv.coalesce(1).write.parquet(os.path.join(staging, name))
            _set_staged_mtime(os.path.join(staging, name), mtime)
        stream = streaming_session_sessions(
            read_events_stream(spark, os.path.join(staging, "*")),
            watermark=f"{delay_s} seconds",
        )
        out = run_stream_to_memory(stream, spark, output_mode="append", timeout_s=300)
    return (
        # sentinel filter is NULL-SAFE (round 10, sweep's user_id null
        # plan): the advancers are user_id -1; a NULL user_id is a real
        # corpus group (the batch q27 oracle's GROUP BY keeps it), so
        # `>= 0` alone — which drops NULL — would lose that session row
        out.where(F.col("user_id").isNull() | (F.col("user_id") >= 0))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy("user_id")
    )


def _q95_oracle() -> str:
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        SHINGLES_DUCK,
        TOKS_DUCK,
    )

    return f"""
    WITH t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM t),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    cuts AS (SELECT (max(doc_id) + 1) // 3 AS c1,
                    2 * (max(doc_id) + 1) // 3 AS c2 FROM documents),
    b AS (SELECT doc_id,
                 CASE WHEN doc_id < c1 THEN 1
                      WHEN doc_id < c2 THEN 2 ELSE 3 END AS batch
          FROM documents, cuts),
    pairs AS (
      SELECT a.doc_id AS id1, p.doc_id AS id2, count(*) AS common
      FROM sh a JOIN sh p ON a.s = p.s
      WHERE a.doc_id <> p.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id1, id2, CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
      FROM pairs JOIN sz x ON pairs.id1 = x.doc_id JOIN sz y ON pairs.id2 = y.doc_id
      WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= {JACCARD_THRESHOLD}
    ),
    a1 AS (SELECT doc_id FROM b WHERE batch = 1),
    m2 AS (
      SELECT j.id2 AS doc_id, j.id1 AS matched_id, j.jaccard,
             row_number() OVER (PARTITION BY j.id2
                                ORDER BY j.jaccard DESC, j.id1 ASC) AS rn
      FROM jac j JOIN b b2 ON j.id2 = b2.doc_id AND b2.batch = 2
      JOIN a1 ON j.id1 = a1.doc_id
    ),
    r2 AS (SELECT doc_id, matched_id, jaccard FROM m2 WHERE rn = 1),
    a2 AS (SELECT doc_id FROM b
           WHERE batch = 2 AND doc_id NOT IN (SELECT doc_id FROM r2)),
    prior AS (SELECT doc_id FROM a1 UNION ALL SELECT doc_id FROM a2),
    m3 AS (
      SELECT j.id2 AS doc_id, j.id1 AS matched_id, j.jaccard,
             row_number() OVER (PARTITION BY j.id2
                                ORDER BY j.jaccard DESC, j.id1 ASC) AS rn
      FROM jac j JOIN b b3 ON j.id2 = b3.doc_id AND b3.batch = 3
      JOIN prior p ON j.id1 = p.doc_id
    ),
    r3 AS (SELECT doc_id, matched_id, jaccard FROM m3 WHERE rn = 1),
    a3 AS (SELECT doc_id FROM b
           WHERE batch = 3 AND doc_id NOT IN (SELECT doc_id FROM r3)),
    adm AS (SELECT doc_id FROM a1 UNION ALL SELECT doc_id FROM a2
            UNION ALL SELECT doc_id FROM a3)
    SELECT doc_id, TRUE AS admitted, CAST(-1 AS BIGINT) AS matched_id,
           0.0 AS jaccard
    FROM adm
    UNION ALL
    SELECT doc_id, FALSE, CAST(matched_id AS BIGINT), jaccard FROM r2
    UNION ALL
    SELECT doc_id, FALSE, CAST(matched_id AS BIGINT), jaccard FROM r3
    ORDER BY doc_id
    """


@register(
    "q95_incremental_ingest_dedup",
    oracle=_q95_oracle(),
    tags=("ext", "streaming", "dedup", "incremental", "replay"),
)
def q95_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q91 building blocks run as a real incremental ingest loop: the
    corpus is streamed in three doc_id-tercile batches through a
    foreachBatch sink that (a) near-dup-matches each batch against the
    index-so-far via match_batch (cross-side LSH band join + exact
    verify), (b) records per-doc admit/reject decisions with the best
    match, and (c) appends only admitted docs' signatures as an index
    delta — per-batch work is O(batch), per-batch index write is
    O(admitted). The oracle replays the sequential admission with exact
    cross-batch Jaccard. Within-batch self-dedup stays out of scope (q31's
    job), exactly like q91."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.streaming.ingest import make_ingest_batch_fn

    docs = table(spark, "documents", sf_dir)
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:  # empty corpus: no batches, no decisions
        return _empty_decisions(docs, "jaccard", tier=False)
    c1, c2 = (max_id + 1) // 3, 2 * (max_id + 1) // 3
    terciles = (
        docs.where(F.col("doc_id") < c1),
        docs.where((F.col("doc_id") >= c1) & (F.col("doc_id") < c2)),
        docs.where(F.col("doc_id") >= c2),
    )
    return _staged_replay(
        spark,
        "q95",
        terciles,
        lambda stream, root: run_sink_stream(
            stream,
            make_ingest_batch_fn(
                spark,
                index_root=os.path.join(root, "index"),
                decisions_root=os.path.join(root, "decisions"),
                threshold=JACCARD_THRESHOLD,
            ),
            os.path.join(root, "ckpt"),
        ),
    ).orderBy("doc_id")


# --- the cascade oracles ------------------------------------------------------
# One DuckDB replay per cascade, assembled from per-tier CTE fragments in the
# sink's precedence order. Each tier fragment reads the docs that every
# earlier tier passed, defines its reject CTE keyed by doc_id, and names the
# docs it passes in turn (surv, msurv, surv2, surv3).

_Q107_SPLIT = 17
_Q107_CONT = 0.05


def _cont_rej_cte(src: str, tag: str) -> str:
    """Per-doc contaminated-token fraction of ``src`` vs the benchmark
    span hashes (bref CTE) — the exact span_contamination arithmetic:
    distinct covered positions / token count, 0.0 on token-free docs.
    Used on both sides of every decontaminating oracle (seed batch and
    streamed batch), so the decon arithmetic can never drift between
    them."""
    from mapreduce_framework_spark.pipeline.dedup import TOKS_DUCK
    from mapreduce_framework_spark.pipeline.span_dedup import EXSUB_W, _sliding_duck

    W = EXSUB_W
    sl = _sliding_duck(W)
    return f"""
    {tag}t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM {src}),
    {tag}raw AS (
      SELECT doc_id, unnest({sl}) AS s,
             unnest(range(1, len({sl}) + 1)) AS pos
      FROM {tag}t
    ),
    {tag}hits AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos FROM {tag}raw
      WHERE md5(s) IN (SELECT sh FROM bref)
    ),
    {tag}cov AS (
      SELECT DISTINCT doc_id,
             CAST(unnest(range(pos, pos + {W})) AS BIGINT) AS tpos
      FROM {tag}hits
    ),
    {tag}cnt AS (SELECT doc_id, count(*) AS nc FROM {tag}cov GROUP BY 1),
    {tag}frac AS (
      SELECT t.doc_id,
             CASE WHEN coalesce(len(toks), 0) > 0
                  THEN CAST(coalesce(nc, 0) AS DOUBLE) / len(toks)
                  ELSE 0.0 END AS frac
      FROM {tag}t t LEFT JOIN {tag}cnt USING (doc_id)
    ),
    {tag}rej AS (SELECT doc_id, frac FROM {tag}frac WHERE frac >= {_Q107_CONT})"""


def _exact_ctes(index: str, new: str) -> str:
    """Exact tier: ``ex`` maps each ``new`` doc whose text is
    byte-identical (md5) to an ``index`` doc onto the smallest such index
    id; ``surv`` is the rest of ``new``."""
    return f"""
    ex AS (
      SELECT {new}.doc_id, min({index}.doc_id) AS ex_id
      FROM {index} JOIN {new}
        ON md5(coalesce({index}.text, '')) = md5(coalesce({new}.text, ''))
      GROUP BY 1
    ),
    surv AS MATERIALIZED (
      SELECT * FROM {new} WHERE doc_id NOT IN (SELECT doc_id FROM ex)
    )"""


def _media_ctes(index: str, survivors: str) -> str:
    """Perceptual tier: phash over the ``index`` docs joined to
    ``survivors`` at Hamming <= PHASH_HAMMING_MAX. ``md`` holds the
    LOWEST matching index id and ph_sim = (cells - its hamming)/cells,
    exactly multimodal_dedup.phash_match_batch's min/min_by contract;
    ``msurv`` is the rest of ``survivors``. MATERIALIZED because DuckDB
    re-inlines the per-char phash fold at every reference otherwise."""
    from mapreduce_framework_spark.pipeline.multimodal_dedup import (
        PHASH_CELLS,
        PHASH_HAMMING_MAX,
        phash_duck,
    )

    return f"""{phash_duck(index, 'mi')},{phash_duck(survivors, 'mb')},
    mdc AS (
      SELECT b.doc_id, a.doc_id AS md_id,
             CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
             row_number() OVER (PARTITION BY b.doc_id ORDER BY a.doc_id) AS rn
      FROM miph a JOIN mbph b
        ON bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
    ),
    md AS MATERIALIZED (
      SELECT doc_id, md_id,
             ({PHASH_CELLS} - hamming) / CAST({PHASH_CELLS} AS DOUBLE) AS ph_sim
      FROM mdc WHERE rn = 1
    ),
    msurv AS MATERIALIZED (
      SELECT * FROM {survivors} WHERE doc_id NOT IN (SELECT doc_id FROM md)
    )"""


def _near_dup_ctes(index: str, survivors: str) -> str:
    """MinHash tier, replayed with exact cross-side Jaccard of
    ``survivors`` against ``index`` (LSH banding at J >= 0.8 misses a pair
    with probability < 1e-7 and the sink verifies every candidate): ``nd``
    holds each survivor's best match at or above the threshold, ties to
    the lowest index id; ``surv2`` is the rest of ``survivors``."""
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        SHINGLES_DUCK,
        TOKS_DUCK,
    )

    return f"""
    t0 AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM {index}),
    sh0 AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM t0),
    sz0 AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
    t1 AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM {survivors}),
    sh1 AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM t1),
    sz1 AS (SELECT doc_id, count(*) AS n FROM sh1 GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, p.doc_id AS id2, count(*) AS common
      FROM sh0 a JOIN sh1 p ON a.s = p.s
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id1, id2, CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
      FROM pairs JOIN sz0 x ON pairs.id1 = x.doc_id
                 JOIN sz1 y ON pairs.id2 = y.doc_id
      WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= {JACCARD_THRESHOLD}
    ),
    nb AS (
      SELECT id2 AS doc_id, id1 AS nd_id, jaccard,
             row_number() OVER (PARTITION BY id2
                                ORDER BY jaccard DESC, id1 ASC) AS rn
      FROM jac
    ),
    nd AS (SELECT doc_id, nd_id, jaccard FROM nb WHERE rn = 1),
    surv2 AS (SELECT * FROM {survivors} WHERE doc_id NOT IN (SELECT doc_id FROM nd))"""


def _semantic_ctes(index: str, ne_on: str) -> str:
    """Semantic tier over the near-dup survivors ``surv2``, replayed
    EXACTLY: the same stride codebook, the same probes-nearest-cells
    assignment on both sides, the same cell-equi-join candidates, cosine
    folds in identical order on both engines. ``ne_on`` joins a survivor
    ``s`` to its embedding in ``e``. ``sm`` holds each survivor's best
    match at or above SEMDEDUP_COS, ties to the lowest index id;
    ``surv3`` is the rest of ``surv2``."""
    from mapreduce_framework_spark.pipeline.semantic_dedup import (
        SEM_PROBES,
        SEM_STRIDE,
        SEMDEDUP_COS,
    )
    from mapreduce_framework_spark.pipeline.similarity import _dot_duck

    icos = f"{_dot_duck('i.embedding', 'cents.cent')} / (i.norm * cents.cent_norm)"
    ncos = f"{_dot_duck('nn.embedding', 'cents.cent')} / (nn.norm * cents.cent_norm)"
    return f"""
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cent, norm AS cent_norm
      FROM e WHERE vec_id % {SEM_STRIDE} = 0
    ),
    ie AS (
      SELECT {index}.doc_id, e.embedding, e.norm
      FROM {index} JOIN e ON {index}.doc_id = e.vec_id
    ),
    asg_i AS (
      SELECT doc_id, cent_id FROM (
        SELECT i.doc_id, cents.cent_id,
               ROW_NUMBER() OVER (PARTITION BY i.doc_id
                 ORDER BY {icos} DESC, cents.cent_id) AS r
        FROM ie i, cents
      ) WHERE r <= {SEM_PROBES}
    ),
    ne AS (
      SELECT s.doc_id, e.embedding, e.norm
      FROM surv2 s JOIN e ON {ne_on}
    ),
    asg_n AS (
      SELECT doc_id, cent_id FROM (
        SELECT nn.doc_id, cents.cent_id,
               ROW_NUMBER() OVER (PARTITION BY nn.doc_id
                 ORDER BY {ncos} DESC, cents.cent_id) AS r
        FROM ne nn, cents
      ) WHERE r <= {SEM_PROBES}
    ),
    scand AS (
      SELECT DISTINCT a.doc_id AS index_id, b.doc_id AS new_id
      FROM asg_i a JOIN asg_n b ON a.cent_id = b.cent_id
    ),
    sp AS (
      SELECT scand.new_id, scand.index_id,
             {_dot_duck('x.embedding', 'y.embedding')} / (x.norm * y.norm) AS cos
      FROM scand JOIN ie x ON scand.index_id = x.doc_id
                 JOIN ne y ON scand.new_id = y.doc_id
    ),
    sb AS (
      SELECT new_id AS doc_id, index_id AS sm_id, cos,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY cos DESC, index_id ASC) AS rn
      FROM sp WHERE cos >= {SEMDEDUP_COS}
    ),
    sm AS (SELECT doc_id, sm_id, cos FROM sb WHERE rn = 1),
    surv3 AS (SELECT * FROM surv2 WHERE doc_id NOT IN (SELECT doc_id FROM sm))"""


def _decide(src: str, tiers: list[tuple[str, str | None, str, str]], score: str) -> str:
    """The decision rows of batch ``src``. ``tiers`` lists, in precedence
    order, each tier's reject CTE (keyed by doc_id), its matched-id
    column (None: the hit has no index doc, matched_id -1), its score
    expression and its name; the first tier that holds a doc rejects
    it."""
    if not tiers:
        return (
            f"SELECT doc_id, TRUE AS admitted, CAST(-1 AS BIGINT) AS matched_id,"
            f" 0.0 AS {score}, CAST(NULL AS VARCHAR) AS tier FROM {src}"
        )
    admitted = " AND ".join(f"{cte}.doc_id IS NULL" for cte, *_ in tiers)
    ids = ", ".join([f"{cte}.{col}" for cte, col, _, _ in tiers if col] + ["-1"])
    scores = " ".join(f"WHEN {cte}.doc_id IS NOT NULL THEN {s}" for cte, _, s, _ in tiers)
    names = " ".join(
        f"WHEN {cte}.doc_id IS NOT NULL THEN '{name}'" for cte, _, _, name in tiers
    )
    joins = "".join(f" LEFT JOIN {cte} ON {src}.doc_id = {cte}.doc_id" for cte, *_ in tiers)
    return f"""SELECT {src}.doc_id, ({admitted}) AS admitted,
           CAST(coalesce({ids}) AS BIGINT) AS matched_id,
           CASE {scores} ELSE 0.0 END AS {score},
           CASE {names} END AS tier
    FROM {src}{joins}"""


def _cascade_oracle(
    batches: str,
    score: str = "score",
    ne_on: str | None = None,
    quality_gate: bool = False,
    decon: bool = False,
    media_tier: bool = False,
) -> str:
    """One admission-cascade replay in DuckDB. ``batches`` defines the
    seed batch ``b0``, which only the index-free tiers can reject, and
    the streamed batch ``b1``, which every tier checks against the seed
    docs those tiers admitted. Tiers run in the sink's precedence:
    quality → exact → media → near-dup → semantic → contamination; each
    sees only the docs the tiers before it passed. ``ne_on`` turns the
    semantic tier on (see :func:`_semantic_ctes`); ``decon`` needs a
    ``bench`` CTE in ``batches``. ``score`` names the score column."""
    from mapreduce_framework_spark.pipeline.dedup import TOKS_DUCK
    from mapreduce_framework_spark.pipeline.quality import quality_reject_duck
    from mapreduce_framework_spark.pipeline.similarity import _E_CTE_DUCK
    from mapreduce_framework_spark.pipeline.span_dedup import EXSUB_W, _sliding_duck

    ctes = [_E_CTE_DUCK, batches] if ne_on else [batches]
    seed, new, seed_tiers, tiers = "b0", "b1", [], []
    if decon:
        ctes.append(f"""
    bt AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM bench),
    bref AS (
      SELECT DISTINCT md5(s) AS sh
      FROM (SELECT unnest({_sliding_duck(EXSUB_W)}) AS s FROM bt)
    )""")
    if quality_gate:
        # the survivors are MATERIALIZED like surv: every later tier reads
        # them, and inlined each read re-ran the quality filter
        ctes += [
            quality_reject_duck("b0", "qz"),
            "l0 AS MATERIALIZED ("
            "SELECT * FROM b0 WHERE doc_id NOT IN (SELECT doc_id FROM qzrej))",
            quality_reject_duck("b1", "qo"),
            "l1 AS MATERIALIZED ("
            "SELECT * FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM qorej))",
        ]
        seed, new = "l0", "l1"
        seed_tiers.append(("qzrej", None, "qzrej.frac", "quality"))
        tiers.append(("qorej", None, "qorej.frac", "quality"))
    index = seed
    if decon:
        ctes += [
            _cont_rej_cte(seed, "c0"),
            f"i0 AS (SELECT * FROM {seed} WHERE doc_id NOT IN (SELECT doc_id FROM c0rej))",
        ]
        index = "i0"
        seed_tiers.append(("c0rej", None, "c0rej.frac", "contaminated"))
    ctes.append(_exact_ctes(index, new))
    tiers.append(("ex", "ex_id", "1.0", "exact"))
    survivors = "surv"
    if media_tier:
        ctes.append(_media_ctes(index, survivors))
        tiers.append(("md", "md_id", "md.ph_sim", "media_dup"))
        survivors = "msurv"
    ctes.append(_near_dup_ctes(index, survivors))
    tiers.append(("nd", "nd_id", "nd.jaccard", "near_dup"))
    survivors = "surv2"
    if ne_on:
        ctes.append(_semantic_ctes(index, ne_on))
        tiers.append(("sm", "sm_id", "sm.cos", "semantic"))
        survivors = "surv3"
    if decon:
        ctes.append(_cont_rej_cte(survivors, "c1"))
        tiers.append(("c1rej", None, "c1rej.frac", "contaminated"))
    sep = ",\n    "
    return f"""
    WITH {sep.join(c.strip() for c in ctes)}
    {_decide("b0", seed_tiers, score)}
    UNION ALL
    {_decide("b1", tiers, score)}
    ORDER BY doc_id
    """


def _q103_oracle() -> str:
    return _cascade_oracle(
        """
    cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents),
    b0 AS (SELECT doc_id, text FROM documents, cut WHERE doc_id < c),
    b1 AS (
      SELECT doc_id, text FROM documents, cut WHERE doc_id >= c
      UNION ALL
      SELECT doc_id + 10000000, text FROM documents, cut
      WHERE doc_id < c AND doc_id % 50 = 0
    )""",
        score="jaccard",
    )


@register(
    "q103_cascade_admission",
    oracle=_q103_oracle(),
    tags=("ext", "streaming", "dedup", "incremental", "cascade", "replay"),
)
def q103_cascade_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered streaming admission run end-to-end (round 7; registered by
    retiring q55 under the registry's retirement policy): the lower-id
    half of the corpus is admitted as batch 0, then the upper half PLUS
    planted byte-identical re-fetches of every 50th batch-0 doc (ids
    shifted +10M) streams through the lexical cascade sink — the
    exact md5-fingerprint tier rejects the re-fetches at an equi-join's
    cost before any shingling, the MinHash tier near-dup-matches only
    the survivors, and decisions carry per-tier provenance ('exact' =
    jaccard 1.0 with the smallest identical index doc; 'near_dup' = the
    verified best match, ties to the lowest index id; NULL = admitted).
    The oracle replays both tiers with exact SQL (md5 equi-join, then
    exact cross-side Jaccard over exact-tier survivors); LSH banding at
    J >= 0.8 has per-pair miss probability < 1e-7 and every candidate is
    exact-verified — the q91/q95 argument. The planted re-fetches are
    corpus-derived (no synthetic text), so the exact tier provably fires
    on every sf table."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
    from mapreduce_framework_spark.streaming.ingest import (
        make_cascade_ingest_batch_fn,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:  # empty corpus: no batches, no decisions
        return _empty_decisions(docs, "jaccard")
    cut = (max_id + 1) // 2
    b0 = docs.where(F.col("doc_id") < cut)
    b1 = docs.where(F.col("doc_id") >= cut).unionAll(
        b0.where(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    return _staged_replay(
        spark,
        "q103",
        (b0, b1),
        lambda stream, root: run_sink_stream(
            stream,
            make_cascade_ingest_batch_fn(
                spark,
                fp_index_root=os.path.join(root, "fp_index"),
                sig_index_root=os.path.join(root, "sig_index"),
                decisions_root=os.path.join(root, "decisions"),
                threshold=JACCARD_THRESHOLD,
            ),
            os.path.join(root, "ckpt"),
        ),
    ).orderBy("doc_id")


def _q104_oracle() -> str:
    # ``src`` is the doc whose embedding a b1 row carries in the stream:
    # its own, the re-fetched seed doc's, or the twinned seed doc's
    return _cascade_oracle(
        """
    cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents),
    b0 AS (SELECT doc_id, text FROM documents, cut WHERE doc_id < c),
    up AS (SELECT doc_id, text FROM documents, cut WHERE doc_id >= c),
    b1 AS (
      SELECT doc_id, text, doc_id AS src FROM up
      UNION ALL
      SELECT doc_id + 10000000, text, doc_id FROM b0 WHERE doc_id % 50 = 0
      UNION ALL
      SELECT m.doc_id + 20000000, d.text, m.doc_id
      FROM (SELECT doc_id FROM b0 WHERE doc_id % 70 = 0) m
      CROSS JOIN cut
      JOIN up d ON d.doc_id = m.doc_id + cut.c
    )""",
        ne_on="s.src = e.vec_id",
    )


def _q104_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q104 replay's decisions frame (unordered) — shared by q104
    (ordered decisions) and q106 (the admission-report rollup over the
    same log), so the two registered contracts can never diverge on what
    the replay produces. See q104_full_cascade_admission for the full
    replay semantics."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.semantic_dedup import stride_centroids

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    embs_tbl = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    de = docs.join(
        embs_tbl.select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
        "left",
    )
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:  # empty corpus: no batches, no decisions
        return _empty_decisions(docs, "score")
    cut = (max_id + 1) // 2
    b0 = de.where(F.col("doc_id") < cut)
    up = de.where(F.col("doc_id") >= cut)
    refetch = b0.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "embedding"
    )
    twins = (
        b0.where(F.col("doc_id") % 70 == 0)
        .select(F.col("doc_id").alias("mark_id"), "embedding")
        .join(
            up.select(
                (F.col("doc_id") - F.lit(cut)).alias("mark_id"),
                F.col("text").alias("donor_text"),
            ),
            "mark_id",
        )
        .select(
            (F.col("mark_id") + 20_000_000).alias("doc_id"),
            F.col("donor_text").alias("text"),
            "embedding",
        )
    )
    b1 = up.unionByName(refetch).unionByName(twins)
    centroids = stride_centroids(embs_tbl)
    return _staged_replay(
        spark,
        "q104",
        (b0, b1),
        lambda stream, root: _cascade_sink(spark, stream, root, centroids),
    )


@register(
    "q104_full_cascade_admission",
    oracle=_q104_oracle(),
    tags=("ext", "streaming", "dedup", "semantic", "incremental", "cascade", "replay"),
)
def q104_full_cascade_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE three-tier admission cascade (exact → MinHash →
    semantic; streaming/ingest.py::make_full_cascade_ingest_batch_fn) run
    end-to-end and hash-checked (round 7; registered by retiring q72
    under the registry's retirement policy — q72's exact char-Jaccard
    differential stays in the local sweep). q103's two-batch replay plus
    TWO corpus-derived plants in batch 1: byte-identical re-fetches of
    every 50th batch-0 doc (ids +10M → rejected by the exact tier), and
    SEMANTIC TWINS of every 70th batch-0 doc — the embedding of batch-0
    doc X carried by the TEXT of the upper-half doc (X + cut), ids +20M.
    A twin shares no indexed text (its donor text rides the same batch,
    and within-batch dedup is upstream's job), so the lexical tiers pass
    it and the semantic tier rejects it at cosine 1.0 against X — the
    paraphrase/translation shape SemDeDup exists for. Decisions carry
    tier provenance and a tier-typed score (1.0 / verified Jaccard /
    exact cosine / 0.0). The oracle replays the exact and Jaccard tiers
    as in q103 (LSH miss probability < 1e-7 per pair at J >= 0.8, every
    candidate exact-verified) and the semantic tier EXACTLY — the same
    stride codebook, the same probes-nearest-cells assignment on both
    sides, the same cell-equi-join candidates, cosine folds in identical
    order on both engines. Codebook = stride_centroids (the q102
    deterministic oracle form); if the corpus yields NO usable centroid
    (every embedding NULL/zero-norm) the cascade DEGRADES to the
    two-tier lexical form rather than erroring — the corpus-level analog
    of the sink's per-doc unembedded-doc policy, and exactly what the
    oracle computes (an empty `e` CTE makes the semantic tier vacuous)."""
    return _q104_decisions(spark, sf_dir).orderBy("doc_id")


def _q106_oracle() -> str:
    """The q104 decisions log rolled up per outcome — counts, shares, and
    the tier metric's min/mean/max, with the mean computed through the
    exact-decimal discipline admission_report_frame uses (sum as
    DECIMAL(38,9), one double division, re-round at scale 9), so both
    engines produce bit-identical doubles."""
    return f"""
    WITH dec AS ({_q104_oracle()})
    SELECT coalesce(tier, 'admitted') AS outcome,
           count(*) AS n_docs,
           CAST(count(*) AS DOUBLE) / SUM(count(*)) OVER () AS share,
           min(score) AS min_score,
           CAST(CAST(CAST(SUM(CAST(score AS DECIMAL(38,9))) AS DOUBLE)
                / count(*) AS DECIMAL(18,9)) AS DOUBLE) AS avg_score,
           max(score) AS max_score
    FROM dec GROUP BY 1 ORDER BY outcome
    """


@register(
    "q106_admission_report",
    oracle=_q106_oracle(),
    tags=("ext", "streaming", "dedup", "ops", "rollup", "replay"),
)
def q106_admission_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admission-report rollup (streaming/ingest.py:
    admission_report_frame) registered as a checked contract (round 9;
    registered by retiring q30 under the registry's retirement policy —
    q30's exact-Jaccard differential stays in the local sweep, and
    q31/q84 carry the §2.5 near-dup surface). The ops view a 100 TB
    ingest reads daily instead of scanning the raw decisions log: one
    row per outcome (admitted / exact / near_dup / semantic) with doc
    count, share of the log, and the tier metric's min/mean/max.
    Decisions come from the same three-tier replay as q104
    (_q104_decisions — shared code, so the two contracts cannot diverge);
    the oracle re-derives the rollup from the q104 oracle's decision set
    with identical exact-decimal mean arithmetic. Plan shape (gated by
    test_admission_report_plan): one partial-agg shuffle on the ≤4-value
    outcome key + a single-partition window over ≤4 rows — no joins, no
    Python."""
    from mapreduce_framework_spark.streaming.ingest import admission_report_frame

    return admission_report_frame(_q104_decisions(spark, sf_dir))


def _hourly_rollup_batch_form(ev: DataFrame) -> DataFrame:
    """The batch equivalent of the q96 merge loop's final state — same
    expressions as make_rollup_merge_batch_fn's per-batch aggregate, same
    output schema. Used as the exactly-known empty-input result (the
    streaming driver cannot run over zero staged rows: its state read-back
    would find no files)."""
    from mapreduce_framework_spark.catalog import trunc_ntz_expr

    return (
        ev.groupBy(F.expr(trunc_ntz_expr("ts", 3600)).alias("h"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("val"),
        )
        .select("h", "event_type", "cnt", F.col("val").cast("double").alias("val"))
        .orderBy("h", "event_type")
    )


@register(
    "q96_incremental_rollup_replay",
    oracle="""
    SELECT date_trunc('hour', ts) AS h, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS val
    FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) e
    GROUP BY 1, 2 ORDER BY h, event_type
    """,
    tags=("ext", "streaming", "rollup", "replay"),
)
def q96_incremental_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (the incremental form of q65's
    hypertable rollup): events stream in three time-sliced batches through
    a foreachBatch sink that merges each batch's hourly partial aggregates
    into the persisted rollup — an algebraic merge (sum of counts, sum of
    exact decimals), so the final state equals the batch hourly aggregate
    regardless of slicing. The state table is bounded by hours × types —
    answering coarse queries from it instead of the raw 100 TB stream is
    the point of the pattern."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.streaming.foreach_batch import (
        make_rollup_merge_batch_fn,
    )

    ev = table(spark, "events", sf_dir)
    tmin, tmax = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    if tmax is None:  # empty input: the batch-form rollup of zero events
        return _hourly_rollup_batch_form(ev)
    third = (tmax - tmin) / 3
    cut1 = F.lit(tmin + third).cast("timestamp_ntz")
    cut2 = F.lit(tmin + 2 * third).cast("timestamp_ntz")
    slices = (
        ev.where(F.col("ts") < cut1),
        ev.where((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        ev.where(F.col("ts") >= cut2),
    )
    return _staged_replay(
        spark,
        "q96",
        slices,
        lambda stream, root: run_sink_stream(
            stream,
            make_rollup_merge_batch_fn(spark, os.path.join(root, "state")),
            os.path.join(root, "ckpt"),
        ).select("h", "event_type", "cnt", F.col("val").cast("double").alias("val")),
    ).orderBy("h", "event_type")


@register(
    "q83_streaming_kv_replay",
    oracle=REGISTRY["q06_kv_final_state"].oracle,
    tags=("ext", "streaming", "state", "replay"),
)
def q83_streaming_kv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q06 through the custom stateful streaming operator: the op log is
    staged to parquet, streamed through applyInPandasWithState (keyed
    state carrying the per-key fold), and the final states must equal the
    batch fold's — the reference KV semantics on the streaming engine."""
    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(spark)
    ops = kv_ops(spark, sf_dir).where(F.col("op") != "get")
    with _scratch_root("q83") as staging:
        ops.coalesce(1).write.mode("overwrite").parquet(staging)
        stream = spark.readStream.schema(ops.schema).parquet(staging)
        out = run_stream_to_memory(
            streaming_kv_state(stream), spark, output_mode="update", timeout_s=300
        )
    return out.orderBy("key")


# --- q107/q108/q110: the DECONTAMINATING admission cascades ------------------
# q104's replay shape with the round-9 fourth tier on — a benchmark split
# (doc_id % 17 == 0, the q105 rule) is span-indexed once, the remaining pool
# streams in two batches, and every tier's decision is hash-checked against a
# full DuckDB replay (exact + Jaccard + exact-semantic + exact span coverage).
# q108 adds the round-10 quality gate (five tiers) and q110 the round-11
# perceptual media tier (six tiers, every opt-in tier of the production sink).


def _decon_oracle(quality_gate: bool = False, media_tier: bool = False) -> str:
    """The DuckDB oracle of :func:`_decon_replay` with the same switches:
    q107 (neither), q108 (``quality_gate``) and q110 (both). ``media_tier``
    also adds the retouch plant to b1."""
    retouch = """
      UNION ALL
      SELECT doc_id + 20000000, 'a' || substr(text, 2) AS text
      FROM b0 WHERE doc_id % 7 = 3""" if media_tier else ""
    # ne_on: the shifted plants (+10M re-fetches, +20M retouches, +30M
    # benchmark copies) carry NULL embeddings in the stream; the doc_id
    # guard keeps that structural at an SF where vec_id reaches the
    # shifted range, where a bare equi-join would hand them embeddings
    return _cascade_oracle(
        f"""
    bench AS (SELECT doc_id, text FROM documents WHERE doc_id % {_Q107_SPLIT} = 0),
    pool AS (SELECT doc_id, text FROM documents WHERE doc_id % {_Q107_SPLIT} <> 0),
    cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM pool),
    b0 AS (SELECT doc_id, text FROM pool, cut WHERE doc_id < c),
    up AS (SELECT doc_id, text FROM pool, cut WHERE doc_id >= c),
    b1 AS (
      SELECT doc_id, text FROM up
      UNION ALL
      SELECT doc_id + 10000000, text FROM b0 WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 30000000, text FROM bench WHERE doc_id % 3 = 0{retouch}
    )""",
        ne_on="s.doc_id = e.vec_id AND s.doc_id < 10000000",
        quality_gate=quality_gate,
        decon=True,
        media_tier=media_tier,
    )


def _q107_oracle() -> str:
    return _decon_oracle()


def _decon_replay(
    spark: SparkSession,
    sf_dir: str,
    quality_gate: bool = False,
    media_tier: bool = False,
) -> DataFrame:
    """The decontaminating replay shared by q107 (quality_gate=False),
    q108 (quality_gate=True; registered r11), and q110 (quality_gate +
    media_tier; staged r12) — one body, so the contracts can never
    diverge on the split/plant/stream mechanics (the q104/q106
    shared-code pattern). See q107_decontaminating_admission for the
    full replay semantics.

    ``media_tier`` adds (a) the perceptual 'media_dup' tier
    (phash_index_root on both sink paths — the tier is pixel/text-only,
    so the no-usable-centroid degradation keeps it, exactly like the
    quality and decon tiers) and (b) the RETOUCH plant: a first-char
    rewrite ('a' || substr(text, 2), ids +20M, NULL embeddings) of the
    doc_id % 7 == 3 seed docs — byte-distinct (md5 misses it) and typically
    shingle-distant, but phash-near its original, the reject class only
    the perceptual tier can attribute."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.semantic_dedup import stride_centroids
    from mapreduce_framework_spark.pipeline.span_dedup import span_index

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    embs_tbl = table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    bench = docs.where(F.col("doc_id") % _Q107_SPLIT == 0)
    pool = docs.where(F.col("doc_id") % _Q107_SPLIT != 0).join(
        embs_tbl.select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
        "left",
    )
    max_id = pool.agg(F.max("doc_id")).collect()[0][0]
    if max_id is None:  # empty pool: no batches, no decisions
        return _empty_decisions(pool, "score")
    cut = (max_id + 1) // 2
    b0 = pool.where(F.col("doc_id") < cut)
    up = pool.where(F.col("doc_id") >= cut)
    null_emb = F.lit(None).cast(dict(pool.dtypes)["embedding"]).alias("embedding")
    refetch = b0.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text", null_emb
    )
    bcopy = bench.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 30_000_000).alias("doc_id"), "text", null_emb
    )
    b1 = up.unionByName(refetch).unionByName(bcopy)
    if media_tier:
        retouch = b0.where(F.col("doc_id") % 7 == 3).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"),
            F.concat(F.lit("a"), F.expr("substring(text, 2)")).alias("text"),
            null_emb,
        )
        b1 = b1.unionByName(retouch)

    centroids = stride_centroids(embs_tbl)
    # the decon, quality and media tiers are lexical or pixel-only, so the
    # no-usable-centroid fallback in _cascade_sink keeps them (round-10
    # ADVICE): builder and oracle agree on every tier but the semantic one
    return _staged_replay(
        spark,
        "q107",
        (b0, b1),
        lambda stream, root: _cascade_sink(
            spark,
            stream,
            root,
            centroids,
            benchmark_span_index=span_index(bench).localCheckpoint(eager=True),
            cont_threshold=_Q107_CONT,
            quality_gate=quality_gate,
            phash_index_root=(
                os.path.join(root, "phash_index") if media_tier else None
            ),
        ),
    ).orderBy("doc_id")


@register(
    "q107_decontaminating_admission",
    oracle=_q107_oracle(),
    tags=("ext", "streaming", "dedup", "decontamination", "replay"),
)
def q107_decontaminating_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q104's replay with the round-9 DECONTAMINATION tier on: the
    doc_id % 17 == 0 split (the q105 rule) plays the benchmark — its
    span_index is built once and handed to the four-tier sink — and the
    remaining pool streams as two batches: the lower-id half seeds
    (batch-0 docs quoting >= 5% benchmark tokens are 'contaminated' and
    never indexed), then the upper half PLUS byte-identical re-fetches of
    every 50th seed doc (ids +10M) and VERBATIM COPIES of every 3rd
    benchmark doc (ids +30M — the contamination plant; guaranteed
    cont_frac ~1.0 unless an indexed doc already duplicates it, in which
    case the cheaper dedup tier correctly fires first). Plants carry NULL
    embeddings (lexical-only — unembedded docs degrade to the lexical +
    decon tiers, the sink's stated policy), so the oracle's semantic side
    is exactly the embeddings-table join. Decisions schema is q104's; the
    'contaminated' tier reports score = cont_frac and matched_id -1 (the
    hit is benchmark-side). Degenerate corpora: empty pool returns the
    empty decisions frame; a corpus with NO usable centroid degrades to
    the lexical two-tier cascade WITH the decon tier still on (round-10
    ADVICE: the tier is purely lexical, so only the semantic tier drops
    — builder and oracle stay aligned on that path, mirroring q104's
    empty-e degradation). Registered round 10 by retiring q63; the
    replay body is shared with q108 — registered r11 — via
    _decon_replay."""
    return _decon_replay(spark, sf_dir, quality_gate=False)


def _q108_oracle() -> str:
    return _decon_oracle(quality_gate=True)


def _q110_oracle() -> str:
    return _decon_oracle(quality_gate=True, media_tier=True)


@register(
    "q108_quality_gated_admission",
    oracle=_q108_oracle(),
    tags=("ext", "streaming", "dedup", "quality", "decontamination", "replay"),
)
def q108_quality_gated_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's replay with the round-10 QUALITY tier on — the five-tier
    admission cascade (quality → exact → MinHash → semantic →
    span-decontamination), tier parity with the q105 batch flagship. The
    quality gate runs FIRST (index-free, O(batch)); its rejects carry
    tier 'quality', score = dup_frac, matched_id -1 and never touch any
    index, so a low-quality re-fetch reports 'quality', not 'exact'
    (strict precedence in both directions — pinned by the differential:
    the oracle's l0/l1 CTEs remove quality rejects before every dedup
    CTE). Quality rejects come from the corpus itself (the synthetic
    dup/top-2-gram distributions straddle the Gopher thresholds); the
    q107 plants exercise the other four tiers. Same degenerate-corpus
    policies as q107 (shared _decon_replay body). Registered round 11 by
    retiring q47 (the scheduled swap)."""
    return _decon_replay(spark, sf_dir, quality_gate=True)


@register(
    "q110_media_gated_admission",
    oracle=_q110_oracle(),
    tags=(
        "ext", "streaming", "dedup", "quality", "multimodal",
        "decontamination", "replay",
    ),
)
def q110_media_gated_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q108's replay with the round-11 MEDIA tier on — the six-tier
    admission cascade (quality → exact → media/phash → MinHash →
    semantic → span-decontamination), every opt-in tier of the
    production sink engaged at once. The media tier runs between the
    exact and MinHash tiers (cheaper than shingling; see
    make_full_cascade_ingest_batch_fn) and is pixel/text-only, so the
    no-usable-centroid degradation keeps it alongside quality + decon
    (the tier-parity argument — the degradation path routes through the
    lexical sink's round-12 phash support). Rejects carry tier
    'media_dup', matched_id = the lowest phash-matching index doc_id,
    score = (32 − hamming)/32 ≥ 0.875. Same degenerate-corpus policies
    as q107/q108 (shared _decon_replay body). Staged library-first in
    round 12 with the oracle proven at two SFs + a NULLs variant + the
    no-centroid degradation path; REGISTERED round 13 by retiring q36
    (the scheduled swap — registry.py ROUND-13 EXECUTED)."""
    return _decon_replay(spark, sf_dir, quality_gate=True, media_tier=True)
