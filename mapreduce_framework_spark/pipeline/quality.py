"""Repetition filtering and denylist/PII scrubbing for LLM training data.

Two of the standard pre-training corpus filters (the Gopher/C4 family of
heuristics), built to the 100 TB shape:

- **Repetition stats (q88)** — the Gopher repetition signals reduced to
  their deterministic core: duplicate-token fraction (1 − distinct/total,
  a pure per-row array computation, no shuffle) and top word-2-gram
  fraction (the most frequent 2-gram's share of all 2-grams — explode +
  two-level partial aggregation keyed by doc_id, the shape that scales:
  per-doc mode never materializes a per-doc dictionary in one task's
  memory). Docs whose signals cross the thresholds get flagged, the way a
  pipeline drops boilerplate/template spam before dedup.
- **Denylist / PII scrub (q89)** — regex redaction of emails, phone-ish
  numbers, and a configurable term denylist, emitting both the match
  counts and an MD5 fingerprint of the scrubbed text so the
  *transform output* (not just the counts) is correctness-checked. Pure
  JVM regexp scan: embarrassingly parallel, zero shuffles.

The reference has no text-quality surface (wc/indexer only,
src/mrapps/wc.go:23-26); these are [EXT] training-pipeline operators
(SURVEY §7 M5) alongside q40–q43.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.functions.text import tokenize, tokenize_duckdb
from mapreduce_framework_spark.pipeline.sampling import (
    _INT_QUALITY_DUCK,
    _PUNCT_DUCK,
    _int_quality_pass,
    _punct_chars,
)
from mapreduce_framework_spark.registry import register

# Thresholds chosen to split the synthetic corpus (dup_frac spans 0–0.72
# with mean ~0.50; top-2-gram fraction p90 ≈ 0.069) so both flag outcomes
# are exercised. Real pipelines tune these per corpus (Gopher uses 0.2 for
# top-2-gram share).
DUP_FRAC_MAX = 0.55
TOP2_FRAC_MAX = 0.08


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals over any (doc_id, text, ...) frame.

    Adds n_tokens, n_distinct, dup_frac, top2_count, top2_frac, and the
    is_repetitive flag. The top-2-gram mode is computed PER ROW — run
    length over the lexicographically sorted gram array (equal grams are
    adjacent after array_sort, so the longest equal run IS the max
    multiplicity) — instead of the pre-r14 distributed shape (explode →
    count per (doc, gram) shuffle → max per doc → join back on doc_id):
    one corpus scan, ZERO shuffles, where the old plan scanned the corpus
    twice and shipped every distinct (doc, gram) pair through an exchange
    plus a doc_id join (A/B at a 30× corpus: 2.1× faster, and at 100 TB
    the removed exchange is corpus-sized — OPTIMIZATION_r14.md §5).
    Per-task memory is O(longest document) — the same class as the token
    array both shapes already materialize per row (the old gram branch
    built the full transform() array before exploding it); the sort adds
    a transient second copy of that row's grams. Equivalence on clean,
    empty, NULL-text and tie-heavy inputs is pinned by
    tests/test_optimizations_r14.py::test_repetition_stats_rowwise_matches_distributed.
    """
    # NULL toks (NULL text) must land in ELSE (top2 = 0, matching the old
    # left-join miss + coalesce), so the guard is >= 2, not < 2 inverted.
    top2_rowwise = """
    CASE WHEN size(toks) >= 2 THEN
      aggregate(
        array_sort(transform(sequence(0, size(toks) - 2),
                             i -> concat(toks[i], ' ', toks[i + 1]))),
        named_struct('best', CAST(0 AS BIGINT), 'run', CAST(0 AS BIGINT),
                     'prev', CAST(NULL AS STRING)),
        (acc, g) -> named_struct(
            'best', greatest(acc.best,
                             IF(acc.prev IS NOT NULL AND g = acc.prev,
                                acc.run + 1, CAST(1 AS BIGINT))),
            'run', IF(acc.prev IS NOT NULL AND g = acc.prev,
                      acc.run + 1, CAST(1 AS BIGINT)),
            'prev', g),
        acc -> acc.best)
    ELSE CAST(0 AS BIGINT) END
    """
    t = docs.select("doc_id", tokenize("text").alias("toks"))
    j = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.expr(top2_rowwise).alias("top2_count"),
    ).select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.when(
            F.col("n_tokens") > 0,
            1 - F.col("n_distinct").cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        "top2_count",
        F.when(
            F.col("n_tokens") > 1,
            F.col("top2_count").cast("double") / (F.col("n_tokens") - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("top2_frac"),
    )
    return j.withColumn(
        "is_repetitive",
        (F.col("dup_frac") > DUP_FRAC_MAX) | (F.col("top2_frac") > TOP2_FRAC_MAX),
    )


@register(
    "q88_repetition_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tokenize_duckdb('text')} AS toks FROM documents
    ),
    base AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
      FROM t
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM t
    ),
    c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram),
    top AS (SELECT doc_id, max(cnt) AS top2_count FROM c GROUP BY doc_id),
    j AS (
      SELECT b.doc_id, b.n_tokens, b.n_distinct,
             CASE WHEN b.n_tokens > 0
                  THEN 1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens
                  ELSE 0.0 END AS dup_frac,
             CAST(COALESCE(top.top2_count, 0) AS BIGINT) AS top2_count,
             CASE WHEN b.n_tokens > 1
                  THEN CAST(COALESCE(top.top2_count, 0) AS DOUBLE) / (b.n_tokens - 1)
                  ELSE 0.0 END AS top2_frac
      FROM base b LEFT JOIN top USING (doc_id)
    )
    SELECT *, (dup_frac > {DUP_FRAC_MAX} OR top2_frac > {TOP2_FRAC_MAX}) AS is_repetitive
    FROM j ORDER BY doc_id
    """,
    tags=("ext", "text", "quality", "repetition"),
)
def q88_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signals: duplicate-token fraction and
    top word-2-gram share, with the keep/drop flag. Both engines compute
    the fractions with the identical IEEE expression order, so the driver
    hash is exact."""
    docs = table(spark, "documents", sf_dir)
    return repetition_stats(docs).orderBy("doc_id")


# --- streaming quality gate (round 10, library-first; the r11 newcomer
# candidate per registry.py's ROUND-11 HANDOFF) -------------------------------
# The per-doc admission gate the streaming cascade runs as its FIRST tier
# (streaming/ingest.py `quality_gate=True`): the q105/q81 integer quality
# rule (>= MIN_TOKENS tokens, punctuation <= 30% of chars) PLUS the
# Gopher repetition flags above — the streaming counterpart of q105's
# batch quality stage, completing tier parity between the batch flagship
# and the cascade. Reject score is dup_frac (the primary Gopher signal;
# cross-engine bit-exact, the q88 argument). ``{tag}rej`` is MATERIALIZED:
# a cascade oracle reads it from its survivor filter and its decision join,
# and inlined DuckDB re-ran the tokenize + gram chain at every reference.
QUALITY_REJ_DUCK_TEMPLATE = """
    {tag}t AS (SELECT doc_id, text, {toks} AS toks FROM {src}),
    {tag}base AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             {punct} AS n_punct,
             length(text) AS n_chars
      FROM {tag}t
    ),
    {tag}g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM {tag}t
    ),
    {tag}c AS (SELECT doc_id, gram, count(*) AS cnt FROM {tag}g GROUP BY 1, 2),
    {tag}top AS (SELECT doc_id, max(cnt) AS top2_count FROM {tag}c GROUP BY 1),
    {tag}j AS (
      SELECT b.doc_id,
             b.n_tokens, b.n_punct, b.n_chars,
             CASE WHEN b.n_tokens > 0
                  THEN 1 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens
                  ELSE 0.0 END AS dup_frac,
             CASE WHEN b.n_tokens > 1
                  THEN CAST(COALESCE(t.top2_count, 0) AS DOUBLE) / (b.n_tokens - 1)
                  ELSE 0.0 END AS top2_frac
      FROM {tag}base b LEFT JOIN {tag}top t USING (doc_id)
    ),
    {tag}rej AS MATERIALIZED (
      SELECT doc_id, dup_frac AS frac FROM {tag}j
      WHERE NOT COALESCE({int_rule}
                         AND dup_frac <= {dup_max}
                         AND top2_frac <= {top2_max}, FALSE)
    )"""


def quality_reject_duck(src: str, tag: str) -> str:
    """The DuckDB twin of :func:`quality_rejects` as a CTE chain ending in
    ``{tag}rej (doc_id, frac)`` — shared by the q108 replay oracle and any
    future quality-gated replay, so builder and oracle can never drift on
    the gate arithmetic."""
    return QUALITY_REJ_DUCK_TEMPLATE.format(
        src=src,
        tag=tag,
        toks=tokenize_duckdb("text"),
        punct=_PUNCT_DUCK,
        int_rule=_INT_QUALITY_DUCK,
        dup_max=DUP_FRAC_MAX,
        top2_max=TOP2_FRAC_MAX,
    )


def quality_rejects(docs: DataFrame) -> DataFrame:
    """(doc_id, q_frac) for every doc the streaming quality gate rejects.

    PASS requires ALL of: n_tokens >= sampling.MIN_TOKENS, punctuation
    <= 30% of characters (both the q105 integer rule), dup_frac <=
    DUP_FRAC_MAX and top2_frac <= TOP2_FRAC_MAX (the Gopher repetition
    flags, repetition_stats). NULL text fails closed (NOT COALESCE(pass,
    FALSE) — a NULL-text doc has no quality evidence, so it is rejected;
    same arithmetic in quality_reject_duck, so the dirty sweep's NULL
    variants hash-match). q_frac is dup_frac — informative for
    boilerplate (the dominant reject class) and bit-exact cross-engine.
    Shape: one per-row integer/array pass + the q88 two-level gram
    aggregate — O(batch), no index, no Python."""
    stats = repetition_stats(docs.select("doc_id", "text"))
    ints = docs.select("doc_id", *_punct_chars())
    passes = (
        _int_quality_pass()
        & (F.col("dup_frac") <= DUP_FRAC_MAX)
        & (F.col("top2_frac") <= TOP2_FRAC_MAX)
    )
    return (
        stats.join(ints, "doc_id")
        .where(~F.coalesce(passes, F.lit(False)))
        .select("doc_id", F.col("dup_frac").alias("q_frac"))
    )


# Redaction patterns: RE2/Java-compatible subset (no lookarounds), so the
# Spark and DuckDB regex engines agree. The synthetic corpus contains no
# emails/phones (counts prove the negative); the term denylist fires on
# ~80% of docs, exercising the replacement path end-to-end.
# RFC-bounded quantifiers ({1,64} local part, {1,255} domain, {2,63}
# TLD), NOT unbounded +: Java's regex re-consumes an unbounded char-class
# run from every start offset, so `[...]+@` against a giant
# separator-free token (an MB-scale "aaaa…" doc — web crawls have them)
# is O(n²) and pins a task for hours. Bounds cap the per-offset work at a
# constant → linear scan, with identical matches on anything that is
# actually an email (DuckDB's RE2 oracle twin is linear either way).
# Pinned by tests/test_text_props.py::test_scrub_linear_on_giant_tokens.
# DOCUMENTED TRADE-OFF: an address-like token whose local part exceeds 64
# chars (not a valid email per RFC 5321 §4.5.3.1) is PARTIALLY scrubbed —
# the match starts 64 chars before the '@', leaving the leading overflow
# in place. This is by design: RFC-overflow tokens aren't deliverable
# addresses, full-run scrubbing would reintroduce the unbounded-quantifier
# O(n²) scan, and both engines share the pattern so there is no oracle
# drift. Pinned by tests/test_text_props.py::test_scrub_overlong_local_part.
EMAIL_RE = r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,63}"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
DENYLIST = ("customer", "value")
DENY_RE = r"\b(" + "|".join(DENYLIST) + r")\b"


def scrub_documents(docs: DataFrame) -> DataFrame:
    """Adds n_email / n_phone / n_deny match counts, the scrubbed text, its
    length, and its MD5 fingerprint to any (doc_id, text, ...) frame.

    The fingerprint is md5 (identical hex output in Spark and DuckDB, both
    native digests): the round-3 FNV-1a32 fold was an interpreted per-char
    ``aggregate`` lambda — O(doc length) lambda steps — and dominated q89's
    execution (~3.9 s of 4.1 s at sf0.1). md5 keeps the transform-output
    check exact while staying inside codegen; the FNV reproduction remains
    where reference parity is the point (q09 buckets, q43 fingerprints)."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", F.lit(EMAIL_RE), F.lit("[EMAIL]")),
            F.lit(PHONE_RE),
            F.lit("[PHONE]"),
        ),
        F.lit(DENY_RE),
        F.lit("[TERM]"),
    )
    counted = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_email"),
        F.size(F.regexp_extract_all("text", F.lit(PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phone"),
        F.size(F.regexp_extract_all("text", F.lit(DENY_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_deny"),
        scrubbed.alias("scrubbed"),
    )
    return counted.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_deny",
        F.length("scrubbed").cast("bigint").alias("scrub_len"),
        F.md5("scrubbed").alias("scrub_fp"),
    )


@register(
    "q89_denylist_scrub",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phone,
             CAST(len(regexp_extract_all(text, '{DENY_RE}')) AS BIGINT) AS n_deny,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                 '{PHONE_RE}', '[PHONE]', 'g'),
               '{DENY_RE}', '[TERM]', 'g') AS scrubbed
      FROM documents
    )
    SELECT doc_id, n_email, n_phone, n_deny,
           CAST(length(scrubbed) AS BIGINT) AS scrub_len,
           md5(scrubbed) AS scrub_fp
    FROM s ORDER BY doc_id
    """,
    tags=("ext", "text", "quality", "scrub"),
)
def q89_denylist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / denylist redaction: email + phone regexes plus a term
    denylist, replaced with typed redaction markers. Emits match counts
    and the MD5 fingerprint + length of the scrubbed text, so the driver
    hash checks the actual transform output. Pure regexp scan — no
    shuffle, trivially parallel at 100 TB."""
    docs = table(spark, "documents", sf_dir)
    return scrub_documents(docs).orderBy("doc_id")
