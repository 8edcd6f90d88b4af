"""Span-level (sub-document) exact deduplication — C4-style repeated-span
removal.

Doc-level dedup (q24/q33) drops whole documents; real web corpora instead
carry *spans* repeated across many documents (licence blocks, navigation
text, quoted passages). C4 removed any three-sentence span that occurred
more than once in the corpus (Raffel et al., "Exploring the Limits of
Transfer Learning", §2.2); RefinedWeb and Dolma do the same at paragraph
or line granularity. The reference engine has no analog — this is [EXT]
training-data-pipeline surface, same category as q24/q31.

The synthetic corpus has no sentence punctuation, so the span unit here is
a non-overlapping ``SPAN_W``-token block (the last block of a document may
be shorter). Semantics, exactly:

1. every block instance is identified by (doc_id, pos);
2. for each distinct block TEXT, the instance with the smallest
   (doc_id, pos) — lexicographically — is KEPT; every other instance
   (in other documents or repeated within the same document) is dropped;
3. each document is reassembled from its kept blocks in position order.

Scale shape (100 TB): block fingerprints are md5 (128-bit; a collision
would merge two distinct spans — negligible, and the fingerprint is also
what you'd persist). The keep-first rule is computed as a plain
``min()`` AGGREGATE over a combined (doc_id, pos) key and joined back —
deliberately NOT a ``row_number()`` window: the aggregate is map-side
partial-combinable, so a boilerplate block occurring 10⁹ times collapses
to one row per partition before the shuffle, where the window form would
sort the full 10⁹-row partition (classic hot-key skew; AQE can split
joins but not window sorts). Reassembly is one groupBy(doc_id) — rows
shrink to one per document. Two shuffles total, both partial-aggregated.

Combined-key bound: pos is capped at 2^20 blocks per document (≈ 10M
tokens at SPAN_W=10 — far beyond any real document; enforced with a
fail-fast filter) so ``doc_id * 2^20 + pos`` is collision-free for
doc_id < 2^43.

Shipped library-first in round 4 (the driver window was full —
registry.py capacity note) with the same differential DuckDB test the
registered queries get (tests/test_span_dedup.py); registered round 5 as
``q101_span_dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.registry import register
from mapreduce_framework_spark.pipeline.dedup import TOKS_DUCK, TOKS_SPARK

SPAN_W = 10  # tokens per block
_POS_CAP = 1 << 20  # combined-key bound: blocks per doc (fail-fast below)

# 1-based block list of a doc's token array: ceil(n/W) blocks, last may be
# short; empty docs yield no blocks. Positive-integer division only, so
# Spark (truncate) and DuckDB (floor) agree.
_BLOCKS_SPARK = (
    f"CASE WHEN size(toks) >= 1 THEN "
    f"transform(sequence(1, CAST((size(toks) + {SPAN_W - 1}) / {SPAN_W} AS INT)), "
    f"b -> concat_ws(' ', slice(toks, (b - 1) * {SPAN_W} + 1, {SPAN_W}))) "
    "ELSE array() END"
)
_BLOCKS_DUCK = (
    f"CASE WHEN len(toks) >= 1 THEN "
    f"list_transform(range(1, CAST((len(toks) + {SPAN_W - 1}) // {SPAN_W} AS INT) + 1), "
    f"b -> array_to_string(toks[(b - 1) * {SPAN_W} + 1 : (b - 1) * {SPAN_W} + {SPAN_W}], ' ')) "
    "ELSE [] END"
)


def span_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, bh): every block instance with its 1-based position
    and md5 fingerprint. One scan, zero shuffles."""
    return (
        docs.withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.posexplode(F.expr(_BLOCKS_SPARK)).alias("pos0", "block"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5(F.col("block")).alias("bh"),
            "block",
        )
    )


def span_dedup(docs: DataFrame) -> DataFrame:
    """Per-document result of corpus-wide keep-first span dedup:
    (doc_id, n_blocks, n_kept, clean_fp) where clean_fp is the md5 of the
    reassembled kept-blocks text (space-joined, '' for fully-deduped or
    empty docs). Every document in ``docs`` appears in the output."""
    inst = span_blocks(docs)
    # fail fast rather than silently corrupt the combined key (see module
    # docstring; unreachable for any sane document)
    inst = inst.withColumn(
        "key",
        F.when(F.col("pos") < _POS_CAP, F.col("doc_id") * _POS_CAP + F.col("pos")).otherwise(
            F.raise_error(F.lit(f"span_dedup: document exceeds {_POS_CAP} blocks"))
        ),
    )
    # materialize the instance frame once (r13, guide §5; the
    # exact_substring_dedup precedent below): lazy, the three consumers
    # (keep-first min, the kept join, per-doc totals) each re-run the
    # tokenizer + block build over the whole corpus — 3 scans in
    # plans/r13/q101_span_dedup_before.txt. One tokenize pass + a
    # local persist (~2x corpus bytes: block text + md5/key) replaces two
    # extra source scans; `base` below stays a doc_id-only column-pruned
    # scan of the source.
    inst = inst.localCheckpoint(eager=True)
    first = inst.groupBy("bh").agg(F.min("key").alias("min_key"))
    kept = inst.join(first, "bh").where(F.col("key") == F.col("min_key"))
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "block"))),
                    lambda x: x["block"],
                ),
            )
        ).alias("clean_fp"),
    )
    totals = inst.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_blocks"))
    base = docs.select("doc_id")
    empty_fp = F.md5(F.lit(""))
    return (
        base.join(totals, "doc_id", "left")
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_blocks", F.lit(0)).cast("long").alias("n_blocks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("clean_fp", empty_fp).alias("clean_fp"),
        )
    )


# DuckDB twin of q101 — identical keep-first semantics.
Q101_ORACLE = f"""
    WITH t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    blocks AS (
      SELECT doc_id, unnest({_BLOCKS_DUCK}) AS block,
             unnest(range(1, len({_BLOCKS_DUCK}) + 1)) AS pos
      FROM t
    ),
    inst AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, block, md5(block) AS bh,
             doc_id * {_POS_CAP} + pos AS key
      FROM blocks
    ),
    first AS (SELECT bh, min(key) AS min_key FROM inst GROUP BY bh),
    kept AS (
      SELECT inst.* FROM inst JOIN first USING (bh) WHERE key = min_key
    ),
    reassembled AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(array_to_string(list(block ORDER BY pos), ' ')) AS clean_fp
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, count(*) AS n_blocks FROM inst GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(totals.n_blocks, 0) AS BIGINT) AS n_blocks,
           CAST(coalesce(reassembled.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(reassembled.clean_fp, md5('')) AS clean_fp
    FROM documents d
    LEFT JOIN totals USING (doc_id)
    LEFT JOIN reassembled USING (doc_id)
    ORDER BY doc_id
"""


@register(
    "q101_span_dedup",
    oracle=Q101_ORACLE,
    tags=("ext", "dedup", "span", "c4"),
)
def q101_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide keep-first span dedup over documents (module docstring);
    C4-style repeated-span removal per Raffel et al. §2.2."""
    return span_dedup(table(spark, "documents", sf_dir)).orderBy("doc_id")


# --- any-offset exact-substring dedup (ExactSubstr complement to q101) ------
#
# q101's blocks are non-overlapping SPAN_W tiles, so a repeat that straddles
# a tile boundary at a non-multiple of SPAN_W is invisible to it. The
# Lee-et-al form ("Deduplicating Training Data Makes Language Models
# Better", 2022, §4.1 ExactSubstr) removes ANY duplicated substring of at
# least a minimum length, wherever it starts. Their single-node tool builds
# a corpus-wide suffix array; the Spark-first equivalent below reaches the
# same detection power for token-level repeats via STRIDE-1 shingles:
#
#   a duplicated token span of length >= w exists at (doc, p)
#   <=> every w-shingle it contains is duplicated
#   <=> the w-shingle starting at p occurs >= 2 times corpus-wide.
#
# So: explode every offset's w-shingle (md5), keep-first per distinct
# shingle (same partial-agg min() rule as q101 — no window, hot-shingle
# safe), mark every NON-first instance's w token positions as covered,
# merge covered positions into maximal drop spans per doc, and reassemble
# the residue. Library-first (registry at capacity, registry.py note):
# differential + property tests in tests/test_span_dedup.py, no
# registration.
#
# Scale shape (100 TB): stride-1 instances are n_tokens rows per doc —
# 10x q101's n/W, the documented price of any-offset sensitivity (the
# suffix array is token-linear too). Every stage is linear and sanely
# keyed: keep-first is the partial-agg min(); coverage explode is w rows
# per REDUNDANT instance keyed by (doc_id, tpos) — spread across docs, no
# hot key even when one boilerplate shingle repeats 10^9 times; the only
# windows are per-doc (bounded by doc length, not corpus).

EXSUB_W = SPAN_W  # minimum duplicated-substring length, in tokens


def _sliding_spark(w: int) -> str:
    return (
        f"CASE WHEN size(toks) >= {w} THEN "
        f"transform(sequence(1, size(toks) - {w - 1}), "
        f"p -> concat_ws(' ', slice(toks, p, {w}))) "
        "ELSE array() END"
    )


def _toks_frame(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id[, *carry], toks): tokenize once; the shared input of every
    exsub/decontamination stage (shingles, per-doc counts, reassembly)."""
    return docs.withColumn("toks", F.expr(TOKS_SPARK)).select("doc_id", *carry, "toks")


def _n_tokens(toks: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id[, *carry], n_tokens) of a ``_toks_frame``. NULL text
    tokenizes to a NULL array on both engines; the stated policy
    (dirty-data convention, as q101) is n_tokens = 0, no drops, an empty
    residue — coalesced identically in the oracles."""
    return toks.select(
        "doc_id",
        *carry,
        F.coalesce(F.size("toks"), F.lit(0)).cast("long").alias("n_tokens"),
    )


def _covered(inst: DataFrame, w: int) -> DataFrame:
    """Distinct (doc_id, tpos): every token position inside one of the
    w-token windows ``inst`` (doc_id, pos) starts — keyed by position, so
    bounded by document length (no hot key even when one window repeats
    everywhere)."""
    return inst.select(
        "doc_id", F.explode(F.expr(f"sequence(pos, pos + {w - 1})")).alias("tpos")
    ).distinct()


def _index_hits(toks: DataFrame, index: DataFrame, w: int) -> DataFrame:
    """``_covered`` positions of the batch windows whose hash is in the
    reference ``span_index``: only the batch is shingled; the index
    contributes one semi-join side on the hash."""
    hit = _shingle_rows(toks, w).join(index.select("sh").distinct(), "sh", "leftsemi")
    return _covered(hit, w)


def _span_stats(covered: DataFrame, count_col: str) -> DataFrame:
    """(doc_id, count_col, n_spans) of a ``_covered`` frame: the covered
    token count and the number of maximal runs of consecutive positions
    (a per-doc lag window, bounded by document length)."""
    per_doc = Window.partitionBy("doc_id").orderBy("tpos")
    new_run = F.col("prev").isNull() | (F.col("tpos") > F.col("prev") + 1)
    return (
        covered.withColumn("prev", F.lag("tpos").over(per_doc))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias(count_col),
            F.sum(F.when(new_run, 1).otherwise(0)).alias("n_spans"),
        )
    )


def _residue(toks: DataFrame, covered: DataFrame) -> DataFrame:
    """(doc_id, clean_text, n_kept): the tokens of a ``_toks_frame`` at no
    ``covered`` position, space-joined in position order. Docs with no
    surviving token emit no row."""
    tok_rows = toks.select(
        "doc_id", F.posexplode("toks").alias("tpos0", "tok")
    ).select("doc_id", (F.col("tpos0") + 1).alias("tpos"), "tok")
    return (
        tok_rows.join(covered, ["doc_id", "tpos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                    lambda x: x["tok"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )


def _shingle_rows(toks: DataFrame, w: int) -> DataFrame:
    """sliding_shingles over a pre-tokenized ``_toks_frame``."""
    return toks.select(
        "doc_id", F.posexplode(F.expr(_sliding_spark(w))).alias("pos0", "s")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("s").alias("sh"))


def sliding_shingles(docs: DataFrame, w: int = EXSUB_W) -> DataFrame:
    """(doc_id, pos, sh): the md5 of the w-token shingle at EVERY 1-based
    offset (stride 1; docs shorter than w yield none — they cannot contain
    a w-token repeat). One scan, zero shuffles."""
    return _shingle_rows(_toks_frame(docs), w)


def exact_substring_dedup(docs: DataFrame, w: int = EXSUB_W) -> DataFrame:
    """Per-document result of corpus-wide any-offset exact-substring dedup:
    (doc_id, n_tokens, n_dup_tokens, n_spans, clean_fp). A token position
    is DROPPED when it lies inside any non-first instance of a duplicated
    w-shingle (comment block above); n_spans counts the maximal merged
    drop spans, clean_fp is the md5 of the surviving tokens space-joined
    ('' for empty docs). Every input document appears in the output."""
    # tokenize the corpus ONCE: toks feeds the shingle build, the per-doc
    # token counts, and the reassembly rows (lazy, each consumer would
    # re-run the tokenizer over the corpus)
    toks = _toks_frame(docs).localCheckpoint(eager=True)
    # materialize the stride-1 instance frame once (the q84/lsh family
    # precedent): it feeds keep-first AND the redundant join, and lazy it
    # would re-shingle the corpus per consumer
    inst = _shingle_rows(toks, w).withColumn(
        "key",
        F.when(F.col("pos") < _POS_CAP, F.col("doc_id") * _POS_CAP + F.col("pos")).otherwise(
            F.raise_error(F.lit(f"exact_substring_dedup: document exceeds {_POS_CAP} tokens"))
        ),
    ).localCheckpoint(eager=True)
    first = inst.groupBy("sh").agg(F.min("key").alias("min_key"))
    redundant = inst.join(first, "sh").where(F.col("key") != F.col("min_key"))
    # covered feeds the span stats AND the clean-text anti-join — one
    # materialization (rows = covered positions, bounded by tokens)
    covered = _covered(redundant, w).localCheckpoint(eager=True)
    spans = _span_stats(covered, "n_dup_tokens")
    clean = _residue(toks, covered).select(
        "doc_id", F.md5("clean_text").alias("clean_fp")
    )
    return (
        _n_tokens(toks)
        .join(spans, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("clean_fp", F.md5(F.lit(""))).alias("clean_fp"),
        )
    )


def _sliding_duck(w: int) -> str:
    return (
        f"CASE WHEN len(toks) >= {w} THEN "
        f"list_transform(range(1, len(toks) - {w - 1} + 1), "
        f"p -> array_to_string(toks[p : p + {w - 1}], ' ')) "
        "ELSE [] END"
    )


# DuckDB twin of exact_substring_dedup at w = EXSUB_W — identical
# keep-first / coverage / island-merge semantics (tests/test_span_dedup.py).
EXSUB_ORACLE = f"""
    WITH t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    raw AS (
      SELECT doc_id, unnest({_sliding_duck(EXSUB_W)}) AS s,
             unnest(range(1, len({_sliding_duck(EXSUB_W)}) + 1)) AS pos
      FROM t
    ),
    inst AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, md5(s) AS sh,
             doc_id * {_POS_CAP} + pos AS key
      FROM raw
    ),
    first AS (SELECT sh, min(key) AS min_key FROM inst GROUP BY sh),
    redundant AS (
      SELECT inst.* FROM inst JOIN first USING (sh) WHERE key <> min_key
    ),
    covered AS (
      SELECT DISTINCT doc_id, CAST(unnest(range(pos, pos + {EXSUB_W})) AS BIGINT) AS tpos
      FROM redundant
    ),
    spans AS (
      SELECT doc_id, count(*) AS n_dup_tokens,
             sum(CASE WHEN prev IS NULL OR tpos > prev + 1 THEN 1 ELSE 0 END) AS n_spans
      FROM (
        SELECT doc_id, tpos,
               lag(tpos) OVER (PARTITION BY doc_id ORDER BY tpos) AS prev
        FROM covered
      ) GROUP BY doc_id
    ),
    tok_rows AS (
      SELECT doc_id, unnest(toks) AS tok,
             CAST(unnest(range(1, len(toks) + 1)) AS BIGINT) AS tpos
      FROM t
    ),
    clean AS (
      SELECT doc_id,
             md5(array_to_string(list(tok ORDER BY tpos), ' ')) AS clean_fp
      FROM tok_rows ANTI JOIN covered USING (doc_id, tpos)
      GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS n_tokens FROM t
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(coalesce(s.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
           coalesce(c.clean_fp, md5('')) AS clean_fp
    FROM base b
    LEFT JOIN spans s USING (doc_id)
    LEFT JOIN clean c USING (doc_id)
    ORDER BY doc_id
"""


# --- span-level decontamination (round 6, library-first) ---------------------
#
# The cross-corpus complement of exact_substring_dedup, and the span-level
# deepening of q80's doc-level contamination check: training pipelines
# decontaminate against evaluation/benchmark corpora by flagging any
# w-token window of a candidate document that appears verbatim in the
# reference set (the "n-gram overlap" rule used for benchmark
# decontamination; same instance machinery as ExactSubstr, Lee et al.
# 2021, arXiv:2107.06499 §4). q80 answers "does this doc overlap the
# benchmark at all" via shingle Jaccard; span_contamination answers "which
# tokens, how many, in how many spans" so the pipeline can drop or TRIM.


def span_index(docs: DataFrame, w: int = EXSUB_W) -> DataFrame:
    """The persistable reference-side artifact: DISTINCT md5 hashes of
    every w-token window of the reference corpus (benchmark/eval set, or
    an admitted snapshot). Build ONCE per reference snapshot and persist
    to parquet — one 32-hex-char column, ~n_tokens rows before dedup;
    the q91/ivf_index/semantic_index lifecycle applied to spans."""
    return sliding_shingles(docs, w).select("sh").distinct()


def span_contamination(
    index: DataFrame, new_docs: DataFrame, w: int = EXSUB_W
) -> DataFrame:
    """Per new document: (doc_id, n_tokens, n_cont_tokens, n_spans,
    cont_frac) — token positions lying inside any w-token window whose
    hash appears in the reference ``span_index``. Every input document
    appears (clean docs report zeros; NULL text follows the family's
    n_tokens = 0 policy). Only the batch is tokenized/shingled; the index
    contributes one semi-join side on the hash — O(batch) per batch, and
    the coverage explode is keyed by (doc_id, tpos), bounded by document
    length (no corpus-wide hot key even when one window hits everywhere)."""
    toks = _toks_frame(new_docs).localCheckpoint(eager=True)  # tokenize once
    spans = _span_stats(_index_hits(toks, index, w), "n_cont_tokens")
    return _n_tokens(toks).join(spans, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_cont_tokens", F.lit(0)).cast("long").alias("n_cont_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.when(F.col("n_tokens") > 0,
               F.coalesce("n_cont_tokens", F.lit(0)) / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("cont_frac"),
    )


def decontaminate(
    index: DataFrame, new_docs: DataFrame, w: int = EXSUB_W, carry: tuple = ()
) -> DataFrame:
    """The TRIM form of :func:`span_contamination`: per new document,
    (doc_id[, *carry], n_tokens, n_cont_tokens, clean_text) where
    ``clean_text`` joins the surviving tokens (contaminated positions
    removed) with single spaces — the actionable output a pipeline feeds
    onward, the cross-corpus twin of ``exact_substring_dedup``'s
    reassembly. Same whitespace normalization caveat as exsub's clean_fp:
    the token join canonicalizes inter-token whitespace (documented,
    deterministic on both engines). NULL text → n_tokens 0, clean_text ''
    (family policy). ``carry``: passthrough columns of ``new_docs`` (e.g.
    lang/source) preserved on the output so a composed pipeline
    (sampling.py:training_corpus) needs no re-join against the input."""
    toks = _toks_frame(new_docs, carry).localCheckpoint(eager=True)  # tokenize once
    clean = _residue(toks, _index_hits(toks, index, w))
    return _n_tokens(toks, carry).join(clean, "doc_id", "left").select(
        "doc_id",
        *carry,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).cast("long").alias(
            "n_cont_tokens"
        ),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
