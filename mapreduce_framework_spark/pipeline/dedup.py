"""Deduplication operators for LLM training-data pipelines (SURVEY §7 M5).

Four dedup families over `documents`, each Spark-first and JVM-side:

- exact dedup (hash groupBy) ............................ q33
- n-gram Jaccard near-dup, exact (shingle self-join) .... q30
- MinHash + LSH near-dup (band/bucket join) ............. q31
- SimHash fingerprint ................................... q32

Scale notes (100 TB):
- q30's shingle self-join is quadratic in per-shingle document frequency —
  it is the *exact oracle*, not the scale path. q31 (MinHash-LSH) is the
  scale path: cost is O(docs × 64 perms) + band-bucket joins, and the final
  exact verification only touches candidate pairs.
- All hashing is FNV-1a32 as pure JVM higher-order-function expressions
  (the same hash family the reference partitioner uses,
  src/mr/worker.go:16-20) — no Python round-trip anywhere.
- MinHash permutations are fixed, seed-derived constants, so results are
  fully deterministic (required by the oracle hash check).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.functions.hashing import (
    FNV_OFFSET_BASIS,
    FNV_PRIME,
    TWO32,
)
from mapreduce_framework_spark.functions.text import WORD_SPLIT_RE, tokenize_duckdb
from mapreduce_framework_spark.registry import register

SHINGLE_K = 3
JACCARD_THRESHOLD = 0.8
N_PERMS = 64
N_BANDS = 16  # 16 bands x 4 rows; P(miss | J>=0.9) ~ 4e-8 per pair

# MinHash "permutations" are 64 independent full-width hash functions:
# m_i = min(xxhash64(shingle, i)). An earlier form used linear maps
# (a_i*h + b_i) mod p over a single 32-bit shingle hash h; with
# a < 2^31 that map wraps the modulus only ~4 times, so it is piecewise
# MONOTONE in h — the per-perm minima were heavily correlated across
# perms, and on a small shingle universe (char shingles over the tiny
# synthetic vocabulary) produced ~180× more band-collision candidates
# than true pairs (observed at sf0.1: 46k candidates for 256 real pairs,
# with J≈0.07 pairs agreeing on 32+ of 64 "independent" minima). Seeding
# the full hash per perm restores the independence the estimator assumes.


def _fnv_sql(expr: str) -> str:
    """Spark SQL FNV-1a32 of an arbitrary string expression (ASCII).
    Linear split-fold form — see functions/hashing.py: the
    sequence+substring form is quadratic in string length because
    substring walks the UTF8String per call."""
    return (
        f"CASE WHEN length({expr}) = 0 THEN CAST({FNV_OFFSET_BASIS} AS BIGINT) "
        f"ELSE aggregate(split({expr}, ''), CAST({FNV_OFFSET_BASIS} AS BIGINT), "
        f"(acc, ch) -> ((acc ^ CAST(ascii(ch) AS BIGINT)) * {FNV_PRIME}) % {TWO32}) END"
    )


def _fnv_duck(expr: str) -> str:
    return (
        f"CASE WHEN length({expr}) = 0 THEN CAST({FNV_OFFSET_BASIS} AS BIGINT) "
        f"ELSE list_reduce(list_prepend(CAST({FNV_OFFSET_BASIS} AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), i -> CAST(unicode(substr({expr}, i, 1)) AS BIGINT))), "
        f"(acc, b) -> ((xor(acc, b) * {FNV_PRIME}) % {TWO32})) END"
    )


# the word tokenizer of functions/text.py as SQL text over ``text``
TOKS_SPARK = f"filter(split(text, '{WORD_SPLIT_RE}'), w -> w != '')"
TOKS_DUCK = tokenize_duckdb("text")

SHINGLES_SPARK = (
    f"CASE WHEN size(toks) >= {SHINGLE_K} THEN "
    f"transform(sequence(1, size(toks) - {SHINGLE_K - 1}), "
    f"i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))) "
    f"ELSE array() END"
)
SHINGLES_DUCK = (
    f"CASE WHEN len(toks) >= {SHINGLE_K} THEN "
    f"list_transform(range(1, len(toks) - {SHINGLE_K - 2}), "
    f"i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) "
    f"ELSE [] END"
)

def _shingle_pairs_duck(docs_table: str = "documents") -> str:
    """The exact-Jaccard pair CTEs, parameterized on the corpus relation so
    split-corpus oracles (q105's train/bench decontamination differential)
    can bind them to a CTE instead of the raw view."""
    return f"""
    t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM {docs_table}),
    sh AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM t),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id1, id2,
             CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
      FROM pairs JOIN sz x ON pairs.id1 = x.doc_id JOIN sz y ON pairs.id2 = y.doc_id
    )
"""


_SHINGLE_PAIRS_DUCK = _shingle_pairs_duck()

_JACCARD_ORACLE = f"""
    WITH {_SHINGLE_PAIRS_DUCK}
    SELECT id1, id2, jaccard FROM jac
    WHERE jaccard >= {JACCARD_THRESHOLD}
    ORDER BY id1, id2
"""

# Shared by the q71/q81 oracles (and mirroring q49's components CTE): the
# set of non-canonical near-dup docs to drop. Single definition so the
# component rule can never silently diverge between consumers.
def _drop_list_duck(docs_table: str = "documents") -> str:
    """The near-dup drop-list CTEs over ``docs_table`` (must run under
    WITH RECURSIVE). Parameterized for the same reason as
    :func:`_shingle_pairs_duck`."""
    return f"""
    {_shingle_pairs_duck(docs_table)},
    nd AS (SELECT id1, id2 FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
    edges AS (SELECT id1 AS u, id2 AS v FROM nd UNION SELECT id2, id1 FROM nd),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
    drop_list AS (SELECT doc_id FROM comp WHERE doc_id <> component)
"""


_DROP_LIST_DUCK = _drop_list_duck()


def shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — word 3-gram shingling."""
    return (
        docs.withColumn("toks", F.expr(TOKS_SPARK))
        .select("doc_id", F.explode(F.array_distinct(F.expr(SHINGLES_SPARK))).alias("s"))
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(table(spark, "documents", sf_dir))


def _exact_jaccard_pairs(sh: DataFrame) -> DataFrame:
    """All-pairs exact Jaccard over shingle sets (id1 < id2).

    The shingle frame is materialized once (r13, guide §5; the q84
    precedent at char_ngram's builder): it feeds BOTH self-join sides and
    the per-doc size aggregate — lazy, each consumer re-tokenizes the
    corpus (4 scans in plans/r13/q30_ngram_jaccard_neardup_before.txt).
    The exact all-pairs candidate join itself is deliberately untouched:
    this builder IS the brute-force oracle pinning q31/q84."""
    sh = sh.localCheckpoint(eager=True)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    x = sz.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1"))
    y = sz.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2"))
    return pairs.join(x, "id1").join(y, "id2").select(
        "id1",
        "id2",
        (F.col("common").cast("double") / (F.col("n1") + F.col("n2") - F.col("common"))).alias(
            "jaccard"
        ),
    )


# RETIRED round 9 (registry.py policy item 4): the driver slot funded
# q106_admission_report; the §2.5 near-dup contract is carried by the
# registered LSH forms q31 (same oracle) and q84. This builder, the shared
# _JACCARD_ORACLE constant, and the dedicated local differential
# (tests/test_queries_oracle.py::test_retired_q30_matches_oracle) remain
# permanently; bench.py keeps timing the builder via direct import so the
# r1-subset like-for-like series is unbroken.
def q30_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (word 3-shingle) Jaccard near-duplicate pairs at
    J ≥ 0.8. This is the exact formulation; q31 is the LSH scale path."""
    pairs = _exact_jaccard_pairs(_doc_shingles(spark, sf_dir))
    return pairs.where(F.col("jaccard") >= JACCARD_THRESHOLD).orderBy("id1", "id2")


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sig array<bigint>[N_PERMS]) — MinHash over shingle hashes.

    Performance shape: higher-order array lambdas are *interpreted* in
    Spark (no codegen), so instead of per-doc array folds the signature is
    computed as 64 plain ``min()`` aggregate columns over native
    ``xxhash64`` shingle hashes — whole-stage-codegen'd, map-side partial,
    one shuffle of 64 longs per doc.

    Driver shape (the one-call rule): every constant 64-column expression
    list of the MinHash/LSH path — the min() aggregates, the band structs,
    the estimate-prune projections — is built from SQL strings
    (``F.expr``/``selectExpr``), one Py4J call per column or per list,
    never 3–4 chained ``F.*`` calls per column. On a 4-core host that cut
    the driver-side build of the 64 aggregates from 245 to 57 ms, of the
    band frame from 138 to 26 ms and of each prune projection from 157 to
    17 ms (medians of 15 builds) — paid per streaming batch, before Spark
    runs anything. Values, hashes and schemas are identical either way."""
    return _signatures_from_shingles(_doc_shingles(spark, sf_dir))


def _minhash_aggs() -> list:
    """The 64 MinHash aggregates, ``m{i} = min(xxhash64(s, i))``: one seeded
    full-width xxhash64 per permutation (see the permutation note above:
    linear maps of a shared 32-bit hash are not mixing enough), each one
    ``F.expr`` call (the one-call rule, minhash_signatures)."""
    return [F.expr(f"min(xxhash64(s, {i})) AS m{i}") for i in range(N_PERMS)]


def _minhash_columns(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m63): the 64 MinHash values as plain codegen'd min()
    aggregate columns (see minhash_signatures docstring: arrays and
    lambdas are slower)."""
    return sh.groupBy("doc_id").agg(*_minhash_aggs())


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    return _minhash_columns(sh).selectExpr(
        "doc_id", f"array({', '.join(f'm{i}' for i in range(N_PERMS))}) AS sig"
    )


def _band_frame(mh: DataFrame) -> DataFrame:
    """(doc_id, band, bsig) — one row per LSH band. The band signature is a
    hash of the band's minhash tuple, straight off the 64 aggregate columns
    (no array build, no interpreted slice lambda); equal tuples hash equal,
    so candidate completeness is unaffected, and any hash collision only
    ADDS candidates — all exact-verified downstream. The 16 band structs
    are one SQL string (the one-call rule, minhash_signatures)."""
    rows_per_band = N_PERMS // N_BANDS
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bsig', hash("
        + ", ".join(f"m{b * rows_per_band + j}" for j in range(rows_per_band))
        + "))"
        for b in range(N_BANDS)
    )
    return mh.selectExpr("doc_id", f"explode(array({band_structs})) AS bb").select(
        "doc_id", "bb.band", "bb.bsig"
    )


def _band_collisions(bands1: DataFrame, bands2: DataFrame) -> DataFrame:
    """Distinct ``(id1, id2)`` pairs sharing a (band, bsig) key, id1 from
    ``bands1`` and id2 from ``bands2`` — the LSH candidate equi-join."""
    a = bands1.alias("a")
    b = bands2.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bsig") == F.col("b.bsig")))
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )


def _lsh_candidates(
    sigs1: DataFrame,
    sigs2: DataFrame,
    threshold: float,
    bands1: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates ``(id1, id2)`` of two m0..m63 frames: the
    band collisions, then the minhash-estimate prune — keep a pair when at
    least ``64 × (threshold − 0.25)`` of its permutations agree.
    ``bands1``: a persisted ``banded_signatures`` layout of ``sigs1``,
    joined instead of re-deriving its bands.

    The prune is for shingle families with heavy cross-doc sharing (char
    shingles over a small vocabulary), where band collisions far outnumber
    true pairs and exact verification of wide sets dominates. Ĵ = (matching
    perms)/64 is unbiased with σ ≤ 1/16, so the cut sits ≥4σ below any
    qualifying pair; like banding, it can only drop candidates, and the
    LSH queries' exact oracles check both recall margins. 64 codegen'd
    equality terms, no arrays (the one-call rule, minhash_signatures)."""
    raw = _band_collisions(
        bands1 if bands1 is not None else _band_frame(sigs1), _band_frame(sigs2)
    )
    min_matches = int(math.ceil(N_PERMS * max(threshold - 0.25, 0.0)))
    x = sigs1.selectExpr("doc_id AS id1", *[f"m{i} AS x{i}" for i in range(N_PERMS)])
    y = sigs2.selectExpr("doc_id AS id2", *[f"m{i} AS y{i}" for i in range(N_PERMS)])
    est = " + ".join(f"IF(x{i} = y{i}, 1, 0)" for i in range(N_PERMS))
    return (
        raw.join(x, "id1").join(y, "id2").where(f"{est} >= {min_matches}")
        .select("id1", "id2")
    )


def _jaccard_verified(
    candidates: DataFrame, sets1: DataFrame, sets2: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard verification of ``(id1, id2)`` candidates against one
    ``(doc_id, shingles)`` set frame per side; pairs at ``threshold`` or
    above, with their jaccard."""
    s1 = sets1.select(F.col("doc_id").alias("id1"), F.col("shingles").alias("ss1"))
    s2 = sets2.select(F.col("doc_id").alias("id2"), F.col("shingles").alias("ss2"))
    common = F.size(F.array_intersect("ss1", "ss2"))
    jaccard = common.cast("double") / (F.size("ss1") + F.size("ss2") - common)
    return (
        candidates.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


@register(
    "q31_minhash_lsh_neardup",
    # Deterministic: fixed permutations; at J>=0.8 the per-pair miss
    # probability of 16x4 banding is <1e-7, and every surfaced candidate is
    # exact-verified, so the result equals the exact Jaccard pairs (q30).
    oracle=_JACCARD_ORACLE,
    tags=("ext", "dedup", "minhash", "lsh"),
)
def q31_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + LSH(16 bands × 4 rows) near-dup pairs, exact-
    verified at J ≥ 0.8 — the 100 TB dedup path: signatures are one scan,
    candidates come from equi-joins on (band, band-signature), and the
    exact check runs only on them (the family body, _lsh_verified_pairs)."""
    return lsh_neardup_pairs(table(spark, "documents", sf_dir))


def lsh_neardup_pairs(docs: DataFrame, stop_shingle_df: int | None = None) -> DataFrame:
    """Library form of q31: MinHash-LSH near-dup pairs of any documents
    frame with (doc_id, text).

    ``stop_shingle_df`` is the web-scale robustness lever SCALING.md
    documents: shingles present in more than that many documents
    ("stop shingles" — site chrome, licence lines) are removed before
    signatures AND verification. A near-universal shingle drags every
    document's minhashes toward its own hash, so band signatures collide
    corpus-wide and the candidate set degenerates toward all-pairs — the
    cap bounds that worst case (measured in
    tests/test_pipeline.py::test_stop_shingle_cap_bounds_candidate_blowup).
    Semantics with the cap: Jaccard over NON-STOP shingles (standard
    stop-gram removal — boilerplate no longer counts as similarity).
    Default None = exact q31 semantics, oracle-pinned."""
    sh = shingles_of(docs)
    if stop_shingle_df is not None:
        # document frequency is a partial-aggregated count (sh is distinct
        # per (doc_id, s)). The stop list is SMALL when the cap is chosen
        # near corpus size (its intended use: only boilerplate shingles
        # exceed it), but a cap far below corpus size makes it large — so
        # no forced broadcast hint here; AQE broadcasts it when it is in
        # fact small and falls back to a shuffled anti-join when not
        # (round-4 ADVICE: a forced hint risks broadcast OOM).
        stop = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > stop_shingle_df)
            .select("s")
        )
        sh = sh.join(stop, "s", "left_anti")
    return _lsh_verified_pairs(sh, JACCARD_THRESHOLD)


def lsh_band_candidates(sh_cached: DataFrame) -> DataFrame:
    """Raw LSH band-collision candidate pairs (id1 < id2) of a materialized
    (doc_id, s) shingle frame — exposed for candidate-volume diagnostics
    (the quantity the stop-shingle cap exists to bound)."""
    bands = _band_frame(_minhash_columns(sh_cached))
    return _band_collisions(bands, bands).where(F.col("id1") < F.col("id2"))


def _lsh_verified_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """MinHash(64) + LSH(16 bands × 4 rows) candidate generation, a
    minhash-estimate prune, then exact Jaccard verification — over any
    (doc_id, s) distinct shingle frame (word n-grams, char n-grams, ... —
    the caller's choice). The all-pairs form of the family's body:
    ``_lsh_candidates`` and ``_jaccard_verified`` with the corpus on both
    sides, then ``id1 < id2``, which Catalyst pushes into the band join."""
    # the shingles feed both the signature build and the exact
    # verification — materialize them once (localCheckpoint: eager,
    # lineage-truncating, and reclaimed by the ContextCleaner when the plan
    # is garbage-collected, unlike a never-unpersisted cache)
    sh_cached = sh.localCheckpoint(eager=True)
    # the 64 minhash columns feed three consumers (band keys + both sides
    # of the estimate join): materialize once — 65 longs per doc, tiny
    mh = _minhash_columns(sh_cached).localCheckpoint(eager=True)
    candidates = _lsh_candidates(mh, mh, threshold).where(F.col("id1") < F.col("id2"))
    # exact verification on candidates only — restrict the shingle-set build
    # to docs that actually appear in a candidate pair (semi-join) so the
    # collect_set shuffle is proportional to candidates, not the corpus
    cand_docs = (
        candidates.select(F.col("id1").alias("doc_id"))
        .unionAll(candidates.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    sets = (
        sh_cached.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("shingles"))
    )
    return _jaccard_verified(candidates, sets, sets, threshold).orderBy("id1", "id2")


# Spark computes the identical fingerprint via the dictionary-encoded
# explode/vocab-join in simhash_of() — see its docstring for the vote-sum
# equivalence proof against this fold form.
_SIMHASH_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 32)), (acc, j) -> acc + "
    "CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), hs), "
    "(a2, h) -> a2 + (2 * ((h >> j) & 1) - 1)) > 0 "
    "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)"
)


@register(
    "q32_simhash",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    h AS (SELECT doc_id, list_transform(toks, t -> {_fnv_duck('t')}) AS hs FROM t)
    SELECT doc_id, {_SIMHASH_DUCK} AS simhash
    FROM h WHERE len(hs) > 0 ORDER BY doc_id
    """,
    tags=("ext", "dedup", "simhash"),
)
def q32_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (token-frequency-weighted bit votes over
    FNV token hashes). Near-dup detection = small Hamming distance; the
    fingerprint itself is oracle-checked bit-exactly.

    Plan shape: the per-character FNV fold is an interpreted HOF, so it
    runs once per *distinct* token (the dictionary — vocabulary ≪ token
    instances at any scale), broadcast-joined back onto the exploded token
    stream. The 32 bit votes are plain codegen'd sums: per doc and bit j,
    ``Σ_tokens (2·bit_j − 1) > 0  ⇔  2·Σ bit_j − n_tokens > 0`` — the
    identical fingerprint the naive per-token fold produces (docs with no
    tokens drop out of the explode, matching the len(hs)>0 filter)."""
    return simhash_of(table(spark, "documents", sf_dir))


def simhash_of(docs: DataFrame) -> DataFrame:
    """Library form of q32: 32-bit SimHash of any (doc_id, text) frame."""
    toks = docs.select("doc_id", F.explode(F.expr(TOKS_SPARK)).alias("t"))
    vocab = toks.select("t").distinct().withColumn("h", F.expr(_fnv_sql("t")))
    h = toks.join(F.broadcast(vocab), "t").select("doc_id", "h")
    aggs = [
        F.sum(F.shiftright("h", j).bitwiseAND(F.lit(1))).alias(f"s{j}")
        for j in range(32)
    ]
    g = h.groupBy("doc_id").agg(F.count(F.lit(1)).alias("cnt"), *aggs)
    simhash = F.expr(
        " + ".join(
            f"IF(2 * s{j} - cnt > 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
            for j in range(32)
        )
    )
    return g.select("doc_id", simhash.alias("simhash")).orderBy("doc_id")


@register(
    "q33_exact_dedup_docs",
    oracle="""
    SELECT count(*) AS n_docs,
           count(DISTINCT text) AS n_unique,
           count(*) - count(DISTINCT text) AS n_dups
    FROM documents
    """,
    tags=("ext", "dedup", "exact"),
)
def q33_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup stats: total vs distinct text. The 100 TB form
    groups by a content hash (q43's fingerprint) instead of the raw text to
    keep shuffle rows narrow."""
    docs = table(spark, "documents", sf_dir)
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text").alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct("text")).alias("n_dups"),
    )


HAMMING_MAX = 6

# one oracle for both q55 (all-pairs) and q73 (banded) — they are exact
# twins by construction, and a single SQL string keeps them from drifting
_SIMHASH_NEARDUP_ORACLE = f"""
    WITH t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    h AS (SELECT doc_id, list_transform(toks, t -> {_fnv_duck("t")}) AS hs FROM t),
    s AS (SELECT doc_id, {_SIMHASH_DUCK} AS simhash FROM h WHERE len(hs) > 0)
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    ORDER BY id1, id2
    """


# RETIRED from the registry in round 7 (registry.py policy item 4, dry-run
# ranking entry 1): its registry slot funded q103_cascade_admission. The
# builder, the shared oracle constant above, and a DEDICATED differential
# test (tests/test_queries_oracle.py::test_retired_q55_matches_oracle)
# remain permanently — the local sweep still proves it every run; only the
# external driver slot moved to the newcomer.
def q55_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ {HAMMING_MAX} between
    32-bit fingerprints. All-pairs here — kept as the exact oracle twin of
    q73_simhash_banded_neardup, which computes the identical result through
    banded (pigeonhole) candidate generation and is the scale path."""
    sims = q32_simhash(spark, sf_dir)
    a = sims.select(F.col("doc_id").alias("id1"), F.col("simhash").alias("h1"))
    b = sims.select(F.col("doc_id").alias("id2"), F.col("simhash").alias("h2"))
    pairs = a.join(b, F.col("id1") < F.col("id2"))
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int")
    return (
        pairs.select("id1", "id2", hamming.alias("hamming"))
        .where(F.col("hamming") <= HAMMING_MAX)
        .orderBy("id1", "id2")
    )


SIMHASH_BANDS = 4  # 4 bytes of the 32-bit fingerprint


@register(
    "q73_simhash_banded_neardup",
    # Same exact result as q55: candidate generation is provably complete
    # (pigeonhole over 4 byte-bands: hamming <= 6 < 2*4 means some band
    # differs by <= 1 bit) and every candidate is exact-verified.
    oracle=_SIMHASH_NEARDUP_ORACLE,
    tags=("ext", "dedup", "simhash", "lsh"),
)
def q73_simhash_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via *banded* candidate generation — the 100 TB
    replacement for q55's all-pairs join. Split the 32-bit fingerprint into
    4 byte-bands; if hamming(a, b) <= 6 then at least one band differs by
    at most 1 bit (pigeonhole: 4 bands x 2 bits each would already be 8).
    The byte-band body (:func:`_hamming_band_join`) finds every pair with
    a <=1-bit band through a shuffle join on a 36-rows-per-doc key table,
    never a cross join, and verifies the exact Hamming distance inside it."""
    return simhash_banded_pairs(table(spark, "documents", sf_dir))


def simhash_banded_pairs(docs: DataFrame) -> DataFrame:
    """Library form of q73: banded SimHash near-dup pairs of any
    (doc_id, text) frame."""
    return _hamming_pairs(simhash_of(docs), "simhash", SIMHASH_BANDS, HAMMING_MAX)


def _hamming_band_join(
    build_hashes: DataFrame,
    probe_hashes: DataFrame,
    hash_col: str,
    n_bands: int,
    max_hamming: int,
    band_cap: int | None = None,
) -> tuple[DataFrame, Column]:
    """The byte-band Hamming body of the SimHash and phash families: the
    candidate join of two ``(doc_id, <hash_col>)`` frames, then the exact
    Hamming check. Both sides explode into (band, bsig) byte rows; the
    build side (alias ``a``) adds each byte's 8 single-bit flips.
    Pigeonhole: hamming ≤ ``max_hamming`` < 2 × ``n_bands`` means some
    band differs by ≤ 1 bit, so the equi-join emits every such pair —
    never a cross join — and the check runs inside it (the hash rides
    along). ``band_cap`` bounds the build side's hot bands
    (:func:`cap_banded`). Returns the verified join and its hamming."""
    bands = F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> struct(b AS band, shiftright({hash_col}, 8 * b) & 255 AS bsig))"
    )

    def byte_bands(hashes: DataFrame) -> DataFrame:
        return hashes.select("doc_id", hash_col, F.explode(bands).alias("bb")).select(
            "doc_id", hash_col, "bb.band", "bb.bsig"
        )

    build = byte_bands(build_hashes)
    if band_cap is not None:
        build = cap_banded(build, band_cap)
    variants = F.expr(
        "transform(sequence(0, 8), f -> IF(f = 0, bsig, bsig ^ shiftleft(1, f - 1)))"
    )
    build = build.select("doc_id", hash_col, "band", F.explode(variants).alias("bsig"))
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    ).cast("int")
    joined = build.alias("a").join(
        byte_bands(probe_hashes).alias("b"),
        (F.col("a.band") == F.col("b.band")) & (F.col("a.bsig") == F.col("b.bsig")),
    )
    return joined.where(hamming <= max_hamming), hamming


def _hamming_pairs(
    hashes: DataFrame, hash_col: str, n_bands: int, max_hamming: int
) -> DataFrame:
    """All-pairs form: (id1 < id2, hamming) of one hash frame against
    itself through :func:`_hamming_band_join`; Catalyst pushes the
    ``id1 < id2`` filter into the band join. Both sides branch off the
    hashes, so they are materialized once (localCheckpoint) instead of
    recomputing the hash DAG per side."""
    hashes = hashes.localCheckpoint(eager=True)
    joined, hamming = _hamming_band_join(hashes, hashes, hash_col, n_bands, max_hamming)
    return (
        joined.select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            hamming.alias("hamming"),
        )
        .where(F.col("id1") < F.col("id2"))
        .distinct()
        .orderBy("id1", "id2")
    )


def neardup_drop_list(docs: DataFrame) -> DataFrame:
    """doc_ids of non-canonical near-dup component members — the list a
    dedup pipeline removes. Derived through the LSH scale path (q31),
    whose pairs equal the exact q30 pairs (shared oracle), then the
    iterative components operator. Single definition for every consumer
    (q71, q81)."""
    from mapreduce_framework_spark.operators.graph import connected_components

    pairs = lsh_neardup_pairs(docs).select(
        F.col("id1").alias("u"), F.col("id2").alias("v")
    )
    comps = connected_components(pairs)
    return comps.where(F.col("doc_id") != F.col("component")).select("doc_id")


@register(
    "q71_dedup_corpus_output",
    oracle=f"""
    WITH RECURSIVE
    {_DROP_LIST_DUCK}
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drop_list)
    ORDER BY d.doc_id
    """,
    tags=("ext", "dedup", "pipeline"),
)
def q71_dedup_corpus_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup deliverable: the corpus with near-duplicates
    removed — one canonical doc (min doc_id) kept per component, via a
    broadcast anti-join of the (tiny) drop list against the full corpus.
    At 100 TB this is the final stage of the near-dedup pipeline:
    LSH pairs → components → anti-join; only the drop list is ever small
    enough to broadcast, the corpus itself streams through."""
    docs = table(spark, "documents", sf_dir)
    drop = neardup_drop_list(docs)
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


CHAR_NGRAM_K = 8
CHAR_JACCARD_THRESHOLD = 0.75

# COVERAGE CAP (q72 only): the exact char-shingle self-join is bounded to
# doc_id < 500 because char shingles from the tiny synthetic vocabulary are
# shared across most docs, making the all-pairs form quadratic-heavy at
# larger SFs. q72 therefore covers a SUBSET of the corpus at sf >= 0.1 —
# it is the exact *oracle twin* on the capped domain; q84 (MinHash-LSH over
# the same char shingles) is the UNBOUNDED scale path and the form a
# pipeline should actually run.
CHAR_DOC_CAP = 500


def _char_shingles_duck(cap: int | None) -> str:
    where = f"WHERE doc_id < {cap}" if cap is not None else ""
    return f"""
    cpos AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - {CHAR_NGRAM_K} + 2, 1))) AS i
      FROM documents {where}
    ),
    csh AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {CHAR_NGRAM_K}) AS s
      FROM cpos
    ),
    csz AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
      FROM csh a JOIN csh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""


def _char_jaccard_oracle(cap: int | None) -> str:
    return f"""
    WITH {_char_shingles_duck(cap)}
    SELECT id1, id2,
           CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
    FROM cpairs JOIN csz x ON cpairs.id1 = x.doc_id JOIN csz y ON cpairs.id2 = y.doc_id
    WHERE CAST(common AS DOUBLE) / (x.n + y.n - common) >= {CHAR_JACCARD_THRESHOLD}
    ORDER BY id1, id2
    """


def char_shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — character 8-gram shingling (the
    tokenizer-free twin of shingles_of; docs shorter than K chars yield no
    shingles, matching the SQL range() emptiness).

    Built over a split-once char array with O(K) slices — NOT
    ``substring(text, i, K)`` per position, which walks the UTF8String
    from the start each call and made shingling QUADRATIC in document
    length (the same cost bug the FNV fold had, functions/hashing.py).
    Identical shingles; linear cost in the document."""
    return (
        docs.withColumn("cs", F.split("text", ""))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, greatest(size(cs) - {CHAR_NGRAM_K} + 1, 1)), "
                        f"i -> concat_ws('', slice(cs, i, {CHAR_NGRAM_K})))"
                    )
                )
            ).alias("s"),
        )
        .where(F.length("s") == CHAR_NGRAM_K)
    )


# RETIRED round 7 (registry.py policy item 4; dry-run ranking entry 2):
# its registry slot funded q104_full_cascade_admission. The builder and
# oracle stay permanently; the dedicated local differential is
# tests/test_queries_oracle.py::test_retired_q72_matches_oracle.
def q72_char_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 8-gram Jaccard near-dup pairs, EXACT form, CAPPED to
    doc_id < {CHAR_DOC_CAP} (see CHAR_DOC_CAP comment: the tiny synthetic
    vocabulary makes the uncapped self-join quadratic). This is the oracle
    twin on the capped domain; q84_char_ngram_lsh_neardup computes the same
    predicate over the WHOLE corpus through MinHash-LSH and is the scale
    path — q72's coverage gap is intentional and documented, not silent."""
    docs = table(spark, "documents", sf_dir).where(F.col("doc_id") < CHAR_DOC_CAP)
    pairs = _exact_jaccard_pairs(char_shingles_of(docs))
    return pairs.where(F.col("jaccard") >= CHAR_JACCARD_THRESHOLD).orderBy("id1", "id2")


# --- boilerplate n-gram flagging (repeated-span removal) --------------------
#
# The C4/RefinedWeb-style cleaning step the suite lacked: word n-grams that
# recur across many documents are boilerplate (headers, footers, templated
# spans) and get removed before training. Scale shape: the flagged-gram
# list is DF-filtered and tiny relative to the corpus → broadcast; the
# only corpus-wide shuffle is the (gram → document-frequency) count, which
# is map-side partial-aggregated.

BOILER_N = 5  # word n-gram span size
BOILER_DF = 3  # flagged when appearing in >= BOILER_DF distinct docs

_GRAMS5_SPARK = (
    f"CASE WHEN size(toks) >= {BOILER_N} THEN "
    f"transform(sequence(1, size(toks) - {BOILER_N - 1}), "
    "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), "
    "element_at(toks, i + 2), element_at(toks, i + 3), element_at(toks, i + 4))) "
    "ELSE array() END"
)
_GRAMS5_DUCK = (
    f"CASE WHEN len(toks) >= {BOILER_N} THEN "
    f"list_transform(range(1, len(toks) - {BOILER_N - 2}), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || "
    "toks[i + 3] || ' ' || toks[i + 4]) "
    "ELSE [] END"
)

_BOILER_DUCK = f"""
    t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    pos AS (SELECT doc_id, unnest({_GRAMS5_DUCK}) AS g FROM t),
    dfreq AS (
      SELECT g, count(*) AS df FROM (SELECT DISTINCT doc_id, g FROM pos) GROUP BY g
    ),
    boiler AS (SELECT g, df FROM dfreq WHERE df >= {BOILER_DF})
"""


def _grams5_of(docs: DataFrame) -> DataFrame:
    """All word 5-gram positions per doc (duplicates kept — one row per
    position, so per-doc totals count spans, not distinct grams)."""
    return docs.withColumn("toks", F.expr(TOKS_SPARK)).select(
        "doc_id", F.explode(F.expr(_GRAMS5_SPARK)).alias("g")
    )


def boilerplate_ngrams(docs: DataFrame, min_df: int = BOILER_DF) -> DataFrame:
    """Library form of q86: the boilerplate dictionary — word 5-grams in
    >= min_df distinct documents, with their document frequency."""
    return (
        _grams5_of(docs)
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
        .select(F.col("g").alias("gram"), "df")
    )


def boilerplate_doc_stats(docs: DataFrame, min_df: int = BOILER_DF) -> DataFrame:
    """Library form of q87: per-doc span totals, boilerplate-hit counts,
    and the flagged fraction (see q87's docstring)."""
    pos = _grams5_of(docs)
    boiler = boilerplate_ngrams(docs, min_df).select(
        F.col("gram").alias("g"), F.lit(1).alias("hit")
    )
    return (
        pos.join(F.broadcast(boiler), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_flagged"),
            (
                F.coalesce(F.sum("hit"), F.lit(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("flag_ratio"),
        )
    )


@register(
    "q86_boilerplate_ngrams",
    oracle=f"""
    WITH {_BOILER_DUCK}
    SELECT g AS gram, df FROM boiler ORDER BY gram
    """,
    tags=("ext", "dedup", "boilerplate", "text"),
)
def q86_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate dictionary: word {BOILER_N}-grams appearing in >=
    {BOILER_DF} distinct documents, with their document frequency. One
    corpus scan + one partial-aggregated count shuffle; the output is the
    small list the scrub step (q87) broadcasts."""
    return boilerplate_ngrams(table(spark, "documents", sf_dir)).orderBy("gram")


@register(
    "q87_boilerplate_doc_stats",
    oracle=f"""
    WITH {_BOILER_DUCK}
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(coalesce(sum(CASE WHEN boiler.g IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged,
           CAST(coalesce(sum(CASE WHEN boiler.g IS NOT NULL THEN 1 ELSE 0 END), 0) AS DOUBLE)
             / count(*) AS flag_ratio
    FROM pos LEFT JOIN boiler USING (g)
    GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("ext", "dedup", "boilerplate", "text"),
)
def q87_boilerplate_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate contamination: of the doc's {BOILER_N}-gram
    spans, how many hit the boilerplate dictionary (q86) and what fraction
    of the doc that is — the signal a cleaning pipeline thresholds on
    before span removal. The dictionary side is broadcast; the corpus
    streams through one scan. Docs with fewer than {BOILER_N} tokens have
    no spans and drop out (same on both engines)."""
    return boilerplate_doc_stats(table(spark, "documents", sf_dir)).orderBy("doc_id")


@register(
    "q84_char_ngram_lsh_neardup",
    # Exact oracle over the UNCAPPED corpus: qualifying pairs on this data
    # sit at J >= 0.83 while the densest non-qualifying pair is at J <= 0.24
    # (measured at sf0.01/sf0.1), so 16x4 banding's per-pair miss
    # probability at the threshold margin is < 1e-4 and every candidate is
    # exact-verified — the banded result provably equals the exact form on
    # any data with that margin, and is hash-checked here.
    oracle=_char_jaccard_oracle(None),
    tags=("ext", "dedup", "jaccard", "char-ngram", "lsh"),
)
def q84_char_ngram_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 8-gram near-dup pairs over the WHOLE corpus via
    MinHash(64) + LSH(16 bands × 4 rows) — the unbounded scale path that
    replaces q72's capped exact self-join. q31's body
    (``_lsh_verified_pairs``) applied to char shingles: cost is
    O(docs × 64) + per-bucket candidates, never the all-pairs join that
    forces q72's cap."""
    sh = char_shingles_of(table(spark, "documents", sf_dir))
    return _lsh_verified_pairs(sh, CHAR_JACCARD_THRESHOLD)


# --- cross-snapshot (incremental) dedup -------------------------------------
# The incremental form every growing corpus needs: dedup a NEW batch against
# the EXISTING index without ever self-joining the index. Candidates come
# from a band equi-join between the two sides' LSH band frames — work scales
# with |new| × collision rate, not |corpus|². The within-index (and
# within-batch) pairs are deliberately out of scope here: the index is
# already deduped, and the batch self-dedup is q31's job.


def index_signatures(index_docs: DataFrame, shingler=None) -> DataFrame:
    """The persistable per-snapshot index artifact: one row per doc with
    the 64 MinHash columns (m0..m63) AND the exact shingle set.

    Build this ONCE when a snapshot is ingested and write it to a parquet
    table; every later ``match_batch`` then touches only (a) the batch's
    own signature build and (b) equi-joins against this frame — the
    per-batch cost is O(batch), with no O(index) signature recompute.
    Storage is ~64 longs + the shingle array per doc (the shingle set is
    what exact verification needs; at 100 TB it lives next to the corpus
    as a column-pruned parquet read, and only candidate rows are ever
    fetched thanks to the semi-join below).

    ``shingler``: the (docs → (doc_id, s)) shingle builder — default word
    {SHINGLE_K}-grams (``shingles_of``, the q91 form); pass
    ``char_shingles_of`` for the character-8-gram family (q84's tier, the
    realistic one for text without word boundaries) with
    ``CHAR_JACCARD_THRESHOLD`` at match time. MinHash/banding/verify are
    shingle-agnostic, so the whole lifecycle (persisted artifact,
    O(batch) matching, streaming admission) carries over unchanged —
    index and batch must of course use the SAME shingler.

    Plan shape: ONE aggregate — the 64 min() columns and the shingle
    ``collect_set`` share a single ``groupBy("doc_id")``, with no second
    aggregate and no join back (pinned by
    tests/test_pipeline.py::test_index_signatures_plans_one_aggregate).
    ``match_batch`` builds the batch side with this same call."""
    sh = (shingler or shingles_of)(index_docs)
    return sh.groupBy("doc_id").agg(
        *_minhash_aggs(), F.expr("collect_set(s) AS shingles")
    )


def cap_banded(bands: DataFrame, band_cap: int) -> DataFrame:
    """Bound every (band, bsig) group of a band frame to its ``band_cap``
    lowest-doc_id rows — the HOT-BAND guard for adversarial index skew.

    Why it exists: the banded candidate join is an equi-join on (band,
    bsig). A boilerplate cluster of n near-identical index docs shares
    band signatures, so one join key carries n index rows — at n = 1e6
    that single hot key serializes the shuffle (the skewed-join
    scale-killer; measured series in SCALING.md round 8). Capping the
    index side bounds the join's per-key work at band_cap while keeping
    the candidate-completeness argument:

    RECALL ARGUMENT (approximation is explicit and opt-in): a saturated
    (band, bsig) group is, by construction, >= band_cap index docs whose
    4-row minhash tuple is IDENTICAL in that band — a near-duplicate
    cluster. A batch doc that is a true near-dup of a dropped cluster
    member (a) still collides with the RETAINED representatives in that
    same band (same bsig — that is what saturation means), so it still
    becomes a candidate and is still rejected at verify time; what can
    change is WHICH cluster member it reports as matched_id, and only
    when its best match was beyond the cap. A miss would require the doc
    to verify >= threshold ONLY against dropped members while failing
    against every retained one AND colliding in no unsaturated band —
    i.e. the cluster is lexically tighter to the query than to its own
    retained members, contradicting that all of them share the band
    tuple. Decisions on non-adversarial corpora are bit-identical
    (band_cap never binds; pinned by
    tests/test_scale_patterns.py::test_band_cap_identity_on_sf_corpus).

    Deterministic (lowest doc_ids kept), so capping commutes with
    redelivery and compaction. One window shuffle over the band frame —
    a BUILD/COMPACTION-time cost (banded_signatures(band_cap=...),
    compact_transform in the streaming sinks), never per batch."""
    return _cap_groups(bands, ["band", "bsig"], "doc_id", band_cap)


def _cap_groups(
    frame: DataFrame, keys: list[str], order_col: str, cap: int
) -> DataFrame:
    """Keep each ``keys`` group's ``cap`` rows of lowest ``order_col``: the
    capped ``row_number`` window behind cap_banded and
    semantic_dedup.cap_cells."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        frame.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def banded_signatures(
    index_sigs: DataFrame, band_cap: int | None = None
) -> DataFrame:
    """The PERSISTABLE banded layout of an ``index_signatures`` artifact:
    one narrow ``(doc_id, band, bsig)`` row per LSH band. Write it next
    to the signature table and hand it to ``match_batch(index_bands=…)``:
    the per-batch candidate join then scans ~17 raw bytes/band-row
    (2 longs + a byte, dictionary/RLE-friendly) instead of re-projecting
    all 64 minhash longs (~512 B/doc) AND re-deriving 16 band structs
    per index row on EVERY batch — the dominant per-batch index read in
    the steady-state match loop, eliminated once at build time. Contents
    are definitionally equal to the on-the-fly derivation (same
    ``_band_frame``), so candidates — and therefore matches — are
    bit-identical (pinned by
    tests/test_pipeline.py::test_match_batch_with_persisted_bands_is_identical).
    ``band_cap``: bound every (band, bsig) group to its cap lowest-doc_id
    rows at build time — the hot-band skew guard (see :func:`cap_banded`
    for the recall argument). None (default) keeps the layout exact."""
    bands = _band_frame(index_sigs)
    return bands if band_cap is None else cap_banded(bands, band_cap)


BAND_BUCKETS = 32  # publish_banded_bucketed's default bucket count


def publish_banded_bucketed(
    bands: DataFrame,
    name: str,
    path: str,
    n_buckets: int | None = None,
) -> None:
    """Persist a ``banded_signatures`` artifact as a BUCKETED external
    table on the candidate-join key (round 14, guide §6 / VERDICT r13
    item 3): ``bucketBy(n, band, bsig)`` pre-shuffles the index ONCE at
    write time, so every later ``match_batch`` candidate join reads the
    index side already hash-partitioned — the per-batch probe pays an
    Exchange only on the (small) batch side. This matters exactly when
    the batch is too large for a broadcast: below the broadcast
    threshold the planner ships the batch side and the index never
    shuffles anyway; above it, the plain-parquet layout re-exchanges the
    ENTIRE band index on every batch while this layout never does
    (pinned by tests/test_optimizations_r14.py::
    test_bucketed_bands_probe_side_has_no_exchange; row identity by
    ::test_bucketed_bands_match_identity — the layout is physical, the
    band frame's contents are byte-identical).

    ``n_buckets`` sizes the probe stage's parallelism and per-bucket
    bytes: target the 100 MB–1 GB/bucket band (guide §2.2) — a band
    frame is ~17 raw B/row × 16 rows/doc, so ~4 billion docs/TB of band
    rows wants thousands of buckets at 100 TB, passed here per
    deployment; the default (``BAND_BUCKETS``, 32) matches the test-scale
    core count.
    Shingle-agnostic like the rest of the lifecycle: the same call
    publishes the word-shingle (q91) and char-shingle (q84 tier) band
    indexes. Catalog note: ``saveAsTable`` registers ``name`` in the
    session catalog with the bucket spec; readers in a NEW session must
    re-register the table (same DDL) — reading the bare parquet path
    still works but degrades to the unbucketed plan."""
    from mapreduce_framework_spark.storage import write_bucketed

    write_bucketed(
        bands, name, path, ["band", "bsig"], n_buckets or BAND_BUCKETS,
        sort_cols=["band", "bsig", "doc_id"],
    )


def match_batch(
    index_sigs: DataFrame,
    new_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    shingler=None,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup matches (id1 = index doc, id2 = new doc, jaccard) of a new
    batch against a PRECOMPUTED index (``index_signatures`` output, read
    back from its parquet table), via MinHash-LSH candidates + estimate
    prune + exact verification — ``_lsh_verified_pairs``' body over two
    sides. Only the batch side is scanned/shingled here: it is ONE
    checkpointed ``index_signatures(new_docs)`` frame (one
    aggregate, one job) that feeds the band join, the prune and the
    verification; the index side contributes projections of stored
    columns. ``shingler``: must match the index build's (see
    index_signatures). ``index_bands``: the persisted ``banded_signatures``
    artifact — at scale, pass it so the candidate join scans the narrow
    band table instead of re-deriving bands from the 64 minhash columns
    per batch."""
    batch_sigs = index_signatures(new_docs, shingler).localCheckpoint(eager=True)
    return _match_signatures(index_sigs, batch_sigs, threshold, index_bands)


def _match_signatures(
    index_sigs: DataFrame,
    batch_sigs: DataFrame,
    threshold: float,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """The body of :func:`match_batch` over two ``index_signatures`` frames:
    the family's ``_lsh_candidates`` + ``_jaccard_verified`` with the index
    on the id1 side. The streaming near-dup tier calls it with its own
    materialized batch frame, which it then publishes as the admitted
    docs' index delta instead of re-shingling them."""
    candidates = _lsh_candidates(index_sigs, batch_sigs, threshold, index_bands)
    # index shingle sets come straight off the stored column (candidate-
    # bounded fetch); batch sets off the batch frame
    sets_i = index_sigs.join(
        F.broadcast(candidates.select(F.col("id1").alias("doc_id")).distinct()),
        "doc_id",
        "left_semi",
    )
    return _jaccard_verified(candidates, sets_i, batch_sigs, threshold)


def cross_snapshot_matches(
    index_docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    shingler=None,
) -> DataFrame:
    """From-scratch convenience form: builds the index artifact inline
    (one localCheckpoint so the band join and the verification share the
    materialization) and delegates to ``match_batch``. Production use at
    scale persists ``index_signatures`` once per snapshot instead — that
    is what makes repeated batch matching O(batch)."""
    return match_batch(
        index_signatures(index_docs, shingler).localCheckpoint(eager=True),
        new_docs,
        threshold,
        shingler,
    )


# --- exact admission tier (round 7) ------------------------------------------
# The cheapest first stage of a tiered cross-snapshot dedup: reject batch
# docs whose BYTE-IDENTICAL content is already in the corpus before any
# shingling/MinHash work runs. Real pretraining pipelines run exactly this
# cascade (exact → near-dup → semantic), each tier only seeing the previous
# tier's survivors; the exact tier typically removes the bulk of crawl
# re-fetches at a fingerprint-join's cost. Completes the incremental
# lifecycle set: every dedup family (exact here, MinHash/char above,
# semantic in semantic_dedup.py) now has a persisted artifact + O(batch)
# matcher.


def exact_fingerprint_index(index_docs: DataFrame, distinct: bool = False) -> DataFrame:
    """The persistable per-snapshot artifact of the EXACT tier: (doc_id,
    fp) with fp = md5 of the raw text — one narrow row per corpus doc,
    the q33/q43 content-hash convention applied to the q91 artifact
    cadence. NULL text fingerprints as the empty string (the family's
    NULL-behaves-as-empty-doc policy, stated here and in the oracle of
    its differential test), so two NULL docs are exact duplicates.

    ``distinct=True`` keeps ONE row per fingerprint — the min doc_id —
    via :func:`cap_fingerprints`: the hot-fp guard for the snapshot
    lifecycle (index an EXISTING unfiltered crawl, where a boilerplate
    cluster is 10⁶ rows behind one fp join key). Unlike the band/cell
    caps this is DECISION-LOSSLESS, not just recall-argued: the
    admission rule already reports min(id1) among exact matches
    (streaming/ingest.py), and min over the distinct index equals min
    over the full one by construction. Default False keeps the full
    per-doc artifact (it doubles as a doc_id → fp lookup)."""
    fps = index_docs.select(
        "doc_id", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp")
    )
    return cap_fingerprints(fps) if distinct else fps


def cap_fingerprints(index_fps: DataFrame) -> DataFrame:
    """One row per fingerprint — the MIN doc_id — of an
    ``exact_fingerprint_index`` frame: the EXACT tier's hot-key guard.

    Why it exists: ``exact_match_batch`` equi-joins on ``fp``. In the
    snapshot lifecycle a 10⁶-copy boilerplate cluster (crawl re-fetches
    of one page) is ONE fp key carrying 10⁶ index rows, so a batch with
    b copies ships b×10⁶ pairs through a single key — the same
    identical-row skew the round-8 band/cell series measured (AQE cannot
    split a key whose rows are identical), violating the O(batch)
    per-batch contract. Keeping min-doc_id-per-fp bounds every join key
    at 1.

    DECISION-LOSSLESS (stronger than cap_banded/cap_cells' recall
    argument): a batch doc matches the distinct index iff it matches the
    full one (same fp set), and the reported match is identical because
    the admission rule takes min(id1) over the tier's matches — which IS
    the retained row. Pinned by
    tests/test_scale_patterns.py::test_fp_distinct_is_decision_lossless.

    One partial-agg shuffle (groupBy fp + min — map-side combine
    collapses a hot fp's rows before the exchange, so even BUILDING the
    guard never ships the hot group; deliberately an agg, not the window
    form the band/cell caps use). Deterministic and idempotent, so it
    serves as the compact-transform hook on streaming fp roots
    (re-applied at every compaction; between compactions the accumulated
    excess is bounded by the delta tail, exactly as for band_cap)."""
    return (
        index_fps.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
    )


def exact_match_batch(index_fps: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Exact-content matches (id1 = index doc, id2 = new doc) of a new
    batch against a precomputed ``exact_fingerprint_index`` (read back
    from parquet): one fingerprint equi-join, column-pruned to (doc_id,
    fp) on the index side. Only the batch is hashed here — per-batch
    cost is O(batch), the same contract as match_batch /
    semantic_match_batch. Ties (several index docs sharing the batch
    doc's content) all surface; the admission decision picks min id1,
    mirroring the other tiers' best-match rule."""
    b = new_docs.select(
        F.col("doc_id").alias("id2"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
    )
    return (
        index_fps.select(F.col("doc_id").alias("id1"), "fp")
        .join(b, "fp")
        .select("id1", "id2")
    )


# Snapshot split rule shared by the Spark builder and the oracle: docs with
# doc_id >= (max(doc_id)+1) div 2 form the "new crawl"; the lower half is
# the existing index. Data-derived so the split scales with SF.
_SPLIT_DUCK = "(SELECT (max(doc_id) + 1) // 2 FROM documents)"


@register(
    "q91_cross_snapshot_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {TOKS_DUCK} AS toks FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({SHINGLES_DUCK}) AS s FROM t),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    split AS (SELECT CAST({_SPLIT_DUCK} AS BIGINT) AS cut),
    pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s, split
      WHERE a.doc_id < cut AND b.doc_id >= cut
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT id1, id2, CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
      FROM pairs JOIN sz x ON pairs.id1 = x.doc_id JOIN sz y ON pairs.id2 = y.doc_id
    ),
    best AS (
      SELECT id2 AS doc_id, id1 AS matched_id, jaccard,
             row_number() OVER (PARTITION BY id2 ORDER BY jaccard DESC, id1 ASC) AS rn
      FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    )
    SELECT doc_id, matched_id, jaccard FROM best WHERE rn = 1 ORDER BY doc_id
    """,
    tags=("ext", "dedup", "incremental", "lsh"),
)
def q91_cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup across snapshots: the upper-id half of the corpus
    plays the "new crawl", the lower half the existing index; each new doc
    that near-duplicates (J ≥ 0.8) an index doc is reported with its best
    match (highest Jaccard, ties to the lowest index id). Candidates come
    from the cross-side band join only (match_batch) — no index self-join,
    so a small batch against a 100 TB index costs O(batch), not O(index).
    The oracle replays the decision with the exact cross-side Jaccard
    join; LSH banding at J ≥ 0.8 has per-pair miss probability < 1e-7 and
    all candidates are exact-verified (same argument as q31)."""
    from pyspark.sql.window import Window

    docs = table(spark, "documents", sf_dir)
    cut = docs.agg(
        ((F.max("doc_id") + 1).cast("long") / 2).cast("long").alias("cut")
    )
    d = docs.crossJoin(F.broadcast(cut))
    index_docs = d.where(F.col("doc_id") < F.col("cut")).drop("cut")
    new_docs = d.where(F.col("doc_id") >= F.col("cut")).drop("cut")
    matches = cross_snapshot_matches(index_docs, new_docs)
    w = Window.partitionBy("id2").orderBy(F.col("jaccard").desc(), F.col("id1").asc())
    return (
        matches.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id2").alias("doc_id"),
            F.col("id1").alias("matched_id"),
            "jaccard",
        )
        .orderBy("doc_id")
    )
