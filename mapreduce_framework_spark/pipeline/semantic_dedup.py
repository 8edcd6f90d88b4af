"""SemDeDup-style semantic deduplication over the embedding column.

Exact/near-exact text dedup (q24/q31/q84) misses *semantic* duplicates —
re-phrasings, translations, re-crawls with different boilerplate — that
embed to nearly identical vectors. SemDeDup (Abbas et al. 2023,
arXiv:2303.09540) makes the embedding-space pair search tractable at
corpus scale by clustering first and only comparing WITHIN cells: k-means
cells bound the quadratic exactly the way IVF cells bound ANN search
(q56) and LSH bands bound MinHash verification (q31).

Semantics, exactly:

1. centroids are a caller-supplied ``(cent_id, cent)`` table (a fitted
   k-means codebook of FIXED size K at scale); when none is supplied the
   deterministic stand-in is every ``SEM_STRIDE``-th vector
   (:func:`stride_centroids`), which is q102's oracle-checked registry
   form;
2. every vector is assigned to its ``SEM_PROBES`` nearest cells by cosine
   (ties → smaller cent_id; multi-probe is the standard recall lever,
   same role as q56's nprobe);
3. every pair sharing ≥ 1 cell with cosine ≥ ``SEMDEDUP_COS`` is a
   duplicate pair; the member with the SMALLER vec_id is kept, the larger
   dropped (deterministic replacement for the paper's random
   representative; chains collapse transitively toward the smallest id);
4. output: one row per DROPPED vector with the smallest condemning
   partner and the cosine to it.

Pairs sharing no cell are invisible by construction — SemDeDup's
documented approximation. On real corpora semantic duplicates are TIGHT
(cos ≳ 0.9) and co-assign with near-certainty; the synthetic embeddings
here are uniform (clusterless — densest pair ≈ 0.51), so recall at the
0.45 threshold is driven by cell-collision chance. What cell-bounding
still guarantees, and what the tests pin, is (a) every emitted drop is a
true global pair (bit-exact, oracle-checked) and (b) ENRICHMENT: the
caught fraction of true pairs is several × the fraction of all pairs
compared (measured 3.4–6.5× across sf0.001/0.01/0.1) — nearest-cell
co-assignment preferentially compares similar vectors even without
cluster structure.

Scale shape (100 TB): at scale the centroid table is a FITTED codebook of
fixed cardinality K (e.g. a k-means fit on a sample), so the broadcast is
O(K·dim) — independent of corpus size — and assignment is one broadcast
pass over the corpus (the sanctioned broadcast crossJoin, as q56); the
only corpus-wide shuffle is the shared-cell equi-join, whose fan-out is
bounded by cell size × probes. The stride-derived DEFAULT is the
deterministic test/oracle form only: its cardinality is n/SEM_STRIDE and
it must not be used on a large corpus (SCALING.md). Every cosine is the
fold-order dot product both engines evaluate identically (similarity.py
module note), so the drop list is bit-exactly reproducible in SQL.

Registered round 5 as ``q102_semantic_dedup`` (stride-centroid default —
the deterministic oracle form); the parameterized ``centroids=`` seam is
the production path, mirroring q91's ``index_signatures``/``match_batch``
split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.pipeline.dedup import _cap_groups
from mapreduce_framework_spark.registry import register
from mapreduce_framework_spark.pipeline.similarity import (
    _E_CTE_DUCK,
    _cos,
    _dot_duck,
    _nearest_cells,
    _norms_spark,
    _side,
    _stride_codebook,
    prepare_centroids,
)

SEMDEDUP_COS = 0.45  # same duplicate threshold as q36's global form
SEM_STRIDE = 29  # finer cells than q56's ANN stride: dedup wants many
SEM_PROBES = 2   # small cells + multi-probe (best measured tradeoff)


def stride_centroids(embs: DataFrame) -> DataFrame:
    """The q102 stride codebook of a ``(vec_id, embedding)`` frame: every
    ``SEM_STRIDE``-th vector (similarity._stride_codebook). Cardinality is
    n/SEM_STRIDE — scales with the corpus, so this is the TEST/ORACLE form
    only; at scale pass a fitted fixed-K codebook to :func:`assign_cells` /
    :func:`semantic_dedup`."""
    return _stride_codebook(_norms_spark(embs), SEM_STRIDE)


def assign_cells(
    embs: DataFrame, centroids: DataFrame | None = None, probes: int = SEM_PROBES
) -> DataFrame:
    """(vec_id, cent_id) — each vector's ``probes`` nearest cells by
    cosine (ties → smaller cent_id). One broadcast pass over the corpus.

    ``centroids``: a fitted fixed-K codebook ``(cent_id, cent[, cent_norm])``
    — the production seam, broadcast O(K·dim). Default: the stride-derived
    deterministic stand-in (cardinality n/SEM_STRIDE; test/oracle form
    only). An explicitly-passed empty frame raises (prepare_centroids), and
    so does a stride default that derives ZERO centroids from a non-empty
    corpus (vec_ids never hitting the stride — e.g. a caller-filtered
    slice): silently assigning nothing would emit an empty drop list that
    looks like "no duplicates". The stride default on an empty corpus
    yields the correct empty output. The emptiness probe is two limit-1
    jobs — acceptable on the test/oracle path only, which is the only
    place the default is sanctioned (module docstring)."""
    e = _norms_spark(embs)
    if centroids is None:
        cents = _stride_codebook(e, SEM_STRIDE)
        # Probe emptiness on the norm-gated frame: a corpus whose vectors
        # are ALL zero-norm is correctly "empty" for cosine purposes (the
        # drop list is empty, not an error) — only a non-empty gated
        # corpus that the stride misses deserves the hard failure.
        if cents.isEmpty() and not e.isEmpty():
            raise ValueError(
                "stride-derived centroid set is empty on a non-empty corpus "
                f"(no non-zero-norm vec_id % {SEM_STRIDE} == 0); pass a "
                "fitted `centroids` codebook instead"
            )
    else:
        cents = prepare_centroids(centroids, op="semantic dedup")
    # round 13 (guide §2.4): the top-``probes`` selection is computed
    # per row by similarity._nearest_cells' array form — the former
    # crossJoin + row_number window shuffled n×probes×K scored rows
    # through a hashpartitioning(vec_id) Exchange (corpus×K at 100 TB);
    # now the assignment pass has NO shuffle at all. Same ccos fold,
    # same (ccos desc, cent_id asc) tie-break — bit-exact drop lists
    # (oracle-pinned by q102 and the two-SF differentials).
    return _nearest_cells(e, cents, "vec_id", probes).select("vec_id", "cent_id")


def semantic_dedup(
    embs: DataFrame,
    centroids: DataFrame | None = None,
    threshold: float = SEMDEDUP_COS,
) -> DataFrame:
    """Drop list of cell-bounded semantic dedup: (vec_id, dup_of, cos) for
    every vector condemned by a smaller-id partner sharing one of its
    cells (see module docstring), verified by :func:`_cosine_verified`.
    ``centroids``: fitted fixed-K codebook (production); default is the
    stride-derived oracle form.

    The assignment is materialized once (eager localCheckpoint — the
    match_batch/LSH family precedent): it feeds BOTH sides of the
    shared-cell self-join, and left lazy the broadcast scoring subtree
    plans — and executes — twice."""
    asg = assign_cells(embs, centroids).localCheckpoint(eager=True)
    cand = (
        asg.alias("a")
        .join(asg.alias("b"), F.col("a.cent_id") == F.col("b.cent_id"))
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"))
        .distinct()
    )
    e = _norms_spark(embs)
    pairs = _cosine_verified(
        cand, _side(e, "id1", "e1", "n1"), _side(e, "id2", "e2", "n2"), threshold
    )
    return pairs.groupBy("id2").agg(
        F.min("id1").alias("dup_of"),
        F.min_by("cos", "id1").alias("cos"),
    ).select(F.col("id2").alias("vec_id"), "dup_of", "cos")


def semantic_index(embs: DataFrame, centroids: DataFrame) -> DataFrame:
    """The persistable per-snapshot artifact of the semantic family —
    the q91 ``index_signatures`` lifecycle applied to SemDeDup: one row
    per (vector, probed cell) with the stored embedding and norm
    alongside. Build ONCE per corpus snapshot (one broadcast assignment
    pass — the only time the snapshot ever scores centroids) and write
    to parquet next to the codebook; every later ``semantic_match_batch``
    touches only the batch's own assignment plus equi-joins against this
    frame. Storage: ``SEM_PROBES`` rows × (2 longs + the vector) per
    vector. ``centroids`` is REQUIRED here (the artifact only makes
    sense against a fixed fitted codebook — `pipeline/codebook.py`);
    the stride default stays confined to the q102 oracle form."""
    return _cell_index(
        _norms_spark(embs), prepare_centroids(centroids, op="semantic_index")
    )


def _cell_index(e: DataFrame, cents: DataFrame) -> DataFrame:
    """:func:`semantic_index` of a normed frame under a checked codebook:
    the embedding and norm ride through the assignment pass (``carry``)."""
    return _nearest_cells(
        e, cents, "vec_id", SEM_PROBES, carry=("embedding", "norm")
    ).select("vec_id", "cent_id", "embedding", "norm")


def cap_cells(index: DataFrame, cell_cap: int) -> DataFrame:
    """Bound every cell of a ``semantic_index`` artifact to its
    ``cell_cap`` lowest-vec_id rows — the semantic twin of the MinHash
    tier's hot-band guard (pipeline/dedup.py:cap_banded).

    Why: the match's candidate join is an equi-join on ``cent_id``. With
    a FITTED K ∝ n codebook expected cell population is bounded by
    design (SCALING.md round-6 K-grows-with-corpus series), but the
    adversarial case survives any K: a cluster of identical or
    near-identical embeddings (crawl re-fetches, templated pages) lands
    its whole mass in one cell regardless of how many centroids exist —
    one hot join key, the same skewed-shuffle scale-killer the hot-band
    series measures.

    RECALL ARGUMENT (approximation explicit and opt-in): for an
    EXACT-duplicate embedding cluster the cap is lossless — every member
    has the same cosine to any probe, so a probe that matched a dropped
    member matches every retained one at the identical cosine (only
    matched_id can change, to a lower retained id). For an ε-tight
    cluster (members pairwise within angle ε), spherical triangle
    inequality bounds the loss: a probe within angle θ of a dropped
    member is within θ+ε of every retained one — the capped decision can
    only be lost inside the ε-wide margin just above the threshold, i.e.
    the miss window is at most the cluster's own internal spread, which
    for a cell saturated past cell_cap under SemDeDup-tight thresholds
    (≥0.95) is small by construction.

    What the cap CAN lose (named, and pinned by the guard test): a
    NON-cluster vector co-resident in the saturated cell may be dropped
    from that cell, and a probe whose only shared cell with it was the
    saturated one loses that one pairing — its matches survive only via
    its other probed cells (multi-probe, SEM_PROBES ≥ 2, is exactly the
    mitigation). The admission-relevant invariants hold: capped matches
    are a subset of plain matches, the rejected SET against the
    saturating cluster is unchanged, and the best (highest-cos) match is
    preserved. Decisions on non-adversarial corpora are bit-identical
    (the cap never binds; pinned by
    tests/test_scale_patterns.py::test_cell_cap_identity_on_sf_corpus).

    Deterministic (lowest vec_ids kept) — commutes with redelivery and
    compaction. One window shuffle over the index: a BUILD/COMPACTION-
    time cost (``cell_cap`` in the semantic sinks applies it at every
    sem-root compaction via the compact-transform hook), never per
    batch."""
    return _cap_groups(index, ["cent_id"], "vec_id", cell_cap)


def semantic_match_batch(
    index: DataFrame,
    new_embs: DataFrame,
    centroids: DataFrame,
    threshold: float = SEMDEDUP_COS,
) -> DataFrame:
    """Semantic matches ``(index_id, new_id, cos)`` of a new batch
    against a PRECOMPUTED ``semantic_index`` artifact (read back from
    parquet): every (index vector, batch vector) pair sharing ≥ 1 cell
    under the SAME codebook with cosine ≥ ``threshold`` (the cosine check
    :func:`semantic_dedup` runs). The admission primitive of incremental
    semantic dedup: drop a batch vector iff it has any index match (plus
    :func:`semantic_dedup` on the batch alone for intra-batch copies),
    then append the admitted rows' assignments to the index — O(batch)
    per batch, O(admitted) index growth, exactly the q91/q95 cadence.

    Only the batch side scores centroids here (one broadcast pass over
    the BATCH); the index side contributes stored columns through
    equi-joins — its ``cent_id`` comes off the artifact, never from a
    recompute, so the per-batch plan touches the snapshot corpus only
    through the shared-cell join (cell-population-bounded, the same
    fan-out bound as semantic_dedup)."""
    return _match_cells(
        index,
        _norms_spark(new_embs),
        prepare_centroids(centroids, op="semantic_match_batch"),
        threshold,
    )


def _match_cells(
    index: DataFrame, n: DataFrame, cents: DataFrame, threshold: float
) -> DataFrame:
    """:func:`semantic_match_batch` of a normed batch ``n`` under a
    checked codebook."""
    # the ONLY centroid scoring (see semantic_match_batch), materialized so
    # both the candidate join and the fetch read it without re-planning
    asg_n = (
        _nearest_cells(n, cents, "vec_id", SEM_PROBES)
        .select("vec_id", "cent_id")
        .localCheckpoint(eager=True)
    )
    cand = (
        index.select(F.col("vec_id").alias("index_id"), "cent_id")
        .join(asg_n.select(F.col("vec_id").alias("new_id"), "cent_id"), "cent_id")
        .select("index_id", "new_id")
        .distinct()
    )
    # candidate-bounded embedding fetch (match_batch's shape): only index
    # rows that are actually candidates are deduped across their probed
    # cells and carried into scoring — never an O(index) distinct
    fetched = index.join(
        F.broadcast(cand.select(F.col("index_id").alias("vec_id")).distinct()),
        "vec_id",
        "leftsemi",
    )
    xi = _side(fetched, "index_id", "e1", "n1").dropDuplicates(["index_id"])
    return _cosine_verified(cand, xi, _side(n, "new_id", "e2", "n2"), threshold)


def _cosine_verified(
    cand: DataFrame, x: DataFrame, y: DataFrame, threshold: float
) -> DataFrame:
    """The exact cosine check of the semantic family: the two-column
    candidate frame joined to each side's ``(id, e1, n1)`` /
    ``(id, e2, n2)`` projection, pairs at cosine ≥ ``threshold`` with
    their cos. Shared by semantic_dedup (one corpus on both sides) and
    semantic_match_batch (index × batch)."""
    id1, id2 = cand.columns
    cos = _cos("e1", "e2", "n1", "n2")
    return (
        cand.join(x, id1)
        .join(y, id2)
        .select(id1, id2, cos.alias("cos"))
        .where(F.col("cos") >= F.lit(threshold))
    )


_CENT_COS = f"{_dot_duck('e.embedding', 'cents.cent')} / (e.norm * cents.cent_norm)"

Q102_ORACLE = f"""
    WITH {_E_CTE_DUCK},
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cent, norm AS cent_norm
      FROM e WHERE vec_id % {SEM_STRIDE} = 0
    ),
    asg AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, cents.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_CENT_COS} DESC, cents.cent_id) AS r
        FROM e, cents
      ) WHERE r <= {SEM_PROBES}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
      FROM asg a JOIN asg b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT cand.id1, cand.id2,
             {_dot_duck('x.embedding', 'y.embedding')} / (x.norm * y.norm) AS cos
      FROM cand JOIN e x ON cand.id1 = x.vec_id JOIN e y ON cand.id2 = y.vec_id
    )
    SELECT id2 AS vec_id, min(id1) AS dup_of, arg_min(cos, id1) AS cos
    FROM pairs WHERE cos >= {SEMDEDUP_COS}
    GROUP BY id2
    ORDER BY vec_id
"""


@register(
    "q102_semantic_dedup",
    oracle=Q102_ORACLE,
    tags=("ext", "dedup", "semantic", "embedding"),
)
def q102_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-bounded semantic drop list over embeddings (module docstring),
    in the deterministic stride-centroid oracle form; production callers
    pass a fitted fixed-K ``centroids`` frame to :func:`semantic_dedup`.
    SemDeDup semantics per Abbas et al. 2023 (arXiv:2303.09540) §2."""
    return semantic_dedup(table(spark, "embeddings", sf_dir)).orderBy("vec_id")
