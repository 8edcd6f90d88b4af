"""Fitting the fixed-K codebook that semantic dedup and IVF ANN consume.

Both cell-bounded families take a ``(cent_id, cent[, cent_norm])``
codebook as their production seam (`semantic_dedup.assign_cells`,
`similarity.ann_ivf` / `ivf_index`), with the stride-derived stand-in
sanctioned for tests/oracles only — but until this module the repo never
provided a way to FIT one. This closes that loop with spherical k-means
(Lloyd's iterations under cosine distance — the variant SemDeDup and IVF
both assume, since every consumer scores cells by cosine), expressed
entirely as DataFrame operations:

- **init**: the K rows with the smallest ``(xxhash64(vec_id), vec_id)``
  — a deterministic, data-order-independent spread (same family as the
  FNV hash sampling in pipeline/sampling.py). ``TakeOrderedAndProject``
  over a by-contract small K.
- **assign**: one broadcast pass per iteration (the same sanctioned
  broadcast scoring as `ann_ivf` assignment, O(K·dim)), reduced to the
  nearest cell by a partial-aggregatable ``min_by(struct(cent_id,
  embedding), struct(-ccos, cent_id))`` — one shuffle, no per-vector
  window sort, no join-back to recover the member vector, and the exact
  `_nearest_cells` tie-break (ties → smaller cent_id).
- **update**: per-dimension ``avg`` under ``groupBy(cent_id)`` — a
  partial aggregation (map-side combine collapses each cell to one
  partial per input partition; K·dim values cross the wire). Cosine is
  scale-invariant, so the member mean needs no re-normalization to act
  as a spherical centroid.
- **empty / degenerate cells** keep their previous centroid (standard
  Lloyd's carry-over; also covers the measure-zero case of members
  averaging to the zero vector, which cosine cannot score).
- each iteration ends in an eager ``localCheckpoint`` to cut the
  iterative lineage — the same idiom as label propagation in
  operators/graph.py.

Determinism: init and every assignment are exactly deterministic; the
per-dimension means are deterministic up to floating-point reduction
order across partitions (the usual distributed-sum caveat). The intended
lifecycle therefore mirrors q91's `index_signatures` and `ivf_index`:
**fit once per corpus snapshot, persist the codebook to parquet, and run
every downstream assignment/dedup/probe against the artifact** — given
the artifact, semantic_dedup and ann_ivf are bit-exactly reproducible
(doubles round-trip parquet losslessly; pinned by the round-trip test).

Scale shape (100 TB): the fit touches the corpus ``iters`` times with a
broadcast join + partial agg — no corpus-side shuffle wider than K·dim
partials — and the standard practice the module supports via
``sample_fraction`` is fitting on a bounded deterministic hash-sample
(decisions depend only on vec_id, so the sample is stable under corpus
growth — the q78 property), then assigning the FULL corpus once against
the fitted artifact. K∝n guidance: SCALING.md's round-6 semantic series
measures why K must grow with the corpus; this fitter takes K as an
explicit knob.

Reference parity note: the reference (MIT 6.824 labs) has no clustering
surface; this is [EXT] LLM-pipeline depth per the build brief
(SemDeDup, Abbas et al. 2023, arXiv:2303.09540 §2; IVF, Johnson et al.
2017, arXiv:1702.08734 §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.pipeline.similarity import (
    _cos,
    _nearest_cells,
    _norms_spark,
    prepare_centroids,
)

FIT_ITERS = 8  # Lloyd's iterations; SemDeDup-scale fits converge fast


def _fit_corpus(
    embs: DataFrame, sample_fraction: float | None, salt: str, op: str
) -> tuple[DataFrame, int]:
    """The shared prologue of fit_codebook / refit_codebook: the normed
    ``(vec_id, embedding, norm)`` fit corpus — the deterministic hash
    sample ``xxhash64(salt, vec_id) mod 1e6 < fraction·1e6`` when
    ``sample_fraction`` is set — checkpointed (the fit re-scans it
    ``iters`` times), and its dimensionality from one row (bounded scalar
    probe — the array width is corpus-constant but not carried in the
    schema). Raises on an empty fit corpus: fitting a codebook on nothing
    is a caller bug, mirroring prepare_centroids' empty-codebook raise."""
    e = _norms_spark(embs).select("vec_id", "embedding", "norm")
    if sample_fraction is not None:
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError(
                f"{op}: sample_fraction must be in (0, 1], got {sample_fraction}"
            )
        e = e.where(
            F.pmod(F.xxhash64(F.lit(salt), F.col("vec_id")), F.lit(1_000_000))
            < int(sample_fraction * 1_000_000)
        )
        # name the sample in the error so an empty SAMPLE of a non-empty
        # corpus isn't misdiagnosed as an empty corpus
        op = f"{op} (after sample_fraction={sample_fraction} hash sample)"
    row = e.select(F.size("embedding").alias("d")).take(1)
    if not row:
        raise ValueError(
            f"{op}: cannot fit a codebook on an empty corpus "
            "(no non-zero-norm embeddings)"
        )
    return e.localCheckpoint(eager=True), row[0]["d"]


def fit_codebook(
    embs: DataFrame,
    k: int,
    iters: int = FIT_ITERS,
    sample_fraction: float | None = None,
    salt: str = "cbk1",
) -> DataFrame:
    """Spherical k-means codebook ``(cent_id, cent, cent_norm)`` with
    ``cent_id`` densely 0..K'-1, K' = min(k, fit-corpus size) (k above
    the corpus size degrades gracefully to one centroid per vector).

    ``sample_fraction``: fit on the deterministic hash-sample
    ``xxhash64(salt, vec_id) mod 1e6 < fraction·1e6`` instead of the full
    corpus — the bounded-fit-sample practice for 100 TB corpora (see
    module docstring). Assignment of the full corpus happens downstream
    in the consumers, never here."""
    if k < 1:
        raise ValueError(f"fit_codebook: k must be >= 1, got {k}")
    e, dim = _fit_corpus(embs, sample_fraction, salt, "fit_codebook")

    # deterministic data-order-independent init: K smallest by hash
    seeds = (
        e.withColumn("h", F.xxhash64(F.lit(salt), F.col("vec_id")))
        .orderBy("h", "vec_id")
        .limit(k)
    )
    cents = seeds.select(
        (F.row_number().over(Window.orderBy("h", "vec_id")) - 1)
        .cast("bigint")
        .alias("cent_id"),
        F.col("embedding").alias("cent"),
        F.col("norm").alias("cent_norm"),
    ).localCheckpoint(eager=True)
    return _lloyd_iterations(e, cents, dim, iters)


def _lloyd_iterations(e: DataFrame, cents: DataFrame, dim: int, iters: int) -> DataFrame:
    """The shared Lloyd loop of fit_codebook / refit_codebook: ``iters``
    rounds of (broadcast nearest-1 assignment, per-cell mean, empty-cell
    carry-over), 2 shuffles per iteration, per-iteration localCheckpoint
    to cut lineage. ``e`` must be norm-gated and checkpointed; ``cents``
    is the (cent_id, cent, cent_norm) init."""
    for _ in range(iters):
        # nearest-1 assignment WITHOUT the consumer-facing window shape
        # (_nearest_cells' pre-r13 window form would shuffle n×K scored
        # rows, then need a join back to recover the embedding): a
        # partial-aggregatable min_by over struct(-ccos, cent_id) picks
        # the same cell with the same tie-break in ONE shuffle of n
        # partially-reduced rows, carrying the member vector as payload.
        # Round 13 note (guide §1.2 — measure before keeping a rewrite):
        # the per-row array-argmin form that r13 adopted for
        # similarity._nearest_cells was tried here too and MEASURED
        # SLOWER (alternating in-process A/B at sf0.1, k=64, iters=4,
        # dim-sized fit sample: min_by 8.3/8.8/9.4 s vs array form
        # 10.8/10.9/11.5 s): this loop's shuffle was already reduced to n
        # partially-aggregated best-rows (nothing like the consumers'
        # window exchange), so the rewrite only traded a tiny shuffle for
        # strictly more interpreted per-row HOF work (a transform over K
        # cells × aggregate(zip_with) per cell vs one codegen-framed dot
        # per crossJoined row + codegen'd partial min_by). Kept min_by.
        # Exact same argmin either way: negation is FP-exact and struct
        # ordering is field-lexicographic.
        scored = e.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "embedding",
            "cent_id",
            _cos("embedding", "cent", "norm", "cent_norm").alias("ccos"),
        )
        asg = scored.groupBy("vec_id").agg(
            F.min_by(
                F.struct("cent_id", "embedding"),
                F.struct((-F.col("ccos")).alias("nc"), F.col("cent_id")),
            ).alias("best")
        ).select(F.col("best.cent_id").alias("cent_id"), F.col("best.embedding").alias("embedding"))
        means = asg.groupBy("cent_id").agg(
            F.array(*[F.avg(F.col("embedding")[i]) for i in range(dim)]).alias(
                "mean"
            )
        )
        merged = cents.join(means, "cent_id", "left").select(
            "cent_id",
            F.coalesce("mean", "cent").alias("cent"),
            F.col("cent").alias("prev"),
            F.col("cent_norm").alias("prev_norm"),
        )
        cents = (
            merged.withColumn(
                "norm",
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            "cent", "cent", lambda x, y: x.cast("double") * y
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
            )
            .select(
                "cent_id",
                F.when(F.col("norm") > 0.0, F.col("cent"))
                .otherwise(F.col("prev"))
                .alias("cent"),
                F.when(F.col("norm") > 0.0, F.col("norm"))
                .otherwise(F.col("prev_norm"))
                .alias("cent_norm"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def refit_codebook(
    embs: DataFrame,
    old_centroids: DataFrame,
    iters: int = FIT_ITERS,
    sample_fraction: float | None = None,
    salt: str = "cbk1",
) -> DataFrame:
    """Refresh a fitted codebook on a DRIFTED corpus: the same Lloyd loop
    as :func:`fit_codebook`, warm-started from ``old_centroids`` instead
    of hash seeds. K and ``cent_id`` continuity are preserved — cell i of
    the refreshed book is the drift-adjusted successor of old cell i, so
    downstream artifacts (semantic_index cells, IVF postings) can measure
    assignment churn across the refresh; a cell that captures no vectors
    of the new corpus keeps its old position (the fitter's empty-cell
    rule). The refresh lifecycle is: ``refit_codebook`` → rebuild the
    index artifact against the new book (``semantic_index`` /
    ``ivf_index``) → swap both atomically (decisions are only meaningful
    against ONE codebook — streaming/ingest.py docstring). Drift series
    (quantization error + match-decision churn before/after refresh):
    SCALING.md round-7 section, `tools/scaling_probe.py --refit`.

    ``sample_fraction``: same bounded-fit-sample seam as fit_codebook
    (refit on a hash sample of the new corpus; assignment downstream)."""
    e, dim = _fit_corpus(embs, sample_fraction, salt, "refit_codebook")
    cents = prepare_centroids(old_centroids, op="refit_codebook").localCheckpoint(
        eager=True
    )
    (c0,) = cents.select(F.size("cent").alias("d")).take(1)
    if c0["d"] != dim:
        raise ValueError(
            f"refit_codebook: old codebook dimensionality {c0['d']} does not "
            f"match the new corpus ({dim})"
        )
    return _lloyd_iterations(e, cents, dim, iters)


def codebook_fingerprint(centroids: DataFrame) -> str:
    """Deterministic identity of a fitted codebook: md5 over the sorted
    ``(cent_id, cent)`` rows with full float ``repr``. Cell assignments
    are only comparable under ONE codebook, so every artifact derived
    from assignments (the streaming semantic index,
    ``streaming/ingest.py``) records this fingerprint in its manifest
    and every sink checks its own centroids against it — a refreshed
    codebook paired with a stale index (or vice versa) is a silent
    wrong-matches bug at 100 TB, and the check turns it into a hard
    error at the next batch. Driver-side collect of a by-contract tiny
    table (K rows, the same bound prepare_centroids already assumes)."""
    import hashlib

    rows = sorted(
        (int(r["cent_id"]), tuple(float(x) for x in r["cent"]))
        for r in centroids.select("cent_id", "cent").collect()
    )
    blob = ";".join(
        f"{cid}:{','.join(repr(x) for x in vec)}" for cid, vec in rows
    )
    return hashlib.md5(blob.encode("utf-8")).hexdigest()


def quantization_error(embs: DataFrame, centroids: DataFrame) -> float | None:
    """Mean cosine distance (1 − cos) of each vector to its nearest cell —
    the quantity Lloyd's iterations monotonically non-increase (up to FP
    reduction order) — or None when ``embs`` holds no scorable
    (non-zero-norm) vector. Diagnostic helper: ends in one bounded scalar
    aggregate, so it belongs in fit-quality checks, probes and the
    semantic index's drift log, never in a registered query plan."""
    return _quantization_error(
        _norms_spark(embs), prepare_centroids(centroids, op="quantization_error")
    )


def _quantization_error(e: DataFrame, cents: DataFrame) -> float | None:
    """:func:`quantization_error` of a normed frame under a checked
    codebook."""
    best = _nearest_cells(e, cents, id_col="vec_id", k=1)
    (row,) = best.agg(F.avg(F.lit(1.0) - F.col("ccos")).alias("err")).collect()
    return None if row["err"] is None else float(row["err"])
