"""Multimodal near-dup tier: perceptual average-hash (aHash) + Hamming
bands (staged library-first in round 11; q109_multimodal_phash_neardup
REGISTERED in round 12 into the retired q29's window slot — registry.py
ROUND-12 EXECUTED).

The one brief surface without a dedup family until now is the multimodal
column family (pipeline/multimodal.py): re-encoded, resized, or
slightly-retouched copies of the same image share no bytes, so the exact
(q24) and lexical (q31/q84/q73) tiers all miss them. The standard cheap
answer is a PERCEPTUAL hash — average-hash here: downscale the image to
a tiny grayscale grid, threshold each cell against the global mean
brightness, pack the bits. Near-dups differ in a few cells ⇒ small
Hamming distance, exactly the SimHash geometry — so the 100 TB candidate
path is q73's byte-band pigeonhole join, reused verbatim.

Pixel stand-in (same policy as the rest of the multimodal family —
pipeline/multimodal.py:media_frame): the payload's code-point stream
plays the decoded grayscale pixel stream (deterministic, library-free;
cross-engine BIT-EXACT because both engines fold the same integers — the
q93 integer-arithmetic playbook). A real deployment feeds
decode_image()'s pixel rows through the IDENTICAL grid arithmetic below;
only the `vals` projection changes.

The grid: ``PHASH_CELLS`` contiguous cells over the L pixels, cell j
covering positions [j·L/PHASH_CELLS, (j+1)·L/PHASH_CELLS) (integer
division — the classic downscale-by-area). Bit j is set iff cell j's
MEAN pixel exceeds the global mean, decided entirely in integer
cross-multiplication: ``sum_j · L > total · n_j`` — no floats anywhere,
so Spark and DuckDB agree bit-for-bit (the q64/q93 rule: divisions are
the only cross-engine hazard; multiply instead).

NULL/EMPTY POLICY (both engines, stated not accidental): NULL text is
dropped (the media family's no-bytes-no-media rule) and ZERO-LENGTH
payloads are dropped too — a zero-pixel image has no hash; without this
rule every blank doc would share phash 0 and pair with every other blank
(the q32 no-token-docs policy, applied here as length(text) > 0).

Scale shape (SCALING.md round 11):
- hashing is the multimodal family's Arrow batch path (one vectorized
  numpy cumsum pass per doc, ~ms/MB, int64-exact) — see _phash_cols
  for the measured story of why BOTH pure-JVM expression forms are
  wrong here (projection collapse × interpreted HOFs; O(L) length()
  inlined per exploded row). Exactness bound: s·L and T·n stay inside
  int64 for docs up to ~16M chars even at the max code point — far
  past any real document; the family's giant-doc sweep axis is 1M;
- candidates come ONLY from the (band, bsig) equi-join of q73's
  byte-band body, pipeline/dedup.py:_hamming_band_join — 4 byte-bands ×
  9 keys/doc on the build side, 4 on the probe side; pigeonhole-complete
  for hamming ≤ PHASH_HAMMING_MAX (≤ 7: 4 bands × ≥2 flips each would
  already be 8);
- the incremental lifecycle is q91's: build the (doc_id, phash) index
  once, persist, match each batch O(batch) through the band join; the
  hot-band guard is literally pipeline/dedup.py:cap_banded (the band
  frame uses its (band, bsig) column contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.pipeline.dedup import _hamming_band_join, _hamming_pairs
from mapreduce_framework_spark.registry import register

PHASH_CELLS = 32  # grid cells = hash bits; 32 reuses q73's 4-byte-band split
PHASH_BANDS = 4  # byte bands over the 32-bit hash (q73's layout)
PHASH_HAMMING_MAX = 4  # near-dup threshold; < 8 keeps the pigeonhole complete

# at 32 bits and threshold 4, P(random pair ≤ 4) ≈ 41449/2^32 ≈ 1e-5 per
# pair — which is BIRTHDAY MASS, not noise: a probe doc against an N-doc
# index expects ~1e-5·N accidental matches, so the 32-bit width saturates
# around N ≈ 1e5 (measured: the round-12 six-tier soak's ~24k-doc index
# accidentally matched ~24% of fresh probes — SCALING.md round-12). The
# production lever at scale is the 64-cell grid (~4e-14/pair): the SAME
# arithmetic with cells=64 / bands=8 — selectable PER CALL/PER SINK since
# round 13 via the cells/bands params (phash_params; sinks take
# phash_cells/phash_bands) — cell 63 packs into the int64 sign bit, which
# xor/bit_count/Hamming handle unchanged — proven bit-exact against a
# two's-complement model by
# tests/test_multimodal_dedup_props.py::test_phash_64_cell_grid_generalizes
# and width-parity-tested via the explicit params in
# tests/test_multimodal_dedup_props.py::test_phash_width_parameterization.
# 32 stays the registered q109 width (cross-engine-proven, right-sized for
# the gate corpora); threshold 6 (q73's) would admit ~30x more accidental
# pairs at either width


def phash_params(
    cells: int | None = None, bands: int | None = None
) -> tuple[int, int]:
    """Resolve an explicit (cells, bands) override to the module defaults
    and validate the byte-band invariant — the round-13 deployment lever
    for the SCALING.md birthday-mass guidance: a 100 TB index selects the
    64-cell grid per index root (``phash_cells=64`` on the sink or the
    library calls) without editing module constants. Giving only one of
    the pair derives the other (bands = cells / 8 — bands are always
    byte-wide so the 8-flip enumeration and the ``& 255`` band
    extraction of pipeline/dedup.py:_hamming_band_join stay exact).
    Bounds: cells must be a multiple of 8 (byte bands) and ≤ 64 (the hash
    packs one int64; cell 63 lands in the sign bit, proven exact by
    tests/test_multimodal_dedup_props.py::test_phash_64_cell_grid_generalizes)."""
    if cells is None and bands is not None:
        cells = 8 * bands
    if bands is None and cells is not None:
        if cells % 8:
            raise ValueError(f"phash cells must be a multiple of 8, got {cells}")
        bands = cells // 8
    if cells is None:
        cells, bands = PHASH_CELLS, PHASH_BANDS
    if cells != 8 * bands:
        raise ValueError(
            f"phash bands are byte-wide: cells ({cells}) must equal "
            f"8 x bands ({bands})"
        )
    if not 8 <= cells <= 64:
        raise ValueError(
            f"phash cells must be in [8, 64] (one int64 hash), got {cells}"
        )
    return cells, bands


def _ahash_fn(g: int):
    """The ``g``-cell aHash (module docstring's grid) of one non-empty
    int64 pixel array: a closure both Arrow batch paths carry to the
    executors by value."""
    import numpy as np

    bit_vals = np.int64(1) << np.arange(g, dtype=np.int64)

    def ahash(a) -> int:
        length = np.int64(a.shape[0])
        total = a.sum()
        bounds = (np.arange(g + 1, dtype=np.int64) * length) // g
        csum = np.concatenate([[np.int64(0)], np.cumsum(a)])
        s = csum[bounds[1:]] - csum[bounds[:-1]]
        n = bounds[1:] - bounds[:-1]
        bits = (n > 0) & (s * length > total * n)
        return int((bit_vals[bits]).sum())

    return ahash


def _phash_cols(
    docs: DataFrame, text_col: str = "text", cells: int | None = None
) -> DataFrame:
    """(doc_id, phash) for every non-NULL, non-empty document.

    SHAPE (the round-11 lesson, measured on the sweep's 1 MB giant
    docs): this is the multimodal family's ARROW BATCH path
    (pipeline/multimodal.py — decode/featurize/resize all run
    vectorized mapInPandas), not a JVM expression. Two JVM forms were
    built and measured first:

    * a slice/HOF projection — Catalyst's projection collapse inlines
      the whole cell computation into every downstream reference (band
      frames reference phash per band/variant row) and interpreted
      HOFs get no common-subexpression reuse: ~64 re-folds per
      reference, the giant-variant match hung for minutes;
    * a posexplode + two-level aggregation — the per-char pass is
      codegen'd, but ``length(text)`` (O(L): UTF8String.numChars walks
      the bytes) is inlined into the post-explode consumer and re-paid
      per CHARACTER row: 1 MB docs went quadratic (jstack showed the
      agg loop pinned in getNumChars). Any expression form needs the
      pixel array or its length referenced at least twice, and each
      extra reference re-materializes it.

    The numpy form is one cumsum pass per doc (~ms/MB, int64 exact —
    identical arithmetic to the DuckDB oracle and the pytest model),
    transferred once as an Arrow batch; the candidate join stays
    JVM-side. The batch fn is a CLOSURE (cloudpickle ships it by
    value), so executors need no package install.
    """
    import pandas as pd

    ahash = _ahash_fn(phash_params(cells)[0])

    def batches(it):
        import numpy as np

        def one(text: str) -> int:
            return ahash(
                np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": [one(t) for t in pdf["text"]],
                }
            )

    return docs.where(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(F.col("doc_id"), F.col(text_col).alias("text")).mapInPandas(
        batches, schema="doc_id bigint, phash bigint"
    )


def phash_fingerprint(
    cells: int | None = None, bands: int | None = None
) -> str:
    """The phash CONFIG identity stamped into streaming phash-index
    manifests (the codebook-fingerprint playbook, streaming/ingest.py):
    hashes are only comparable under ONE (cells, bands, threshold)
    configuration — a 32-cell index probed by a 64-cell sink silently
    matches nothing — so the sinks stamp this at publish and hard-fail a
    mismatch before any decision commits. Defaults read the module
    constants at call time; a per-root width override (``phash_cells``
    on the sinks — the SCALING.md round-12 birthday-mass guidance) gets
    a DIFFERENT identity for free."""
    c, b = phash_params(cells, bands)
    return f"ahash-{c}c-{b}b-h{PHASH_HAMMING_MAX}"


def phash_of(docs: DataFrame, cells: int | None = None) -> DataFrame:
    """Library form: perceptual average-hash of any (doc_id, text)
    frame (default 32-bit; ``cells`` selects the grid per phash_params),
    ordered for the differential."""
    return _phash_cols(docs, cells=cells).orderBy("doc_id")


def phash_of_images(
    frames: DataFrame, payload_col: str = "payload", cells: int | None = None
) -> DataFrame:
    """REAL-PIXEL path (round 13, closing the module-header claim): the
    perceptual average-hash of a (doc_id, <payload binary>) frame whose
    payloads are actual encoded images — BMP/PNG/GIF decode pure-stdlib
    in this container via pipeline/multimodal.py:decode_image (exact
    rasters, tests/test_pipeline.py::test_decode_image_*), other formats
    through the documented Pillow seam.

    Only the ``vals`` projection changes vs the text path, exactly as
    the header promises: here a pixel's value is the SUM of its decoded
    8-bit channels (mode-width rows — L/LA/RGB/RGBA — so grayscale is
    the identity and RGB collapses to an integer luma proxy in 0..765;
    deterministic, no float weights), where the text path uses code
    points. Everything downstream — cell bounds, cumsum fold, integer
    cross-multiply threshold, bit packing — is the IDENTICAL arithmetic,
    pinned bit-for-bit by tests/test_multimodal_dedup_props.py::
    test_phash_real_pixels_match_text_path_arithmetic, which hashes
    decoded BMP rasters through this path and the same channel-sums
    through phash_of as synthetic code points and asserts equality.

    NULL/empty payloads and zero-pixel images are dropped (the family's
    no-bytes-no-media policy); an undecodable payload raises (corrupt
    media is an upstream quality problem, not a silent skip). Output:
    (doc_id, phash) — band/match/index composition is width-compatible
    with the text path, so phash_index/phash_match_batch apply verbatim
    at the same ``cells``."""
    import pandas as pd

    ahash = _ahash_fn(phash_params(cells)[0])

    def batches(it):
        import numpy as np

        from mapreduce_framework_spark.pipeline.multimodal import decode_image

        def one(payload) -> int | None:
            if payload is None or len(payload) == 0:
                return None
            d = decode_image(bytes(payload))
            px = np.frombuffer(d["pixels"], dtype=np.uint8).astype(np.int64)
            ch = len(d["mode"])  # 8-bit samples, mode-width pixels
            a = px.reshape(-1, ch).sum(axis=1)
            return ahash(a) if a.shape[0] else None

        for pdf in it:
            hashes = [one(p) for p in pdf[payload_col]]
            keep = [h is not None for h in hashes]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"][keep],
                    "phash": [h for h in hashes if h is not None],
                }
            )

    return frames.where(F.col(payload_col).isNotNull()).select(
        "doc_id", payload_col
    ).mapInPandas(batches, schema="doc_id bigint, phash bigint").orderBy("doc_id")


def phash_banded_pairs(
    docs: DataFrame, cells: int | None = None, bands: int | None = None
) -> DataFrame:
    """Library form of q109: perceptual near-dup pairs (id1 < id2,
    hamming ≤ PHASH_HAMMING_MAX) of any (doc_id, text) frame via the
    byte-band candidate join + exact Hamming verify it shares with q73
    (pipeline/dedup.py:_hamming_band_join). ``cells``/``bands`` select the
    grid width per phash_params (default the module constants — q109's
    registered 32)."""
    cells, bands = phash_params(cells, bands)
    return _hamming_pairs(_phash_cols(docs, cells=cells), "phash", bands, PHASH_HAMMING_MAX)


# --- incremental lifecycle (the q91 shape: build once, match O(batch)) ------


def phash_index(index_docs: DataFrame, cells: int | None = None) -> DataFrame:
    """The persistable index artifact: (doc_id, phash). Tiny — 16 bytes a
    doc — so snapshots of any size stay a broadcast-scale side table
    until ~1e8 docs; past that the band join below shuffles both sides
    on (band, bsig) like every other tier. ``cells`` selects the grid
    width per phash_params; a root's width is stamped into its manifest
    (streaming/ingest.py) so index and probe can never silently
    disagree."""
    return _phash_cols(index_docs, cells=cells)


def phash_match_batch(
    index_hashes: DataFrame,
    batch_docs: DataFrame,
    band_cap: int | None = None,
    cells: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """(doc_id, matched_id, hamming) for every batch doc within
    PHASH_HAMMING_MAX of an index doc — matched_id is the LOWEST
    matching index doc_id among the CANDIDATES (deterministic canonical
    pick, the family rule; with band_cap=None candidates are
    pigeonhole-complete, so this is the global lowest-id match).
    O(batch): the family's byte-band body (pipeline/dedup.py:
    _hamming_band_join) joins the batch's 4 exact band keys against the
    index's 9-variant band frame.
    ``band_cap`` bounds adversarial hot bands via
    pipeline/dedup.py:cap_banded, whose documented semantics apply
    verbatim: every reported match is REAL (a genuine index doc within
    the threshold — capping never invents a pair), but under adversarial
    saturation (≥ band_cap lower-id docs sharing every band byte the
    true best match occupies) matched_id can shift to a retained
    higher-id member — so the capped output is not row-level ⊆ of the
    uncapped one, only match-validity-preserving. Non-adversarial
    corpora are unaffected (the cap never binds). Pinned in both
    directions by tests/test_multimodal_dedup_props.py::
    test_phash_match_batch_cap_shifts_matched_id_under_saturation.
    ``cells``/``bands`` select the grid width per phash_params and MUST
    match the width ``index_hashes`` was built at — the streaming sinks
    enforce that pairing through the manifest's phash_config stamp."""
    cells, bands = phash_params(cells, bands)
    # materialize the batch hashes once before banding (the match_batch
    # family rule, pipeline/dedup.py): without this the Arrow hash pass
    # would sit under the join and re-run per plan reference
    probe = _phash_cols(batch_docs, cells=cells).localCheckpoint(eager=True)
    joined, hamming = _hamming_band_join(
        index_hashes, probe, "phash", bands, PHASH_HAMMING_MAX, band_cap
    )
    return joined.groupBy(F.col("b.doc_id").alias("doc_id")).agg(
        F.min(F.col("a.doc_id")).alias("matched_id"),
        F.min_by(hamming, F.col("a.doc_id")).alias("hamming"),
    )


# --- q109: the registered query + its DuckDB oracle (registered r12) ---------

def phash_duck(src: str, p: str = "", cells: int | None = None) -> str:
    """The DuckDB phash CTE chain over any (doc_id, text) source CTE/
    table ``src``, names prefixed with ``p`` (so multiple instances
    compose in one oracle — the quality_reject_duck pattern): emits
    ``{p}v, {p}c, {p}ph`` with ``{p}ph`` = (doc_id, phash). Exactly the
    integer arithmetic of _phash_cols (cross-engine bit-exact).
    ``cells`` selects the grid width per phash_params (round 13): at 64
    cell 63 is the int64 sign bit, which DuckDB's ``<<`` refuses
    (overflow error, unlike Spark's wrapping shiftleft), so its bit
    value is inlined as the literal -2^63 — the two's-complement value
    the numpy path's wrapping shift produces — and the list_sum runs
    HUGEINT-wide before the final exact BIGINT cast. xor/bit_count and
    the ``>> 8b & 255`` band extraction are sign-agnostic in both
    engines (probed: bit_count(-2^63+1)=2, (-2^63)>>56&255=128)."""
    g, _ = phash_params(cells)
    bitval = (
        "CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT) "
        "ELSE (CAST(1 AS BIGINT) << j) END"
        if g == 64
        else "(CAST(1 AS BIGINT) << j)"
    )
    return f"""
    {p}v AS (
      SELECT doc_id,
             list_transform(range(1, length(text) + 1),
                            i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS vals,
             CAST(length(text) AS BIGINT) AS L
      FROM {src} WHERE text IS NOT NULL AND length(text) > 0
    ),
    {p}c AS (
      SELECT doc_id, L, list_sum(vals) AS T,
             list_transform(range(0, {g}),
                            j -> ((j + 1) * L) // {g} - (j * L) // {g}) AS ns,
             list_transform(range(0, {g}),
                            j -> coalesce(list_sum(list_slice(vals,
                                 (j * L) // {g} + 1,
                                 ((j + 1) * L) // {g})), 0)) AS ss
      FROM {p}v
    ),
    {p}ph AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, {g}), j ->
               CASE WHEN ns[j + 1] > 0 AND ss[j + 1] * L > T * ns[j + 1]
                    THEN {bitval} ELSE CAST(0 AS BIGINT) END))
                  AS BIGINT) AS phash
      FROM {p}c
    )
"""


_PHASH_DUCK_CTES = phash_duck("documents")

# the hash itself, for the phash_of differential
_PHASH_ORACLE = f"WITH {_PHASH_DUCK_CTES} SELECT doc_id, phash FROM ph ORDER BY doc_id"

# the pairs: the oracle may go all-pairs (DuckDB-side only; the Spark side
# must NOT — the banded join is the point), same split as q73's oracle
_Q109_ORACLE = f"""
    WITH {_PHASH_DUCK_CTES}
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
    ORDER BY id1, id2
"""


@register(
    "q109_multimodal_phash_neardup",
    oracle=_Q109_ORACLE,
    tags=("ext", "dedup", "multimodal", "phash"),
)
def q109_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual (average-hash) near-dup pairs over the multimodal
    payload stand-in — the dedup tier for re-encoded/resized media
    copies that share no bytes. 32-cell integer-exact aHash, q73's
    byte-band body (candidate join + exact Hamming verify); oracle is
    the all-pairs exact form (DuckDB side only; the Spark side must stay
    banded — that asymmetry is the point)."""
    return phash_banded_pairs(table(spark, "documents", sf_dir))
