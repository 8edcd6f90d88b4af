"""Similarity search over the `embeddings` table (SURVEY §7 M5).

- q34: brute-force cosine top-k (the exact baseline; oracle-checked)
- q35: random-hyperplane LSH-bucketed ANN (the scale path; recall measured
       against q34 in tests, and the deterministic pipeline itself is
       oracle-checked bit-exactly — FNV-derived planes, fold-order dots)
- q36: embedding-cosine near-duplicate pairs (oracle-checked)
- q56: IVF ANN (deterministic stride centroids; oracle-checked likewise)

Numeric determinism: cosine is computed with explicitly ordered
float→double folds (``aggregate``/``list_reduce`` are both left-to-right
with a 0.0 seed), so Spark and DuckDB produce bit-identical doubles and the
driver's value-hash matches without tolerance.

Scale notes (100 TB): brute force is O(Q × N); the LSH variant bounds
work to per-bucket candidates — both avoid any Python UDF. For real
corpora swap the hyperplane count/tables per recall target; an IVF variant
would replace the hash join with a centroid assignment join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_framework_spark.catalog import table
from mapreduce_framework_spark.functions.hashing import fnv1a32_py
from mapreduce_framework_spark.registry import register

TOP_K = 5
N_QUERIES = 5  # vec_id < 5 are the query vectors
NEARDUP_COS = 0.45
DIM = 64
LSH_TABLES = 8
LSH_PLANES = 4  # per table -> 16 buckets/table

_DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def _norms_spark(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Attach the L2 norm and EXCLUDE zero-norm vectors. Cosine is
    undefined for the zero vector: 0.0/0.0 is NaN, and NaN sorts FIRST in
    a descending Spark ordering, so one zero embedding in a 100 TB corpus
    (a failed encoder emits exactly that) would surface as the NaN-scored
    "nearest neighbor" of every query — and as a centroid it would
    NaN-capture every assignment. Every caller is a cosine consumer
    (ANN brute/LSH/IVF, embedding near-dup, semantic dedup), so the
    exclusion lives here once. The sf corpus contains no zero vectors, so
    the DuckDB oracle twins are unaffected; the boundary is pinned by
    tests/test_pipeline.py::test_zero_norm_vectors_are_excluded."""
    return df.withColumn(
        "norm", F.sqrt(F.expr(_DOT_SPARK.format(a=vec, b=vec)))
    ).where(F.col("norm") > 0.0)


_NORM_DUCK = f"sqrt({_dot_duck('embedding', 'embedding')})"

# the oracle twin of _norms_spark's row gate: NULL embeddings propagate a
# NULL norm and zero vectors a 0.0 norm, and `norm > 0` excludes both —
# identically on both engines. Every cosine oracle builds its `e` CTE
# from this so the exclusion policy cannot drift between engines (the
# dirty-data differential in tools/robustness_sweep.py relies on it).
_E_CTE_DUCK = (
    f"e AS (SELECT * FROM (SELECT vec_id, embedding, {_NORM_DUCK} AS norm"
    " FROM embeddings) WHERE norm > 0)"
)

_PAIR_COS_DUCK = f"""
    {_E_CTE_DUCK},
    pairs AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             {_dot_duck('q.embedding', 'c.embedding')} / (q.norm * c.norm) AS cos
      FROM e q, e c
      WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
    )
"""


# RETIRED from the registry in round 8 (registry.py policy item 4; its
# slot funded q105_training_corpus_decontaminated). Builder + oracle stay
# permanently: the dedicated differential is
# tests/test_queries_oracle.py::test_retired_q34_matches_oracle, it remains
# the exact recall baseline for q35/q56, and bench.py still times it
# directly (r1-subset like-for-like series).
_ANN_BRUTEFORCE_ORACLE = f"""
    WITH {_PAIR_COS_DUCK}
    SELECT qid, cid, cos, rank FROM (
      SELECT qid, cid, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
      FROM pairs
    ) WHERE rank <= {TOP_K}
    ORDER BY qid, rank
    """


def q34_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the query vectors against the corpus —
    one scan of the corpus, no shuffle except the per-query top-k."""
    return ann_bruteforce(table(spark, "embeddings", sf_dir))


def ann_bruteforce(
    embs: DataFrame, n_queries: int = N_QUERIES, top_k: int = TOP_K
) -> DataFrame:
    """Library form of q34 over any (vec_id, embedding) frame — the exact
    baseline the approximate paths (q35 LSH, q56 IVF) are recall-measured
    against (tests/test_pipeline.py, tools/scaling_probe.py --ann)."""
    e = _norms_spark(embs)
    q = _side(e.where(F.col("vec_id") < n_queries), *_QUERY)
    pairs = F.broadcast(q).crossJoin(_side(e, *_CORPUS))
    return _cosine_top_k(pairs.where(F.col("qid") != F.col("cid")), top_k)


def _cos(a: str, b: str, na: str, nb: str) -> Column:
    """Fold-order cosine of the array columns ``a`` and ``b`` whose norms
    are ``na`` and ``nb`` (module note: bit-identical to the oracles)."""
    return F.expr(_DOT_SPARK.format(a=a, b=b)) / (F.col(na) * F.col(nb))


# (id, embedding, norm) column names of the query and corpus sides of the
# ANN re-rank; the corpus side's are also the IVF posting table's columns
_QUERY = ("qid", "qe", "qnorm")
_CORPUS = ("cid", "ce", "cnorm")


def _side(vecs: DataFrame, id_col: str, emb: str, norm: str) -> DataFrame:
    """``(id_col, emb, norm)`` of a normed ``(vec_id, embedding, norm)``
    frame: one side of an exact cosine check (the ANN re-rank here, the
    semantic family's ``_cosine_verified``)."""
    return vecs.select(
        F.col("vec_id").alias(id_col),
        F.col("embedding").alias(emb),
        F.col("norm").alias(norm),
    )


def _cosine_top_k(pairs: DataFrame, top_k: int) -> DataFrame:
    """The exact re-rank of every ANN path (q34, q35, the IVF probe):
    ``(qid, cid, cos, rank)``, each query's ``top_k`` corpus vectors by
    cosine (ties → smaller cid), over ``(qid, cid)`` pairs that carry the
    ``_QUERY`` and ``_CORPUS`` side columns."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        pairs.select("qid", "cid", _cos("qe", "ce", "qnorm", "cnorm").alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .orderBy("qid", "rank")
    )


def _hyperplanes() -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes from FNV seeds:
    tables × planes × dims, values in [-1000, 1000]."""
    return [
        [
            [float((fnv1a32_py(f"plane-{t}-{j}-{d}") % 2001) - 1000) for d in range(DIM)]
            for j in range(LSH_PLANES)
        ]
        for t in range(LSH_TABLES)
    ]


def lsh_buckets(df: DataFrame) -> DataFrame:
    """(vec_id, table, bucket): sign-of-projection bits per hash table —
    pure JVM expressions over constant plane arrays."""
    planes = _hyperplanes()
    out = []
    for t in range(LSH_TABLES):
        bits = []
        for j in range(LSH_PLANES):
            arr = "array(" + ",".join(f"{v:.1f}D" for v in planes[t][j]) + ")"
            dot = _DOT_SPARK.format(a="embedding", b=arr)
            bits.append(f"IF({dot} > 0, {1 << j}, 0)")
        out.append(f"struct({t} AS tbl, ({' + '.join(bits)}) AS bucket)")
    return df.select(
        "vec_id", F.explode(F.expr("array(" + ",".join(out) + ")")).alias("tb")
    ).select("vec_id", "tb.tbl", "tb.bucket")


def _bucket_cte_duck() -> str:
    """DuckDB twin of lsh_buckets(): one UNION ALL branch per hash table,
    same FNV-derived plane constants, same fold-order dots, same sign
    bits — so buckets (and therefore candidates, scores, and ranks) are
    bit-identical to the Spark side."""
    planes = _hyperplanes()
    branches = []
    for t in range(LSH_TABLES):
        bits = []
        for j in range(LSH_PLANES):
            lit = "[" + ",".join(f"{v:.1f}" for v in planes[t][j]) + "]"
            dot = _dot_duck("embedding", lit)
            bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
        branches.append(
            f"SELECT vec_id, {t} AS tbl, ({' + '.join(bits)}) AS bucket FROM e"
        )
    return " UNION ALL ".join(branches)


_RANKED_TOPK_DUCK = f"""
    SELECT qid, cid, cos, rank FROM (
      SELECT qid, cid, cos,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY qid, rank
"""


@register(
    "q35_ann_lsh",
    # Exact oracle: every stage (FNV planes, fold-order dots, sign bits,
    # candidate equi-join, cosine re-rank, cid tie-break) is deterministic
    # and reproduced verbatim in SQL — approximate-by-design vs q34, but
    # bit-exactly reproducible, so hash-checkable.
    oracle=f"""
    WITH {_E_CTE_DUCK},
    b AS ({_bucket_cte_duck()}),
    qb AS (SELECT vec_id AS qid, tbl, bucket FROM b WHERE vec_id < {N_QUERIES}),
    cb AS (SELECT vec_id AS cid, tbl, bucket FROM b),
    cand AS (
      SELECT DISTINCT qid, cid FROM qb JOIN cb USING (tbl, bucket)
      WHERE qid <> cid
    ),
    scored AS (
      SELECT cand.qid, cand.cid,
             {_dot_duck("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cos
      FROM cand JOIN e q ON cand.qid = q.vec_id JOIN e c ON cand.cid = c.vec_id
    )
    {_RANKED_TOPK_DUCK}
    """,
    tags=("ext", "similarity", "ann", "lsh"),
)
def q35_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: 8 tables × 4-bit buckets generate
    candidates (equi-join on (table, bucket)), exact cosine re-ranks them.
    Recall vs the exact q34 is asserted in tests/test_pipeline.py; the
    DuckDB oracle replays the identical deterministic pipeline."""
    e = _norms_spark(table(spark, "embeddings", sf_dir))
    # materialize the bucket frame once (r13, guide §5): it feeds BOTH
    # join sides (queries + corpus) and lazy each side re-computes the
    # 8-table x 4-plane projection pass over the whole corpus (2 of the
    # 4 scans in plans/r13/q35_ann_lsh_before.txt). Rows are (vec_id,
    # tbl, bucket) — ~20 B x 8 per vector, far smaller than the
    # embeddings they replace. In-process alternating A/B at sf0.1:
    # 1.54 s vs 1.91 s warm (-19%), cold 6.5 s vs 18.5 s.
    buckets = lsh_buckets(e).localCheckpoint(eager=True)
    qb = buckets.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cb = buckets.select(F.col("vec_id").alias("cid"), "tbl", "bucket")
    cand = (
        F.broadcast(qb)
        .join(cb, ["tbl", "bucket"])
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    pairs = cand.join(F.broadcast(_side(e, *_QUERY)), "qid").join(
        _side(e, *_CORPUS), "cid"
    )
    return _cosine_top_k(pairs, TOP_K)


CORPUS_CHUNK_ROWS = 4096  # corpus tile resident per task at any moment


def _pair_cos_batches(sf_dir: str, threshold: float, chunk_rows: int = CORPUS_CHUNK_ROWS):
    """mapInPandas generator factory: for each Arrow batch of (vec_id,
    embedding) rows, cosine against the corpus streamed tile-by-tile from
    parquet (``chunk_rows`` rows at a time) and emit (id1, id2, cos) pairs
    with id1 < id2 above the threshold.

    Blocked-tile shape: per-task resident memory is O(batch × DIM +
    chunk_rows × DIM) — *independent of corpus size*; each (row-range ×
    corpus-tile) block is one dense numpy product. Tiles whose max vec_id
    can't beat the batch's min (id1 < id2 required) are skipped before
    their embeddings are densified.

    Exactness contract: the oracle computes ``fold(+, 0.0, a[d]*b[d])``
    left-to-right in doubles. Accumulating ``C += A[:,d] * B[:,d]`` for
    d = 0..DIM-1 performs the *same* IEEE adds in the same order for every
    pair (0.0 + x == x exactly), and each pair's fold lives entirely inside
    one tile, so tiling cannot change any value — doubles and the threshold
    comparison are bit-identical to the SQL fold.

    Zero-norm and NULL embeddings are EXCLUDED on both sides, the same
    policy every declarative cosine consumer inherits from _norms_spark:
    cosine is undefined for them (NaN), and NaN ordering diverges between
    numpy and SQL engines — exclusion keeps the operator total on dirty
    corpora instead of failing the job over one degenerate row."""

    def gen(batches):
        import os

        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        from mapreduce_framework_spark.catalog import parquet_path

        path = parquet_path(sf_dir, "embeddings")

        def sq_norms(m: np.ndarray) -> np.ndarray:
            acc = np.zeros(m.shape[0])
            for d in range(m.shape[1]):
                acc += m[:, d] * m[:, d]
            return acc

        def corpus_tiles():
            files = (
                sorted(
                    os.path.join(path, f)
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
                if os.path.isdir(path)
                else [path]
            )
            import pyarrow.compute as pc

            for f in files:
                pf = pq.ParquetFile(f)
                for rb in pf.iter_batches(
                    batch_size=chunk_rows, columns=["vec_id", "embedding"]
                ):
                    # NULL embeddings have nothing to compare (the batch
                    # side drops them JVM-side); a None here would make
                    # the tile matrix ragged and crash np.array
                    rb = rb.filter(pc.is_valid(rb.column("embedding")))
                    if rb.num_rows:
                        yield rb

        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]
            if not len(pdf):
                continue
            aids = pdf["vec_id"].to_numpy()
            A = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            asq = sq_norms(A)
            aids, A, asq = aids[asq > 0], A[asq > 0], asq[asq > 0]
            if not len(aids):
                continue
            anorm = np.sqrt(asq)
            min_aid = aids.min()
            for rb in corpus_tiles():
                cids = rb.column("vec_id").to_numpy()
                if cids.max() <= min_aid:  # no cid can pair as id2 here
                    continue
                corpus = np.array(rb.column("embedding").to_pylist(), dtype=np.float64)
                csq = sq_norms(corpus)
                cids, corpus = cids[csq > 0], corpus[csq > 0]
                if not len(cids):
                    continue
                cnorm = np.sqrt(csq[csq > 0])
                dots = np.zeros((len(A), len(corpus)))
                for d in range(A.shape[1]):
                    dots += A[:, d : d + 1] * corpus[None, :, d]
                cos = dots / (anorm[:, None] * cnorm[None, :])
                ii, jj = np.nonzero(
                    (aids[:, None] < cids[None, :]) & (cos >= threshold)
                )
                if len(ii):
                    yield pd.DataFrame(
                        {"id1": aids[ii], "id2": cids[jj], "cos": cos[ii, jj]}
                    )

    return gen


# RETIRED from the registry in round 13 (registry.py policy item 4; its
# slot funded q110_media_gated_admission). Builder + oracle stay
# permanently: the dedicated differential is
# tests/test_queries_oracle.py::test_retired_q36_matches_oracle, it
# remains the exact near-dup baseline the scale paths q35/q56 are
# measured against, and bench.py still times it directly.
_EMBEDDING_NEARDUP_ORACLE = f"""
    WITH {_E_CTE_DUCK}
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           {_dot_duck('a.embedding', 'b.embedding')} / (a.norm * b.norm) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND {_dot_duck('a.embedding', 'b.embedding')} / (a.norm * b.norm) >= {NEARDUP_COS}
    ORDER BY id1, id2
    """


def q36_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold), brute force.
    The LSH bucketing of q35 is the scale path for this too.

    This is the one sanctioned dense-linear-algebra Python path: an O(N²)
    pair loop through SQL expressions pays ~µs of expression-interpretation
    per pair (array HOFs are interpreted; a 64-term unrolled product-sum
    blows past the codegen method limit), while Arrow-batched numpy does
    the same block at memory bandwidth. Each task computes its slice of
    rows against the corpus side streamed as bounded tiles straight from
    parquet (CORPUS_CHUNK_ROWS rows resident at a time) — no driver
    collect, no Python broadcast, and per-task memory independent of
    corpus size; the tiling is what makes the blocked-nested-loop exact
    pass survive a 100× corpus. Bit-exactness vs the DuckDB fold oracle is
    preserved by accumulating dimension-by-dimension in fold order (see
    _pair_cos_batches) — identical IEEE op sequence."""
    from mapreduce_framework_spark.deploy import ensure_package_on_executors

    ensure_package_on_executors(spark)
    # NULL embeddings are droppable (nothing to compare) and would make
    # the numpy tile matrix ragged; the corpus-tile reader inside the UDF
    # applies the same filter, so both sides of a pair agree
    e = (
        table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .where(F.col("embedding").isNotNull())
    )
    out = e.mapInPandas(
        _pair_cos_batches(sf_dir, NEARDUP_COS),
        schema="id1 long, id2 long, cos double",
    )
    return out.orderBy("id1", "id2")


IVF_CENTROID_STRIDE = 97  # vec_id % stride == 0 -> deterministic centroids
IVF_NPROBE = 2


_CENT_COS_DUCK = (
    f"{_dot_duck('e.embedding', 'cents.cent')} / (e.norm * cents.cent_norm)"
)

@register(
    "q56_ann_ivf",
    # Exact oracle, same reasoning as q35: deterministic stride centroids,
    # fold-order cosines, cent_id/cid tie-breaks — the approximate
    # algorithm itself is bit-exactly reproducible in SQL.
    oracle=f"""
    WITH {_E_CTE_DUCK},
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cent, norm AS cent_norm
      FROM e WHERE vec_id % {IVF_CENTROID_STRIDE} = 0
    ),
    asg AS (
      SELECT cid, cent_id FROM (
        SELECT e.vec_id AS cid, cents.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_CENT_COS_DUCK} DESC, cents.cent_id) AS r
        FROM e, cents
      ) WHERE r <= 1
    ),
    probes AS (
      SELECT qid, cent_id FROM (
        SELECT e.vec_id AS qid, cents.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_CENT_COS_DUCK} DESC, cents.cent_id) AS r
        FROM e, cents WHERE e.vec_id < {N_QUERIES}
      ) WHERE r <= {IVF_NPROBE}
    ),
    cand AS (
      SELECT DISTINCT qid, cid FROM probes JOIN asg USING (cent_id)
      WHERE qid <> cid
    ),
    scored AS (
      SELECT cand.qid, cand.cid,
             {_dot_duck("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cos
      FROM cand JOIN e q ON cand.qid = q.vec_id JOIN e c ON cand.cid = c.vec_id
    )
    {_RANKED_TOPK_DUCK}
    """,
    tags=("ext", "similarity", "ann", "ivf"),
)
def q56_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic centroids (every {IVF_CENTROID_STRIDE}th
    vector), corpus assigned to its nearest centroid (one broadcast join),
    queries probe their {IVF_NPROBE} nearest cells, exact cosine re-ranks
    within the probed cells. The inverted-file counterpart to q35's LSH —
    at 100 TB the assignment join is the only corpus-wide pass."""
    return ann_ivf(table(spark, "embeddings", sf_dir))


def prepare_centroids(centroids: DataFrame, op: str = "ann_ivf") -> DataFrame:
    """Normalize a caller-supplied ``(cent_id, cent[, cent_norm])`` codebook
    frame, failing fast on an empty one — an empty codebook would silently
    assign nothing and return an empty result (round-4 ADVICE). Shared by
    the IVF ANN here and pipeline/semantic_dedup.py."""
    if "cent_norm" not in centroids.columns:
        centroids = _norms_spark(centroids, vec="cent").withColumnRenamed(
            "norm", "cent_norm"
        )
    cents = centroids.select("cent_id", "cent", "cent_norm")
    if not cents.take(1):  # 1-row bound check on a by-contract tiny table
        raise ValueError(
            f"{op}: centroid table is empty — every vector would be "
            "unassigned and the result silently empty; supply >= 1 centroid"
        )
    return cents


def _stride_codebook(e: DataFrame, stride: int) -> DataFrame:
    """Deterministic stand-in for a k-means fit over a normed frame
    ``e``: every ``stride``-th vector is a centroid (``cent_id`` =
    ``vec_id``). q56 uses ``IVF_CENTROID_STRIDE``, q102 and the cascades
    ``semantic_dedup.SEM_STRIDE``. Cardinality is n/stride — it scales with
    the corpus, so this is the TEST/ORACLE form only; at scale pass a
    fitted fixed-K codebook, whose broadcast is O(K·dim)."""
    return e.where((F.col("vec_id") % stride) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("cent"),
        F.col("norm").alias("cent_norm"),
    )


def _nearest_cells(
    df: DataFrame, cents: DataFrame, id_col: str, k: int, carry: tuple = ()
) -> DataFrame:
    """Each vector's k nearest cells by cosine (ties -> smaller cent_id):
    one broadcast pass over ``df`` (which must carry ``norm``), NO shuffle.

    Round 13 (guide §2.4 — remove shuffles outright): the centroid table
    is collapsed into ONE array row (collect_list of (cent_id, cent,
    cent_norm) structs — bounded: K is a fitted-codebook constant at
    scale) and broadcast; each vector row scores every centroid inside a
    single ``transform``, sorts the K (ccos, cent_id) structs with an
    explicit (ccos desc, cent_id asc) comparator, and explodes the top k.
    The previous form crossJoined df with the broadcast centroids and
    took ``row_number`` over a per-id window — whose hashpartitioning(id)
    Exchange shuffled n×K scored rows (corpus×K at 100 TB) just to order
    per id what the broadcast pass had already computed on one row.

    Bit-exact equivalence with the window form: ccos is the identical
    _DOT_SPARK fold per (vector, centroid); the comparator is the same
    total order the window's (desc ccos, asc cent_id) ordering used —
    ties fully broken by cent_id, so the result is also independent of
    collect_list's nondeterministic array order; Spark's NaN-greatest
    comparison semantics match its NaN-first descending sort order (NaN
    ccos is unreachable anyway: both sides are norm-gated > 0). slice()
    past the array end returns the whole array, exactly like r <= k on a
    short window partition.

    ``carry``: extra ``df`` columns to keep on the exploded rows —
    consumers previously re-joined on ``id_col`` to recover them (an
    entire join removed from _ivf_postings)."""
    cent_arr = cents.agg(
        F.collect_list(F.struct("cent_id", "cent", "cent_norm")).alias("_cells")
    )
    dot = _DOT_SPARK.format(a="embedding", b="c.cent")
    scored = F.expr(
        f"transform(_cells, c -> struct({dot} / (norm * c.cent_norm) AS ccos, "
        "c.cent_id AS cent_id))"
    )
    cmp = (
        "(l, r) -> CASE WHEN l.ccos > r.ccos THEN -1 WHEN r.ccos > l.ccos THEN 1 "
        "WHEN l.cent_id < r.cent_id THEN -1 WHEN l.cent_id > r.cent_id THEN 1 "
        "ELSE 0 END"
    )
    top = F.expr(f"slice(array_sort(_scored, {cmp}), 1, {int(k)})")
    return (
        df.crossJoin(F.broadcast(cent_arr))
        .withColumn("_scored", scored)
        .select(F.col(id_col), *[F.col(c) for c in carry], F.explode(top).alias("_t"))
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry],
            F.col("_t.cent_id").alias("cent_id"),
            F.col("_t.ccos").alias("ccos"),
        )
    )


def _ivf_postings(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(cent_id, cid, ce, cnorm): every corpus vector in its nearest cell,
    with the columns exact re-ranking needs. ``e`` must carry ``norm``."""
    # round 13: the embedding/norm ride through the assignment pass
    # (carry=) — the join back on vec_id the window form needed is gone
    return (
        _nearest_cells(e, cents, "vec_id", 1, carry=("embedding", "norm"))
        .select(
            "cent_id",
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("norm").alias("cnorm"),
        )
    )


def _ivf_probe(
    index: DataFrame,
    qn: DataFrame,
    cents: DataFrame,
    nprobe: int,
    top_k: int,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Probe a posting table with a normed query frame ``qn``: queries find
    their ``nprobe`` nearest cells, candidates come from the cent_id
    equi-join, exact cosine re-ranks. Only (cent_id, cid) is read for
    candidates and (cid, ce, cnorm) for re-ranking — the index is consumed
    column-pruned, so a parquet-persisted artifact never reads extra
    columns (tests/test_pipeline.py pins the ReadSchema).

    ``vectors``: optional normed corpus frame to re-rank against INSTEAD
    of the index's stored (ce, cnorm). The persisted lifecycle omits it
    (the artifact is materialized — reading it twice is two cheap parquet
    scans); the from-scratch form passes its corpus frame so the UNindexed
    plan runs the centroid-assignment pass once, not once per consumer of
    the posting subtree (plan-pinned at <= 2 nested loops in test_plans)."""
    probes = _nearest_cells(qn, cents, "vec_id", nprobe).select(
        F.col("vec_id").alias("qid"), "cent_id"
    )
    cand = (
        F.broadcast(probes)
        .join(index.select("cent_id", "cid"), "cent_id")
        .where(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    rerank = (
        index.select(*_CORPUS) if vectors is None else _side(vectors, *_CORPUS)
    )
    pairs = cand.join(F.broadcast(_side(qn, *_QUERY)), "qid").join(rerank, "cid")
    return _cosine_top_k(pairs, top_k)


def ivf_index(embs: DataFrame, centroids: DataFrame | None = None) -> DataFrame:
    """The persistable IVF index artifact: the (cent_id, cid, ce, cnorm)
    posting table — every corpus vector assigned to its nearest cell, with
    embedding and norm stored for exact re-ranking. The q91
    ``index_signatures`` lifecycle applied to ANN: build ONCE when a
    corpus snapshot is ingested, write to parquet (partition or
    sort-by cent_id so probes touch few row groups), then serve every
    later query batch with :func:`probe_ivf_index` at O(batch) — no
    per-run assignment recompute over the corpus. ``centroids``: fitted
    fixed-K codebook (production; broadcast O(K·dim)); default is the
    stride-derived test/oracle form. Persist the codebook alongside the
    postings — probing requires the same one the index was built with."""
    e = _norms_spark(embs)
    cents = (
        _stride_codebook(e, IVF_CENTROID_STRIDE)
        if centroids is None
        else prepare_centroids(centroids)
    )
    return _ivf_postings(e, cents)


def probe_ivf_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = IVF_NPROBE,
    top_k: int = TOP_K,
) -> DataFrame:
    """Per-batch ANN against a PRECOMPUTED posting table (``ivf_index``
    output read back from parquet): only the batch computes centroid
    distances; the index contributes column-pruned equi-join sides. With
    the same codebook, bit-identical to running :func:`ann_ivf` from
    scratch (parquet round-trips doubles losslessly) —
    tests/test_pipeline.py::test_probe_ivf_index_equals_from_scratch."""
    return _ivf_probe(
        index, _norms_spark(queries), prepare_centroids(centroids), nprobe, top_k
    )


def ann_ivf(
    embs: DataFrame,
    centroids: DataFrame | None = None,
    nprobe: int = IVF_NPROBE,
    top_k: int = TOP_K,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """Library form of q56 over any (vec_id, embedding) frame: build the
    posting table and probe it in one plan (the registry/oracle form —
    the driver contract rebuilds per run so DuckDB can check it; the
    persisted lifecycle is :func:`ivf_index` + :func:`probe_ivf_index`).

    ``centroids``: a fitted fixed-K codebook ``(cent_id, cent[, cent_norm])``
    — the production seam; assignment is one broadcast pass, O(K·dim) per
    executor, independent of corpus size. Default: the stride-derived
    deterministic codebook (cardinality n/stride; test/oracle form only).
    An explicitly-passed empty codebook raises."""
    # materialize the normed frame once (r13, guide §5): it feeds the
    # assignment pass, the query filter, and the exact re-rank side — and
    # with stride centroids, BOTH _nearest_cells centroid aggregations —
    # lazy, each consumer re-scanned + re-normed the embeddings (6 scans
    # in plans/r13/q56_ann_ivf_before.txt). The stride codebook is derived
    # from the SAME checkpointed rows. In-process alternating A/B at
    # sf0.1: warm unchanged (2.02 s both — the repeated subtrees were
    # page-cache-cheap locally), cold 3.3 s vs 8.8 s (-63%); at scale this
    # is 1 corpus pass instead of 6.
    e = _norms_spark(embs).localCheckpoint(eager=True)
    cents = (
        _stride_codebook(e, IVF_CENTROID_STRIDE)
        if centroids is None
        else prepare_centroids(centroids)
    )
    return _ivf_probe(
        _ivf_postings(e, cents),
        e.where(F.col("vec_id") < n_queries),
        cents,
        nprobe,
        top_k,
        vectors=e,
    )


# --- embedding quantization (q93) -------------------------------------------
# Vector compression for embedding storage at scale: symmetric int8
# quantization with a per-vector max-abs scale (the faiss/SQ8-style scheme).
# Everything is per-row array arithmetic — no shuffle, embarrassingly
# parallel — and every float op is written in the same explicit order on
# both engines (see module docstring), so scale, codes, AND the
# reconstruction error are all bit-exact under the driver hash.
QUANT_LEVELS = 127.0  # int8 symmetric range


def quantize_embeddings(vecs: DataFrame, vec: str = "embedding") -> DataFrame:
    """Adds scale (double), codes (array<int>), sse (double reconstruction
    squared error) to any frame with an array<float> column. Rows with a
    NULL vector are dropped (nothing to compress; their codes would be
    meaningless NULLs that diverge between engines) — the same
    dirty-corpus policy as _norms_spark, mirrored in the q93 oracle."""
    q = vecs.where(F.col(vec).isNotNull()).withColumn(
        "scale", F.expr(f"array_max(transform({vec}, x -> abs(CAST(x AS DOUBLE))))")
    ).withColumn(
        "codes",
        F.expr(
            f"CASE WHEN scale = 0.0 THEN transform({vec}, x -> 0) "
            f"ELSE transform({vec}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {QUANT_LEVELS} / scale + 0.5) AS INT)) END"
        ),
    )
    term = (
        f"(CAST(element_at({vec}, i) AS DOUBLE)"
        f" - CAST(element_at(codes, i) AS DOUBLE) * scale / {QUANT_LEVELS})"
    )
    return q.withColumn(
        "sse",
        F.expr(
            f"aggregate(sequence(1, size({vec})), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + {term} * {term})"
        ),
    )


_QUANT_TERM_DUCK = (
    "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale / 127.0)"
)


@register(
    "q93_embedding_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    c AS (
      SELECT vec_id, embedding, scale,
             CASE WHEN scale = 0.0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5) AS INT)) END AS codes
      FROM s
    )
    SELECT vec_id, scale,
           array_to_string(codes, ',') AS codes_csv,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(embedding) + 1),
               i -> {_QUANT_TERM_DUCK} * {_QUANT_TERM_DUCK})),
             (acc, v) -> acc + v) AS sse
    FROM c ORDER BY vec_id
    """,
    tags=("ext", "embedding", "quantization"),
)
def q93_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    max-abs scale, rounded codes (floor(x·127∕scale + 0.5) — one explicit
    rounding rule, identical on both engines), and the left-to-right
    fold-order reconstruction squared error. Zero vectors quantize to all
    zeros via the mirrored CASE guard rather than NaN.

    The codes come back CSV-serialized (the nested-output convention every
    driver-checked query follows, cf. q02's concat_ws): the driver's
    canonicalization sorts a pandas frame, and raw array cells are
    unhashable there. Library users get the real array<int> from
    quantize_embeddings."""
    vecs = table(spark, "embeddings", sf_dir)
    return (
        quantize_embeddings(vecs)
        .select(
            "vec_id",
            "scale",
            F.expr(
                "array_join(transform(codes, x -> CAST(x AS STRING)), ',')"
            ).alias("codes_csv"),
            "sse",
        )
        .orderBy("vec_id")
    )
