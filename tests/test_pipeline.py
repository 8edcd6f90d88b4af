"""Pipeline-operator semantics beyond the oracle gate: LSH recall vs the
exact baselines, minhash determinism, and the multimodal decode stubs."""

from __future__ import annotations

import pytest

from mapreduce_framework_spark.pipeline.dedup import (
    minhash_signatures,
    q30_ngram_jaccard_neardup,
    q31_minhash_lsh_neardup,
)
from mapreduce_framework_spark.pipeline.multimodal import (
    decode_audio,
    decode_image,
    sample_video_frames,
)
from mapreduce_framework_spark.pipeline.similarity import (
    TOP_K,
    q34_ann_bruteforce,
    q35_ann_lsh,
)


def test_minhash_lsh_equals_exact_jaccard(spark, sf_dir):
    """At J>=0.8 the banding miss probability is <1e-7 per pair, so the LSH
    result must equal the exact self-join result (and does, deterministically,
    with the fixed permutations)."""
    exact = {(r["id1"], r["id2"]) for r in q30_ngram_jaccard_neardup(spark, sf_dir).collect()}
    lsh = {(r["id1"], r["id2"]) for r in q31_minhash_lsh_neardup(spark, sf_dir).collect()}
    assert lsh == exact
    assert len(exact) > 0, "fixture should contain planted near-dup pairs"


def test_minhash_signatures_deterministic(spark, sf_dir):
    a = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(spark, sf_dir).collect()}
    b = {r["doc_id"]: tuple(r["sig"]) for r in minhash_signatures(spark, sf_dir).collect()}
    assert a == b
    assert all(len(sig) == 64 for sig in a.values())


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    exact = {}
    for r in q34_ann_bruteforce(spark, sf_dir).collect():
        exact.setdefault(r["qid"], set()).add(r["cid"])
    approx = {}
    for r in q35_ann_lsh(spark, sf_dir).collect():
        approx.setdefault(r["qid"], set()).add(r["cid"])
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    assert total == len(exact) * TOP_K
    # 8 tables x 4 planes on uniform 64-dim data: recall is modest by design;
    # the point is the candidate-generation plumbing, re-ranked exactly.
    assert recall >= 0.2, f"ANN recall collapsed: {recall:.2f}"


def test_multimodal_decode_stubs_are_marked():
    """Env-blocked seams must raise NotImplementedError, not fail obscurely:
    non-BMP image decode without Pillow, audio decode of a non-WAV codec,
    non-AVI video decode (the stdlib paths cover the RIFF/DIB family:
    WAV, BMP, uncompressed AVI)."""
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")
    with pytest.raises(NotImplementedError):
        decode_audio(b"\x00\x01\x02")  # not RIFF/WAV
    if not _video_lib_available():
        with pytest.raises(NotImplementedError):
            sample_video_frames(b"\x00\x01\x02\x03")  # not RIFF/AVI


def _video_lib_available() -> bool:
    for mod in ("av", "cv2"):
        try:
            __import__(mod)
            return True
        except ImportError:
            pass
    return False


def test_sample_video_frames_with_video_lib(tmp_path):
    """Exercise the compressed-codec video seam wherever PyAV or OpenCV
    exists (skipped with reason in containers without video libs — the
    stub is verified by test_multimodal_decode_stubs_are_marked there).
    The fixture is authored with the same lib: 6 solid-color 16x16 frames
    encoded to a real container, then frame-sampled."""
    if not _video_lib_available():
        pytest.skip("no video library (pyav/cv2) installed (env-blocked seam)")
    import numpy as np

    frames = [np.full((16, 16, 3), (40 * i, 0, 255 - 40 * i), dtype=np.uint8) for i in range(6)]
    try:
        import av
        import io

        buf = io.BytesIO()
        with av.open(buf, "w", format="mp4") as container:
            stream = container.add_stream("mpeg4", rate=5)
            stream.width, stream.height, stream.pix_fmt = 16, 16, "yuv420p"
            for arr in frames:
                for pkt in stream.encode(av.VideoFrame.from_ndarray(arr, format="rgb24")):
                    container.mux(pkt)
            for pkt in stream.encode():
                container.mux(pkt)
        payload = buf.getvalue()
    except ImportError:
        import cv2

        path = str(tmp_path / "clip.avi")
        w = cv2.VideoWriter(path, cv2.VideoWriter_fourcc(*"MJPG"), 5, (16, 16))
        for arr in frames:
            w.write(arr[:, :, ::-1])
        w.release()
        payload = open(path, "rb").read()
    out = sample_video_frames(payload, every_n=2)
    assert [f["frame_index"] for f in out] == [0, 2, 4]
    assert all((f["width"], f["height"]) == (16, 16) for f in out)
    assert all(len(f["pixels"]) == 16 * 16 * 3 for f in out)


def test_decode_image_with_pillow():
    """Exercise the real image-decode seam wherever Pillow exists (skipped
    with reason in containers without imaging libs — the stub is verified
    by test_multimodal_decode_stubs_are_marked there)."""
    pytest.importorskip("PIL", reason="Pillow not installed (env-blocked seam)")
    import io

    from PIL import Image

    img = Image.new("RGB", (4, 2), (255, 0, 0))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    out = decode_image(buf.getvalue())
    assert (out["width"], out["height"], out["mode"]) == (4, 2, "RGB")
    assert out["pixels"][:3] == b"\xff\x00\x00"
    assert len(out["pixels"]) == 4 * 2 * 3


def test_decode_audio_wav_via_stdlib():
    """The audio seam is REAL for WAV/PCM (stdlib wave module): a generated
    16-bit mono payload must round-trip its header fields and samples."""
    import io
    import struct
    import wave

    samples = [0, 1000, -1000, 32000, -32000, 7, -7, 0]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    out = decode_audio(buf.getvalue())
    assert out["n_channels"] == 1
    assert out["sample_width"] == 2
    assert out["sample_rate"] == 8000
    assert out["n_frames"] == len(samples)
    assert list(struct.unpack(f"<{len(samples)}h", out["pcm"])) == samples


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    from mapreduce_framework_spark.pipeline.similarity import q56_ann_ivf

    exact = {}
    for r in q34_ann_bruteforce(spark, sf_dir).collect():
        exact.setdefault(r["qid"], set()).add(r["cid"])
    ivf = {}
    for r in q56_ann_ivf(spark, sf_dir).collect():
        ivf.setdefault(r["qid"], set()).add(r["cid"])
    hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    recall = hits / total
    # nprobe=2 of ~5 cells on uniform data: partial recall by design
    assert recall >= 0.2, f"IVF recall collapsed: {recall:.2f}"
    assert all(len(v) <= 5 for v in ivf.values())


def test_ann_ivf_external_codebook_seam(spark, sf_dir):
    """q56's round-5 parameterization (the q102/q91 move): an explicitly
    passed stride codebook is output-identical to the default; an empty
    codebook fails fast; a fitted fixed-K codebook runs the same dataflow
    with a corpus-independent broadcast."""
    import pytest

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.similarity import (
        ann_ivf,
        IVF_CENTROID_STRIDE,
        _norms_spark,
        _stride_codebook,
    )

    embs = table(spark, "embeddings", sf_dir)
    default = {(r["qid"], r["rank"]): r["cid"] for r in ann_ivf(embs).collect()}
    explicit = {
        (r["qid"], r["rank"]): r["cid"]
        for r in ann_ivf(
            embs, centroids=_stride_codebook(_norms_spark(embs), IVF_CENTROID_STRIDE)
        ).collect()
    }
    assert default == explicit and default

    empty = spark.createDataFrame([], "cent_id BIGINT, cent ARRAY<DOUBLE>")
    with pytest.raises(ValueError, match="centroid table is empty"):
        ann_ivf(embs, centroids=empty).collect()

    # fixed-K codebook (K=8 first vectors as stand-in for a k-means fit):
    # same plan family, every query gets <= top_k exact-ranked neighbors
    fitted = embs.where("vec_id < 8").selectExpr(
        "vec_id AS cent_id", "embedding AS cent"
    )
    got = {}
    for r in ann_ivf(embs, centroids=fitted, nprobe=3).collect():
        got.setdefault(r["qid"], []).append(r["cid"])
    assert got and all(len(v) <= 5 for v in got.values())


def test_probe_ivf_index_equals_from_scratch(spark, sf_dir, tmp_path):
    """The q91 lifecycle applied to ANN (round-5 VERDICT item): build the
    (cent_id, posting) artifact ONCE, persist to parquet, then probe the
    read-back table per query batch — bit-identical (incl. cosines) to
    rebuilding the whole index from scratch."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.similarity import (
        N_QUERIES,
        ann_ivf,
        ivf_index,
        IVF_CENTROID_STRIDE,
        _norms_spark,
        _stride_codebook,
        probe_ivf_index,
    )

    embs = table(spark, "embeddings", sf_dir)
    cents = _stride_codebook(_norms_spark(embs), IVF_CENTROID_STRIDE).localCheckpoint(
        eager=True
    )
    idx_dir = str(tmp_path / "ivf_index")
    # snapshot-ish metadata column: probes must never read it (plan test)
    ivf_index(embs, centroids=cents).withColumn(
        "snapshot", F.lit("s1")
    ).write.parquet(idx_dir)
    queries = embs.where(F.col("vec_id") < N_QUERIES)
    probed = probe_ivf_index(spark.read.parquet(idx_dir), queries, cents)
    scratch = ann_ivf(embs, centroids=cents)
    assert sorted(map(tuple, probed.collect())) == sorted(map(tuple, scratch.collect()))


def test_probe_ivf_index_reads_index_column_pruned(spark, sf_dir, tmp_path):
    """The probe's parquet scans of the artifact must be column-pruned:
    the candidate join reads (cent_id, cid), re-ranking adds (ce, cnorm),
    and extra artifact columns (snapshot metadata) never enter ReadSchema
    — at 100 TB that's the difference between touching the posting
    columns you need and scanning the whole index."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.similarity import (
        N_QUERIES,
        ivf_index,
        IVF_CENTROID_STRIDE,
        _norms_spark,
        _stride_codebook,
        probe_ivf_index,
    )

    embs = table(spark, "embeddings", sf_dir)
    cents = _stride_codebook(_norms_spark(embs), IVF_CENTROID_STRIDE).localCheckpoint(
        eager=True
    )
    idx_dir = str(tmp_path / "ivf_index")
    ivf_index(embs, centroids=cents).withColumn(
        "snapshot", F.lit("s1")
    ).write.parquet(idx_dir)
    probed = probe_ivf_index(
        spark.read.parquet(idx_dir),
        embs.where(F.col("vec_id") < N_QUERIES),
        cents,
    )
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    import re as _re

    index_schemas = [
        s for s in _re.findall(r"ReadSchema: struct<([^>]*)>", plan) if "cid" in s
    ]
    assert index_schemas, plan
    assert all("snapshot" not in s for s in index_schemas), index_schemas
    assert "CartesianProduct" not in plan


def test_embedding_neardup_tiling_invariance(sf_dir):
    """q36's blocked-tile exact pass must be bit-identical at any tile size
    (per-task memory is bounded by CORPUS_CHUNK_ROWS, not the corpus): run
    the mapInPandas generator directly with a huge tile vs a tiny one."""
    import pandas as pd
    import pyarrow.parquet as pq

    from mapreduce_framework_spark.catalog import parquet_path
    from mapreduce_framework_spark.pipeline.similarity import (
        NEARDUP_COS,
        _pair_cos_batches,
    )

    batch = pq.read_table(
        parquet_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"]
    ).to_pandas()

    def run(chunk_rows):
        out = list(_pair_cos_batches(sf_dir, NEARDUP_COS, chunk_rows)(iter([batch])))
        if not out:
            return []
        df = pd.concat(out, ignore_index=True)
        return sorted(df.itertuples(index=False, name=None))

    whole = run(1 << 30)  # one tile = old whole-corpus behavior
    tiled = run(17)  # pathological tiny tiles crossing every boundary
    assert tiled == whole  # bit-exact, incl. the cos doubles
    assert len(whole) > 0, "fixture should contain near-dup embedding pairs"


def test_embedding_neardup_excludes_zero_norm_and_null(tmp_path):
    """Zero-norm and NULL embeddings make cosine undefined (NaN) — the
    tiled generator must EXCLUDE them on both the batch and corpus-tile
    sides (the _norms_spark policy every declarative consumer shares)
    rather than emit NaN pairs, crash on a ragged matrix, or fail the
    whole job over one degenerate row."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_framework_spark.pipeline.similarity import _pair_cos_batches

    vecs = [[1.0] * 4, [0.0] * 4, None, [2.0] * 4]
    tbl = pa.table(
        {"vec_id": [0, 1, 2, 3]},
    ).append_column("embedding", pa.array(vecs, pa.list_(pa.float64())))
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    batch = pd.DataFrame({"vec_id": [0, 1, 2, 3], "embedding": vecs})
    out = pd.concat(
        list(_pair_cos_batches(str(tmp_path), 0.5)(iter([batch])))
    )
    # only the (0, 3) pair survives: 1 and 2 are excluded on both sides
    assert sorted(map(tuple, out[["id1", "id2"]].values.tolist())) == [(0, 3)]
    assert out["cos"].notna().all()


def test_match_batch_with_persisted_index_equals_from_scratch(spark, sf_dir, tmp_path):
    """The O(batch) contract of incremental dedup: matching a new batch
    against a parquet-persisted ``index_signatures`` artifact must produce
    exactly the matches of the from-scratch ``cross_snapshot_matches``
    form — and the artifact must carry everything the match needs (the 64
    minhash columns + the exact shingle sets), so the per-batch plan never
    re-shingles the index side."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import (
        N_PERMS,
        cross_snapshot_matches,
        index_signatures,
        match_batch,
    )

    docs = table(spark, "documents", sf_dir)
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    index_docs = docs.where(F.col("doc_id") < cut)
    new_docs = docs.where(F.col("doc_id") >= cut)

    # build once, persist, read back — the snapshot-ingest lifecycle
    idx_path = str(tmp_path / "index_sigs")
    index_signatures(index_docs).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    assert {"doc_id", "shingles", *{f"m{i}" for i in range(N_PERMS)}} <= set(idx.columns)

    got = sorted(
        (r["id1"], r["id2"], round(r["jaccard"], 12))
        for r in match_batch(idx, new_docs).collect()
    )
    want = sorted(
        (r["id1"], r["id2"], round(r["jaccard"], 12))
        for r in cross_snapshot_matches(index_docs, new_docs).collect()
    )
    assert got == want and len(got) > 0

    # the persisted-index plan must read the index side from the parquet
    # artifact (signatures + shingle sets off stored columns, no index-side
    # re-shingle)
    df = match_batch(idx, new_docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "index_sigs" in plan, plan


@pytest.mark.parametrize("family", ["word", "char"])
def test_index_signatures_plans_one_aggregate(spark, sf_dir, family):
    """``index_signatures`` is ONE aggregate: the 64 min() columns and the
    shingle collect_set share a single groupBy("doc_id"), with no second
    aggregate over the shingles and no join back. The streaming near-dup
    tier builds each batch's signature frame with it once and publishes
    that frame, so a second aggregate or a join here is paid per batch."""
    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import (
        N_PERMS,
        char_shingles_of,
        index_signatures,
    )

    docs = table(spark, "documents", sf_dir)
    sigs = index_signatures(docs, char_shingles_of if family == "char" else None)
    assert sigs.columns == ["doc_id", *[f"m{i}" for i in range(N_PERMS)], "shingles"]
    plan = sigs._jdf.queryExecution().optimizedPlan().toString()
    nodes = [line.lstrip(" :+-") for line in plan.splitlines()]
    assert sum(n.startswith("Aggregate") for n in nodes) == 1, plan
    assert not any(n.startswith("Join") for n in nodes), plan


def test_match_batch_with_persisted_bands_is_identical(spark, sf_dir, tmp_path):
    """The banded-layout extension of the persisted-index contract:
    matching against a parquet-persisted ``banded_signatures`` table must
    produce BIT-identical matches to the on-the-fly band derivation (the
    band table is definitionally the same _band_frame rows), while the
    candidate join's index side scans the narrow (doc_id, band, bsig)
    artifact instead of re-projecting 64 minhash longs per batch."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import (
        N_BANDS,
        banded_signatures,
        index_signatures,
        match_batch,
    )

    docs = table(spark, "documents", sf_dir)
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    index_docs = docs.where(F.col("doc_id") < cut)
    new_docs = docs.where(F.col("doc_id") >= cut)

    idx_path = str(tmp_path / "index_sigs")
    bands_path = str(tmp_path / "index_bands")
    index_signatures(index_docs).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)
    banded_signatures(idx).write.parquet(bands_path)
    bands = spark.read.parquet(bands_path)
    assert set(bands.columns) == {"doc_id", "band", "bsig"}
    assert bands.count() == idx.count() * N_BANDS

    with_bands = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in match_batch(idx, new_docs, index_bands=bands).collect()
    )
    without = sorted(
        (r["id1"], r["id2"], r["jaccard"])
        for r in match_batch(idx, new_docs).collect()
    )
    assert with_bands == without and len(with_bands) > 0

    # the banded plan reads the band artifact on the candidate join's
    # index side
    df = match_batch(idx, new_docs, index_bands=bands)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "index_bands" in plan, plan


def test_stop_shingle_cap_bounds_candidate_blowup(spark):
    """The web-scale robustness lever (SCALING.md): near-universal
    "stop shingles" (site chrome, licence boilerplate) drag every doc's
    minhashes toward their hashes, so LSH bands collide corpus-wide and
    candidates degenerate toward all-pairs. The df cap removes them before
    signatures; true near-dups (by their NON-boilerplate content) must
    still surface."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.dedup import (
        lsh_band_candidates,
        lsh_neardup_pairs,
        shingles_of,
    )

    def words(prefix, n, start=0):
        # letter-only tokens (the corpus tokenizer strips digits)
        return [
            f"{prefix}{chr(97 + (start + i) % 26)}{chr(97 + (start + i) // 26)}"
            for i in range(n)
        ]

    boiler = " ".join(words("bp", 40))  # shared by every doc -> stop shingles
    n_docs = 30
    rows = []
    for d in range(n_docs):
        uniq = " ".join(words(f"u{chr(97 + d % 26)}{chr(97 + d // 26)}", 20))
        rows.append(Row(doc_id=d, text=f"{boiler} {uniq}"))
    # planted true near-dup pair: identical unique content
    rows.append(Row(doc_id=100, text=f"{boiler} {' '.join(words('dup', 20))}"))
    rows.append(Row(doc_id=101, text=f"{boiler} {' '.join(words('dup', 20))}"))
    docs = spark.createDataFrame(rows)

    cap = n_docs // 2
    sh_all = shingles_of(docs).localCheckpoint(eager=True)
    n_cand_nocap = lsh_band_candidates(sh_all).count()

    from pyspark.sql import functions as F

    stop = (
        sh_all.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > cap).select("s")
    )
    sh_capped = sh_all.join(F.broadcast(stop), "s", "left_anti").localCheckpoint(
        eager=True
    )
    n_cand_cap = lsh_band_candidates(sh_capped).count()

    n_pairs_total = (n_docs + 2) * (n_docs + 1) // 2
    # without the cap the boilerplate drags a large fraction of ALL pairs
    # into the candidate set; with it, candidates collapse to ~the planted pair
    assert n_cand_nocap >= n_pairs_total // 4, (n_cand_nocap, n_pairs_total)
    assert n_cand_cap <= max(5, n_cand_nocap // 20), (n_cand_cap, n_cand_nocap)

    # the true near-dup still surfaces through the capped path, at the
    # Jaccard of its NON-stop shingles (identical unique content -> 1.0)
    found = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in lsh_neardup_pairs(docs, stop_shingle_df=cap).collect()
    }
    assert found.get((100, 101)) == 1.0
    # boilerplate-only similarity no longer counts: no cross-corpus pairs
    assert set(found) == {(100, 101)}


def test_decode_image_bmp_via_stdlib():
    """The BMP decode path is pure stdlib — real in THIS container (the
    image counterpart of the WAV test above): hand-build a 3x2 24-bit BMP
    with known pixels (bottom-up rows, 4-byte padding, BGR order) and
    check the decoded RGB raster exactly."""
    import struct

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    width, height = 3, 2
    # target raster, top-to-bottom, RGB:
    #   row0: red, green, blue        row1: white, black, gray
    top = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    bottom = [(255, 255, 255), (0, 0, 0), (128, 128, 128)]
    row_size = (width * 3 + 3) & ~3  # 12 bytes, includes 3 pad bytes
    data_offset = 14 + 40

    def row_bytes(px):
        raw = b"".join(bytes((b, g, r)) for (r, g, b) in px)  # BGR on disk
        return raw + b"\x00" * (row_size - len(raw))

    pixel_data = row_bytes(bottom) + row_bytes(top)  # bottom-up storage
    header = b"BM" + struct.pack(
        "<IHHI", data_offset + len(pixel_data), 0, 0, data_offset
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    out = decode_image(header + dib + pixel_data)
    assert (out["width"], out["height"], out["mode"]) == (3, 2, "RGB")
    want = b"".join(bytes(p) for p in top + bottom)
    assert out["pixels"] == want


def test_sample_video_frames_avi_via_stdlib():
    """The AVI frame-sampling path is pure stdlib — real in THIS container
    (completing the RIFF trifecta: WAV audio, BMP images, AVI video):
    hand-build a minimal uncompressed 24-bit AVI with 5 solid-color 2x2
    frames and check that every_n=2 keeps frames 0/2/4 with exact pixels."""
    import struct

    from mapreduce_framework_spark.pipeline.multimodal import sample_video_frames

    width, height = 2, 2
    colors = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7), (1, 2, 3)]  # RGB
    row_size = (width * 3 + 3) & ~3  # 8 bytes (2 px * 3 + 2 pad)

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(list_type, body):
        return chunk(b"LIST", list_type + body)

    def dib_frame(rgb):
        r, g, b = rgb
        row = bytes((b, g, r)) * width + b"\x00" * (row_size - width * 3)
        return row * height  # both rows identical (solid color)

    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, row_size * height, 0, 0, 0, 0
    )
    strh = b"vids" + b"DIB " + b"\x00" * 48  # fccType gates strf acceptance
    avih = b"\x00" * 56
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", dib_frame(c)) for c in colors))
    body = b"AVI " + hdrl + movi
    payload = b"RIFF" + struct.pack("<I", len(body)) + body

    frames = sample_video_frames(payload, every_n=2)
    assert [f["frame_index"] for f in frames] == [0, 2, 4]
    for f, want in zip(frames, (colors[0], colors[2], colors[4])):
        assert (f["width"], f["height"]) == (2, 2)
        assert f["pixels"] == bytes(want) * 4

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        sample_video_frames(b"\x00\x01\x02\x03mp4 junk")

    # An AVI whose AUDIO stream precedes the video stream: the audio strf
    # (WAVEFORMATEXTENSIBLE, >= 40 bytes) must NOT be misread as a
    # BITMAPINFOHEADER — the parser keys strf acceptance on the preceding
    # strh's fccType (round-4 ADVICE).
    audio_strf = struct.pack("<HHIIHHHH", 0xFFFE, 2, 44100, 176400, 4, 16, 22, 16)
    audio_strf += b"\x00" * (40 - len(audio_strf))
    hdrl2 = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", b"auds" + b"\x00" * 52) + chunk(b"strf", audio_strf))
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    body2 = b"AVI " + hdrl2 + movi
    payload2 = b"RIFF" + struct.pack("<I", len(body2)) + body2
    frames2 = sample_video_frames(payload2, every_n=2)
    assert [(f["width"], f["height"]) for f in frames2] == [(2, 2)] * 3
    assert frames2[0]["pixels"] == bytes(colors[0]) * 4


def test_decode_bmp_rejects_malformed_headers():
    """Truncated or dimension-invalid BMPs must raise a clear ValueError,
    not return silently-empty rasters or die in the BGR swizzle
    (round-4 ADVICE)."""
    import struct

    import pytest as _pytest

    from mapreduce_framework_spark.pipeline.multimodal import _decode_bmp

    def bmp(width, height, pixel_bytes):
        data_offset = 54
        hdr = b"BM" + struct.pack(
            "<IHHI", data_offset + len(pixel_bytes), 0, 0, data_offset
        )
        hdr += struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                           len(pixel_bytes), 0, 0, 0, 0)
        return hdr + pixel_bytes

    with _pytest.raises(ValueError, match="truncated BMP"):
        _decode_bmp(bmp(4, 4, b"\x00" * 10))  # needs 4 rows x 12B padded to 16
    with _pytest.raises(ValueError, match="invalid BMP dimensions"):
        _decode_bmp(bmp(-3, 2, b"\x00" * 64))
    with _pytest.raises(ValueError, match="invalid BMP dimensions"):
        _decode_bmp(bmp(2, 0, b"\x00" * 64))
    # a well-formed 1x1 still decodes
    one = bmp(1, 1, bytes((10, 20, 30)) + b"\x00")
    assert _decode_bmp(one)["pixels"] == bytes((30, 20, 10))


# --- PNG stdlib decoder -----------------------------------------------------


def _png_fixture(width, height, color, rows, filters, plte=None):
    """Author a PNG: filter each raster row with the given filter type
    (the inverse of decode-side reconstruction), deflate, wrap in chunks
    with real CRCs. rows = list of per-row channel bytes (or palette
    indices for color type 3)."""
    import struct
    import zlib

    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = width * ch
    scan = bytearray()
    prev = bytes(stride)
    for row, ftype in zip(rows, filters):
        assert len(row) == stride
        line = bytearray(row)
        if ftype == 1:
            for i in range(stride - 1, ch - 1, -1):
                line[i] = (line[i] - row[i - ch]) & 0xFF
        elif ftype == 2:
            for i in range(stride):
                line[i] = (line[i] - prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                line[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(stride):
                a = row[i - ch] if i >= ch else 0
                b = prev[i]
                c = prev[i - ch] if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] - pred) & 0xFF
        scan += bytes([ftype]) + line
        prev = row

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if plte is not None:
        out += chunk(b"PLTE", plte)
    out += chunk(b"IDAT", zlib.compress(bytes(scan))) + chunk(b"IEND", b"")
    return out


def test_decode_image_png_via_stdlib():
    """Exact pixels through every filter type and color mode, against
    self-authored fixtures (no imaging lib involved on either side)."""
    import os

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    rng = __import__("random").Random(7)

    # RGB 4x5, one row per filter type 0..4
    rows = [bytes(rng.randrange(256) for _ in range(4 * 3)) for _ in range(5)]
    png = _png_fixture(4, 5, 2, rows, [0, 1, 2, 3, 4])
    out = decode_image(png)
    assert (out["width"], out["height"], out["mode"]) == (4, 5, "RGB")
    assert out["pixels"] == b"".join(rows)

    # greyscale and RGBA with the heavier filters
    for color, ch, mode in ((0, 1, "L"), (4, 2, "LA"), (6, 4, "RGBA")):
        rows = [bytes(rng.randrange(256) for _ in range(3 * ch)) for _ in range(4)]
        out = decode_image(_png_fixture(3, 4, color, rows, [4, 3, 4, 2]))
        assert (out["width"], out["height"], out["mode"]) == (3, 4, mode)
        assert out["pixels"] == b"".join(rows)

    # palette: indices expand through PLTE to RGB
    plte = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))  # R, G, B entries
    rows = [bytes((0, 1, 2)), bytes((2, 2, 0))]
    out = decode_image(_png_fixture(3, 2, 3, rows, [0, 1], plte=plte))
    assert out["mode"] == "RGB"
    assert out["pixels"] == bytes(
        (255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 255, 0, 0, 255, 255, 0, 0)
    )


def test_decode_png_rejects_malformed():
    import struct

    import pytest

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    rows = [bytes((1, 2, 3)), bytes((4, 5, 6))]
    good = _png_fixture(1, 2, 2, rows, [0, 0])

    # flip one IDAT byte -> CRC mismatch must raise, not decode garbage
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_image(bytes(bad))

    # depth flipped to 16 without re-encoding the 8-bit IDAT: the stdlib
    # path now DECODES 16-bit (test_decode_png_bit_depths), so this file
    # is plain corruption — the scanline size check must catch it
    deep = bytearray(good)
    ihdr_at = good.index(b"IHDR")
    deep[ihdr_at + 12] = 16  # bit-depth byte inside IHDR
    # fix the CRC so the size check (not the CRC check) fires
    import zlib as _z

    data = bytes(deep[ihdr_at + 4 : ihdr_at + 17])
    deep[ihdr_at + 17 : ihdr_at + 21] = struct.pack(
        ">I", _z.crc32(b"IHDR" + data) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError, match="does not match dimensions"):
        decode_image(bytes(deep))


def test_decode_palette_index_out_of_range():
    """A decoded index past the palette must raise ValueError in every
    palette branch (round-5 ADVICE: PNG/GIF silently appended b'' —
    yielding a short pixel buffer — while BMP raised; one corrupt-input
    policy now, matching the decoders' stated ValueError contract)."""
    import pytest

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    # PNG: 2-entry PLTE, scanline references index 5
    plte2 = bytes((10, 20, 30, 40, 50, 60))
    png = _png_fixture(2, 1, 3, [bytes((0, 5))], [0], plte=plte2)
    with pytest.raises(ValueError, match="PNG palette index 5 out of range"):
        decode_image(png)

    # GIF: 2-entry color table but a 2-bit LZW stream emitting root code 3
    pal2 = bytes((0, 0, 0, 255, 255, 255))
    gif = _gif_fixture(2, 1, pal2, _lzw_encode(2, [0, 3]), 2)
    with pytest.raises(ValueError, match="GIF palette index 3 out of range"):
        decode_image(gif)


# --- GIF stdlib decoder -----------------------------------------------------


def _pack_codes(codes):
    """LSB-first variable-width code packing (the GIF LZW bit order)."""
    acc = nbits = 0
    out = bytearray()
    for code, size in codes:
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_encode(mcs, indices):
    """Standard GIF LZW encoder (code width grows at next_code ==
    2^width + 1 — one step ahead of the decoder, which is one table
    entry behind)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, code_size = end + 1, mcs + 1
    codes = [(clear, code_size)]
    w = b""
    for b in indices:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], code_size))
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        w = bytes([b])
    if w:
        codes.append((table[w], code_size))
    codes.append((end, code_size))
    return _pack_codes(codes)


def _gif_fixture(width, height, palette, lzw_data, mcs, interlaced=False):
    import struct

    n = max(2, len(palette) // 3)
    bits = max(1, (n - 1).bit_length())
    gct = palette + bytes(3 * ((2 << (bits - 1)) * 1) - len(palette))
    out = b"GIF89a" + struct.pack("<HHBBB", width, height, 0x80 | (bits - 1), 0, 0)
    out += gct
    ipacked = 0x40 if interlaced else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, ipacked)
    out += bytes([mcs])
    for i in range(0, len(lzw_data), 255):
        chunk = lzw_data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00\x3b"


def test_decode_image_gif_via_stdlib():
    """Exact pixels through three independent LZW sources: a spec-driven
    clear-code stream (no table growth — expected bytes derivable by
    hand), a real encoder round-trip whose random indices force code
    widths across the 2^n boundaries, and a well-known real-world GIF."""
    import base64
    import random

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    pal4 = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))

    # clear-code "uncompressed" stream: [clear, idx, clear, idx, ..., end]
    idxs = [0, 1, 2, 3, 2, 1]
    codes = []
    for i in idxs:
        codes += [(4, 3), (i, 3)]  # clear then literal, 3-bit codes
    codes.append((5, 3))  # end
    gif = _gif_fixture(3, 2, pal4, _pack_codes(codes), 2)
    out = decode_image(gif)
    assert (out["width"], out["height"], out["mode"]) == (3, 2, "RGB")
    assert out["pixels"] == b"".join(pal4[3 * i : 3 * i + 3] for i in idxs)

    # encoder round-trip, long random raster: crosses 8->16->32-entry
    # table sizes so every code-width transition is exercised
    rng = random.Random(11)
    raster = [rng.randrange(4) for _ in range(40 * 25)]
    gif = _gif_fixture(40, 25, pal4, _lzw_encode(2, raster), 2)
    out = decode_image(gif)
    assert (out["width"], out["height"]) == (40, 25)
    assert out["pixels"] == b"".join(pal4[3 * i : 3 * i + 3] for i in raster)

    # repetitive raster (deep table reuse + the code==next_code case)
    raster = ([0, 0, 1, 1] * 50 + [2] * 37) * 4
    gif = _gif_fixture(len(raster), 1, pal4, _lzw_encode(2, raster), 2)
    out = decode_image(gif)
    assert out["pixels"] == b"".join(pal4[3 * i : 3 * i + 3] for i in raster)

    # the canonical 1x1 spacer GIF the web has shipped for 25 years
    spacer = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    out = decode_image(spacer)
    assert (out["width"], out["height"], out["mode"]) == (1, 1, "RGB")
    assert len(out["pixels"]) == 3


def test_decode_gif_rejects_malformed():
    import pytest

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    pal = bytes((0, 0, 0, 255, 255, 255))
    good = _gif_fixture(2, 1, pal, _lzw_encode(2, [0, 1]), 2)

    # truncated pixel data: stream decodes to fewer than w*h indices
    short = _gif_fixture(4, 4, pal, _lzw_encode(2, [0, 1]), 2)
    with pytest.raises(ValueError, match="truncated GIF"):
        decode_image(short)

    # interlaced is now decoded (test_decode_gif_interlaced); on a 1-row
    # image the pass scatter is the identity, so flipping the flag on the
    # same stream must yield identical pixels
    interlaced = bytearray(good)
    at = good.index(b"\x2c")
    interlaced[at + 9] |= 0x40
    assert decode_image(bytes(interlaced)) == decode_image(good)


def test_decode_gif_local_color_table_and_first_frame():
    """A local color table overrides the global one, and an animated GIF
    (two image blocks + GCE extensions) decodes to its FIRST frame."""
    import struct

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    g_pal = bytes((1, 1, 1, 2, 2, 2))  # global: dull greys
    l_pal = bytes((250, 0, 0, 0, 250, 0))  # local: saturated
    idx1, idx2 = [0, 1, 1, 0], [1, 1, 0, 0]

    def image_block(indices, pal=None):
        packed = 0
        out = b""
        if pal is not None:
            packed = 0x80 | 0  # LCT flag, 2 entries
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, packed)
        if pal is not None:
            out += pal
        data = _lzw_encode(2, indices)
        return out + b"\x02" + bytes([len(data)]) + data + b"\x00"

    gce = b"\x21\xf9\x04\x00\x05\x00\x00\x00"  # graphic control extension
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x80 | 0, 0, 0)
        + g_pal
        + gce
        + image_block(idx1, pal=l_pal)
        + gce
        + image_block(idx2)  # second frame (global palette) must be ignored
        + b"\x3b"
    )
    out = decode_image(gif)
    assert (out["width"], out["height"], out["mode"]) == (2, 2, "RGB")
    assert out["pixels"] == b"".join(l_pal[3 * i : 3 * i + 3] for i in idx1)


def test_decode_png_adam7_interlaced():
    """Adam7: a 9x10 RGB raster (odd dims -> all 7 passes non-empty, with
    ragged pass widths) authored as an interlaced PNG with varied filter
    types per pass must decode to exactly the same pixels as the
    sequential encoding of the same raster."""
    import random
    import struct
    import zlib

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    W, H, CH = 9, 10, 3
    rng = random.Random(23)
    raster = [bytes(rng.randrange(256) for _ in range(W * CH)) for _ in range(H)]

    def filter_rows(rows, ch, ftypes):
        """Apply PNG filters (inverse of reconstruction) to raw rows."""
        stride = len(rows[0]) if rows else 0
        scan = bytearray()
        prev = bytes(stride)
        for row, ftype in zip(rows, ftypes):
            line = bytearray(row)
            if ftype == 1:
                for i in range(stride - 1, ch - 1, -1):
                    line[i] = (line[i] - row[i - ch]) & 0xFF
            elif ftype == 2:
                for i in range(stride):
                    line[i] = (line[i] - prev[i]) & 0xFF
            elif ftype == 3:
                for i in range(stride):
                    a = row[i - ch] if i >= ch else 0
                    line[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
            elif ftype == 4:
                for i in range(stride):
                    a = row[i - ch] if i >= ch else 0
                    b = prev[i]
                    c = prev[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[i] = (line[i] - pred) & 0xFF
            scan += bytes([ftype]) + line
            prev = row
        return scan

    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )
    scan = bytearray()
    for pi, (x0, y0, xs, ys) in enumerate(ADAM7):
        pw = (W - x0 + xs - 1) // xs
        ph = (H - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        rows = []
        for ri in range(ph):
            y = y0 + ri * ys
            rows.append(
                b"".join(
                    raster[y][(x0 + ci * xs) * CH : (x0 + ci * xs + 1) * CH]
                    for ci in range(pw)
                )
            )
        scan += filter_rows(rows, CH, [(pi + r) % 5 for r in range(ph)])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )
    out = decode_image(png)
    assert (out["width"], out["height"], out["mode"]) == (W, H, "RGB")
    assert out["pixels"] == b"".join(raster)

    # and the sequential encoding of the same raster agrees bit-for-bit
    seq = _png_fixture(W, H, 2, raster, [(r * 2) % 5 for r in range(H)])
    assert decode_image(seq)["pixels"] == out["pixels"]


def test_zero_norm_vectors_are_excluded(spark):
    """Cosine is undefined for the zero vector (0.0/0.0 = NaN, and NaN
    sorts FIRST descending in Spark) — a single zero embedding must not
    surface as anyone's NaN-scored nearest neighbor, capture every IVF /
    semantic-dedup cell assignment, or appear as a query. _norms_spark
    excludes it once for every cosine consumer."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.semantic_dedup import semantic_dedup
    from mapreduce_framework_spark.pipeline.similarity import DIM, ann_bruteforce

    def vec(seed):
        return [float((seed * 31 + d) % 7 - 3) for d in range(DIM)]

    rows = [Row(vec_id=i, embedding=vec(i)) for i in range(6)]
    zero = Row(vec_id=6, embedding=[0.0] * DIM)
    base = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    wzero = spark.createDataFrame(
        rows + [zero], "vec_id bigint, embedding array<float>"
    )

    got_base = [tuple(r) for r in ann_bruteforce(base, n_queries=3, top_k=2).collect()]
    got_zero = [tuple(r) for r in ann_bruteforce(wzero, n_queries=3, top_k=2).collect()]
    # the zero vector neither shifts any ranking nor appears on either side
    assert got_zero == got_base
    assert all(r[0] != 6 and r[1] != 6 for r in got_zero)
    for r in got_zero:  # and no NaN leaks into the scores
        assert r[2] == r[2]

    # semantic dedup: the zero vector can be neither a (stride) centroid
    # nor a member of any pair — the drop list is identical with it present
    assert sorted(map(tuple, semantic_dedup(wzero).collect())) == sorted(
        map(tuple, semantic_dedup(base).collect())
    )


def test_null_rows_are_dropped_not_crashes(spark, tmp_path):
    """Dirty-corpus boundary: documents with NULL text (and their NULL
    payloads) must be dropped by media_frame once for all three
    mapInPandas operators — before the round-5 guard, None payloads
    crashed the Arrow-batched featurizer/sampler/resizer workers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_framework_spark.pipeline.multimodal import (
        q37_multimodal_features,
        q76_multimodal_frame_sample,
        q77_multimodal_resize,
    )

    texts = ["alpha beta gam " * 4, None, "dd e " * 10, None]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["src0"] * 4, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    feats = q37_multimodal_features(spark, sf).collect()
    assert [r["doc_id"] for r in feats] == [0, 2]

    frames = q76_multimodal_frame_sample(spark, sf).collect()
    assert {r["doc_id"] for r in frames} == {0, 2}

    resized = q77_multimodal_resize(spark, sf).collect()
    assert [r["doc_id"] for r in resized] == [0, 2]


def test_decode_png_bit_depths():
    """Every spec-legal non-8-bit IHDR combination decodes exactly:
    sub-byte greyscale (1/2/4-bit, MSB-first, scaled by 255/(2^d-1)),
    sub-byte palette indices, and 16-bit channels (high byte kept), with
    filters applied at the spec's whole-byte bpp distance. Illegal
    depth/color combos raise ValueError (corrupt file), not a stub."""
    import random
    import struct
    import zlib

    import pytest as _pytest

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def png(w, h, depth, color, scanlines, plte=None):
        parts = [b"\x89PNG\r\n\x1a\n",
                 chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0))]
        if plte is not None:
            parts.append(chunk(b"PLTE", plte))
        parts.append(chunk(b"IDAT", zlib.compress(bytes(scanlines))))
        parts.append(chunk(b"IEND", b""))
        return b"".join(parts)

    def filt(rows, bpp, ftypes):
        """PNG-filter packed rows (inverse of reconstruction)."""
        stride = len(rows[0])
        scan = bytearray()
        prev = bytes(stride)
        for row, ftype in zip(rows, ftypes):
            line = bytearray(row)
            if ftype == 1:
                for i in range(stride - 1, bpp - 1, -1):
                    line[i] = (line[i] - row[i - bpp]) & 0xFF
            elif ftype == 2:
                for i in range(stride):
                    line[i] = (line[i] - prev[i]) & 0xFF
            elif ftype == 3:
                for i in range(stride):
                    a = row[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
            elif ftype == 4:
                for i in range(stride):
                    a = row[i - bpp] if i >= bpp else 0
                    b, c = prev[i], (prev[i - bpp] if i >= bpp else 0)
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[i] = (line[i] - pred) & 0xFF
            scan += bytes([ftype]) + line
            prev = row
        return scan

    def pack_bits(vals, depth):
        out, acc, nbits = bytearray(), 0, 0
        for v in vals:
            acc = (acc << depth) | v
            nbits += depth
            if nbits == 8:
                out.append(acc)
                acc, nbits = 0, 0
        if nbits:
            out.append(acc << (8 - nbits))
        return bytes(out)

    rng = random.Random(7)

    # sub-byte greyscale: odd width 10 -> ragged final byte at d=1,2,4
    for depth in (1, 2, 4):
        W, H = 10, 5
        mask = (1 << depth) - 1
        vals = [[rng.randrange(mask + 1) for _ in range(W)] for _ in range(H)]
        rows = [pack_bits(r, depth) for r in vals]
        out = decode_image(png(W, H, depth, 0, filt(rows, 1, [(i * 2) % 5 for i in range(H)])))
        assert (out["width"], out["height"], out["mode"]) == (W, H, "L")
        assert out["pixels"] == bytes(v * 255 // mask for r in vals for v in r)

    # sub-byte palette: 4-bit indices into a 6-entry PLTE
    W, H = 7, 4
    plte = bytes(range(18))
    idx = [[rng.randrange(6) for _ in range(W)] for _ in range(H)]
    rows = [pack_bits(r, 4) for r in idx]
    out = decode_image(png(W, H, 4, 3, filt(rows, 1, [0, 1, 2, 4]), plte=plte))
    assert (out["width"], out["height"], out["mode"]) == (W, H, "RGB")
    assert out["pixels"] == b"".join(plte[3 * i : 3 * i + 3] for r in idx for i in r)

    # 16-bit greyscale and RGB: high byte kept, filters at bpp = 2 / 6
    for color, ch in ((0, 1), (2, 3)):
        W, H = 5, 4
        samples = [[rng.randrange(65536) for _ in range(W * ch)] for _ in range(H)]
        rows = [struct.pack(f">{W * ch}H", *r) for r in samples]
        out = decode_image(png(W, H, 16, color, filt(rows, 2 * ch, [(i + 1) % 5 for i in range(H)])))
        assert (out["width"], out["height"]) == (W, H)
        assert out["pixels"] == bytes(s >> 8 for r in samples for s in r)

    # illegal combo: 2-bit RGB is corrupt, not unsupported
    with _pytest.raises(ValueError, match="illegal PNG depth"):
        decode_image(png(2, 2, 2, 2, filt([pack_bits([0, 1], 2)] * 2, 1, [0, 0])))


def test_decode_gif_interlaced():
    """Interlaced GIF: rows stored pass-by-pass (starts 0/4/2/1, steps
    8/8/4/2) must scatter back to display order — an 11-row raster (all
    four passes non-empty, odd height) encoded interlaced decodes to
    exactly the pixels of its sequential encoding."""
    import random

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    W, H = 5, 11
    pal4 = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9))
    rng = random.Random(11)
    raster = [[rng.randrange(4) for _ in range(W)] for _ in range(H)]

    seq = bytes(i for row in raster for i in row)
    inter_rows = [
        raster[y]
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for y in range(start, H, step)
    ]
    inter = bytes(i for row in inter_rows for i in row)

    g_seq = _gif_fixture(W, H, pal4, _lzw_encode(2, seq), 2)
    g_int = _gif_fixture(W, H, pal4, _lzw_encode(2, inter), 2, interlaced=True)
    out_seq = decode_image(g_seq)
    out_int = decode_image(g_int)
    assert out_int == out_seq
    assert out_int["pixels"] == b"".join(
        pal4[3 * i : 3 * i + 3] for row in raster for i in row
    )


def test_decode_bmp_palette_and_32bit():
    """Every uncompressed BMP depth decodes exactly: 1/4/8-bit palette
    (BGRA color table, MSB-first sub-byte indices, biClrUsed honored),
    32-bit BGRX (reserved byte dropped), plus an out-of-range palette
    index raising rather than IndexError-ing in the swizzle."""
    import struct

    import pytest as _pytest

    from mapreduce_framework_spark.pipeline.multimodal import decode_image

    def bmp(width, height, bpp, rows, palette=(), clr_used=None):
        """rows: top-to-bottom list of packed row payloads (pre-padding).
        biClrUsed defaults to the actual table size (0 would declare the
        full 2^bpp table per spec)."""
        if clr_used is None:
            clr_used = len(palette)
        row_size = ((width * bpp + 31) // 32) * 4
        pal = b"".join(bytes((b, g, r, 0)) for (r, g, b) in palette)
        data_offset = 14 + 40 + len(pal)
        pixel_data = b"".join(
            row + b"\x00" * (row_size - len(row)) for row in reversed(rows)
        )
        header = b"BM" + struct.pack(
            "<IHHI", data_offset + len(pixel_data), 0, 0, data_offset
        )
        dib = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, bpp, 0,
            len(pixel_data), 2835, 2835, clr_used, 0,
        )
        return header + dib + pal + pixel_data

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]

    # 8-bit palette, 3x2
    idx = [[0, 1, 2], [3, 2, 0]]
    out = decode_image(bmp(3, 2, 8, [bytes(r) for r in idx], pal))
    assert (out["width"], out["height"], out["mode"]) == (3, 2, "RGB")
    assert out["pixels"] == b"".join(bytes(pal[i]) for r in idx for i in r)

    # 4-bit palette, width 3 (ragged nibble)
    out = decode_image(bmp(3, 2, 4, [bytes([0x01, 0x20]), bytes([0x32, 0x10])], pal))
    assert out["pixels"] == b"".join(bytes(pal[i]) for i in (0, 1, 2, 3, 2, 1))

    # 1-bit palette, width 10 (ragged byte), two colors
    bw = [(0, 0, 0), (255, 255, 255)]
    bits0 = 0b1010101010  # alternating
    bits1 = 0b1111100000
    rows = [bytes([(b >> 2) & 0xFF, (b & 0x3) << 6]) for b in (bits0, bits1)]
    out = decode_image(bmp(10, 2, 1, rows, bw))
    want = [(b >> (9 - i)) & 1 for b in (bits0, bits1) for i in range(10)]
    assert out["pixels"] == b"".join(bytes(bw[v]) for v in want)

    # 32-bit BGRX: reserved byte dropped
    px = [(1, 2, 3), (200, 100, 50)]
    row = b"".join(bytes((b, g, r, 0xEE)) for (r, g, b) in px)
    out = decode_image(bmp(2, 1, 32, [row]))
    assert (out["width"], out["height"]) == (2, 1)
    assert out["pixels"] == b"".join(bytes(p) for p in px)

    # biClrUsed = 2 with an index of 2 -> clear error, not IndexError
    with _pytest.raises(ValueError, match="palette index"):
        decode_image(bmp(1, 1, 8, [bytes([2])], pal, clr_used=2))


def test_decode_audio_ulaw_alaw_via_audioop():
    """The telephony companding codecs decode via stdlib audioop: a
    hand-built RIFF with fmt tag 7 (mu-law) / 6 (A-law) expands to
    exactly audioop's 16-bit reference expansion; an unknown tag raises
    NotImplementedError (not an opaque wave.Error)."""
    import struct

    import pytest as _pytest

    audioop = _pytest.importorskip(
        "audioop", reason="audioop removed from stdlib (3.13+) — env-gated seam"
    )
    from mapreduce_framework_spark.pipeline.multimodal import decode_audio

    lin = struct.pack("<8h", 0, 1000, -1000, 32000, -32000, 7, -7, 0)

    def wav(tag, body, rate=8000, width=1):
        fmt = struct.pack("<HHIIHH", tag, 1, rate, rate * width, width, 8 * width)
        chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(body)) + body
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    for tag, enc, dec in (
        (7, audioop.lin2ulaw, audioop.ulaw2lin),
        (6, audioop.lin2alaw, audioop.alaw2lin),
    ):
        body = enc(lin, 2)
        out = decode_audio(wav(tag, body))
        assert out["n_channels"] == 1
        assert out["sample_width"] == 2  # decoded width
        assert out["sample_rate"] == 8000
        assert out["n_frames"] == 8
        assert out["pcm"] == dec(body, 2)

    with _pytest.raises(NotImplementedError, match="format tag 2"):
        decode_audio(wav(2, b"\x00" * 8))  # ADPCM: honestly env-gated


def test_decoders_raise_only_clean_errors():
    """Malformed media in a dirty corpus must produce ONE catchable,
    classified error family — ValueError (corrupt) or NotImplementedError
    (env-gated codec) — never struct.error / IndexError / EOFError /
    wave.Error leaking out of a Python worker. Fuzzed over magic-prefixed
    garbage and byte-truncations of valid fixtures of every format."""
    import random
    import struct
    import zlib

    from mapreduce_framework_spark.pipeline.multimodal import (
        decode_audio,
        decode_image,
        sample_video_frames,
    )

    rng = random.Random(0)
    seeds = []
    for magic in (b"BM", b"\x89PNG\r\n\x1a\n", b"GIF89a", b"RIFF",
                  b"RIFF\x00\x00\x00\x00WAVE", b"RIFF\x00\x00\x00\x00AVI "):
        for n in (0, 1, 4, 10, 30, 100, 400):
            seeds.append(magic + bytes(rng.randrange(256) for _ in range(n)))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(2 * 13)))
        + chunk(b"IEND", b"")
    )
    gif = _gif_fixture(2, 1, bytes(6), _lzw_encode(2, [0, 1]), 2)
    for valid in (png, gif):
        seeds += [valid[:cut] for cut in range(0, len(valid), 5)]
        for _ in range(40):  # random single-byte corruptions
            b = bytearray(valid)
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
            seeds.append(bytes(b))

    for fn in (decode_image, decode_audio, sample_video_frames):
        for s in seeds:
            try:
                fn(s)
            except (ValueError, NotImplementedError):
                pass  # the classified families


def test_char_shingler_lifecycle_matches_union_form(spark, sf_dir, tmp_path):
    """The shingler seam (round 6): the persisted-index lifecycle under
    ``char_shingles_of`` must equal (a) its own from-scratch form and
    (b) the cross-side restriction of q84's union machinery — banding,
    estimate prune, and exact verification are shingle-agnostic, so the
    char family inherits the whole q91 lifecycle unchanged. A planted
    near-copy in the batch guarantees the match set is non-empty."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import (
        CHAR_JACCARD_THRESHOLD,
        _lsh_verified_pairs,
        char_shingles_of,
        cross_snapshot_matches,
        index_signatures,
        match_batch,
    )

    docs = table(spark, "documents", sf_dir)
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    index_docs = docs.where(F.col("doc_id") < cut)
    planted = index_docs.orderBy("doc_id").limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail-edit")).alias("text"),
    )
    new_docs = (
        docs.where(F.col("doc_id") >= cut).select("doc_id", "text").unionAll(planted)
    )

    idx_path = str(tmp_path / "char_index_sigs")
    index_signatures(index_docs, shingler=char_shingles_of).write.parquet(idx_path)
    idx = spark.read.parquet(idx_path)

    got = sorted(
        (r["id1"], r["id2"], round(r["jaccard"], 12))
        for r in match_batch(
            idx, new_docs, CHAR_JACCARD_THRESHOLD, shingler=char_shingles_of
        ).collect()
    )
    scratch = sorted(
        (r["id1"], r["id2"], round(r["jaccard"], 12))
        for r in cross_snapshot_matches(
            index_docs, new_docs, CHAR_JACCARD_THRESHOLD, shingler=char_shingles_of
        ).collect()
    )
    assert got == scratch and len(got) > 0
    # the planted near-copy is caught against its base
    assert any(id2 >= 1_000_000 for _, id2, _ in got)

    # cross-side restriction of the union (q84) machinery agrees exactly
    union = index_docs.select("doc_id", "text").unionAll(new_docs)
    sh = char_shingles_of(union).localCheckpoint(eager=True)
    union_pairs = sorted(
        (r["id1"], r["id2"], round(r["jaccard"], 12))
        for r in _lsh_verified_pairs(sh, CHAR_JACCARD_THRESHOLD).collect()
        if r["id1"] < cut and (r["id2"] >= cut or r["id2"] >= 1_000_000)
    )
    assert got == union_pairs


def test_riff_declared_size_overflow_is_corrupt():
    """Round-7 sweep of the PNG/GIF/BMP out-of-range pattern across the
    RIFF family: a chunk whose DECLARED size runs past the payload must
    raise the corrupt-ValueError — Python slice clamping previously let a
    truncated WAV data chunk decode silently short (wrong n_frames/pcm),
    and a truncated AVI frame list parse as fewer frames."""
    import struct

    import pytest as _pytest

    from mapreduce_framework_spark.pipeline.multimodal import (
        decode_audio,
        sample_video_frames,
    )

    # WAV: fmt says 8 one-byte frames, data chunk declares 8 but carries 3
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", 8) + b"\x01\x02\x03"  # truncated
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
    with _pytest.raises(ValueError, match="truncated|corrupt WAV"):
        decode_audio(wav)

    # AVI: a frame chunk declaring 64 bytes with 4 present
    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(list_type, body):
        return chunk(b"LIST", list_type + body)

    strf = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, 16, 0, 0, 0, 0)
    strh = b"vids" + b"DIB " + b"\x00" * 48
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"00db" + struct.pack("<I", 64) + b"\x00" * 4)
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body
    with _pytest.raises(ValueError, match="truncated|corrupt AVI"):
        sample_video_frames(avi, every_n=1)


# --- exact admission tier (round 7) ------------------------------------------


def test_exact_tier_matches_duckdb_oracle(spark, sf_dir):
    """exact_fingerprint_index + exact_match_batch against the md5-join
    SQL model on the standard q91 snapshot split (lower half = index,
    upper half = new crawl), with the NULL-behaves-as-empty policy in
    BOTH engines."""
    import os as _os

    import duckdb
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import (
        exact_fingerprint_index,
        exact_match_batch,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    idx_docs = docs.where(F.col("doc_id") < cut)
    # new crawl = upper half + planted EXACT re-fetches of every 50th
    # index doc (the corpus's planted pairs are near-dups, not
    # byte-identical — the exact tier needs true re-fetches to bite)
    batch = docs.where(F.col("doc_id") >= cut).unionAll(
        idx_docs.where(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
    )
    got = sorted(
        (r["id1"], r["id2"])
        for r in exact_match_batch(exact_fingerprint_index(idx_docs), batch).collect()
    )

    con = duckdb.connect()
    path = _os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = sorted(
        (r[0], r[1])
        for r in con.execute(
            """
            WITH cut AS (SELECT (max(doc_id) + 1) // 2 AS c FROM documents),
            i AS (SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents
                  WHERE doc_id < (SELECT c FROM cut)),
            b AS (
              SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents
              WHERE doc_id >= (SELECT c FROM cut)
              UNION ALL
              SELECT doc_id + 1000000, md5(coalesce(text, '')) FROM documents
              WHERE doc_id < (SELECT c FROM cut) AND doc_id % 50 = 0
            )
            SELECT i.doc_id AS id1, b.doc_id AS id2 FROM i JOIN b USING (fp)
            ORDER BY id1, id2
            """
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_exact_tier_null_policy_and_roundtrip(spark, tmp_path):
    """NULL text fingerprints as '' (two NULL docs are exact dups); the
    parquet round-trip of the artifact is match-equivalent."""
    from pyspark.sql import Row

    from mapreduce_framework_spark.pipeline.dedup import (
        exact_fingerprint_index,
        exact_match_batch,
    )

    idx_docs = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="alpha beta")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text=None),          # matches 1 (NULL == empty)
            Row(doc_id=11, text=""),            # matches 1 too
            Row(doc_id=12, text="alpha beta"),  # matches 2
            Row(doc_id=13, text="alpha  beta"), # whitespace differs: no match
        ],
        "doc_id bigint, text string",
    )
    idx = exact_fingerprint_index(idx_docs)
    path = str(tmp_path / "exact_fp_index")
    idx.write.parquet(path)
    back = spark.read.parquet(path)
    direct = sorted(map(tuple, exact_match_batch(idx, batch).collect()))
    via = sorted(map(tuple, exact_match_batch(back, batch).collect()))
    assert direct == via == [(1, 10), (1, 11), (2, 12)]


def test_tiered_cascade_decisions_equal_single_tier(spark, sf_dir):
    """The exact→near-dup cascade (exact tier rejects byte-identical
    copies, only survivors are shingled) must reach the same per-doc
    admission decisions as running match_batch over the whole batch: an
    exact copy has jaccard 1.0, so the near-dup tier would reject it
    anyway — the cascade just pays a fingerprint join instead of
    MinHash for those docs."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.catalog import table
    from mapreduce_framework_spark.pipeline.dedup import (
        JACCARD_THRESHOLD,
        exact_fingerprint_index,
        exact_match_batch,
        index_signatures,
        match_batch,
    )

    docs = table(spark, "documents", sf_dir).select("doc_id", "text")
    cut = docs.agg(((F.max("doc_id") + 1) / 2).cast("long")).collect()[0][0]
    idx_docs = docs.where(F.col("doc_id") < cut).localCheckpoint(eager=True)
    # plant exact re-fetches so the exact tier fires (see oracle test)
    batch = (
        docs.where(F.col("doc_id") >= cut)
        .unionAll(
            idx_docs.where(F.col("doc_id") % 50 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .localCheckpoint(eager=True)
    )

    sigs = index_signatures(idx_docs).localCheckpoint(eager=True)
    single = {
        r["id2"] for r in match_batch(sigs, batch, JACCARD_THRESHOLD).collect()
    }

    exact_hits = exact_match_batch(exact_fingerprint_index(idx_docs), batch)
    exact_rejected = {r["id2"] for r in exact_hits.collect()}
    survivors = batch.join(
        exact_hits.select(F.col("id2").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    near_rejected = {
        r["id2"] for r in match_batch(sigs, survivors, JACCARD_THRESHOLD).collect()
    }
    assert exact_rejected <= single  # jaccard-1 copies are a subset
    assert exact_rejected | near_rejected == single
    assert len(exact_rejected) > 0  # the tier actually fired on planted copies
