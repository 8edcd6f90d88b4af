"""The workloads. Each is a closed loop with one client: the next
unit starts only after the previous one returns, as in every real caller
of these paths (test-mr.sh runs jobs one after another, foreachBatch
starts a micro-batch after the previous one commits, an analyst waits
for each query).

A workload object holds its generated inputs and answers four calls from
the harness (run.py): ``first_scan`` (per Spark context, part of set-up),
``build_once`` (set-up artifacts), ``warm`` (first executions plus the
outside-the-window correctness check) and ``unit`` (one timed unit).
Every call into the program goes through ``tracer.span`` with the span
named ``<module>.<function>`` so the traced run can attribute time and
Spark jobs to layers.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import checks, gen


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def file_set(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


class Unit:
    """Outcome of one unit: input rows consumed, durable bytes written,
    and gate problems (filled by the harness after the timed part)."""

    def __init__(self, kind: str, rows: int, bytes_written: int = 0):
        self.kind = kind
        self.rows = rows
        self.bytes = bytes_written
        self.check = None  # callable returning problems, run outside the unit time


# --------------------------------------------------------------------------
# mr_jobs
# --------------------------------------------------------------------------


class MrJobs:
    """read_whole_files -> run_job -> write_text_output, alternating the wc
    and indexer apps, on Zipf text files (more files than cores)."""

    name = "mr_jobs"
    # Whole wc+indexer pairs are measured, so every run times the same mix.
    cycle = 2
    N_FILES = 8
    # 24,000 words over 1,500 keys: each key is one applyInPandas group, so
    # per-key reducer work is about half of a unit's executor time (a job
    # takes ~2 ms more per extra key at 1,000 to 8,000 keys).
    WORDS_PER_FILE = 3000
    VOCAB = 1500
    ZIPF_S = 1.1

    def __init__(self, work: str, seed: int, tiny: bool = False):
        self.work = work
        self.paths, self.props = gen.make_mr_files(
            os.path.join(work, "mr_in"), seed, self.N_FILES,
            50 if tiny else self.WORDS_PER_FILE, 100 if tiny else self.VOCAB, self.ZIPF_S,
        )
        self.contents = []
        for p in sorted(self.paths):
            with open(p, encoding="ascii") as fh:
                self.contents.append((os.path.basename(p), fh.read()))
        self.words = self.props["words"]
        self.apps = ("wc", "indexer")
        self.want: dict[str, list[str]] = {}
        self.sequential_s: dict[str, float] = {}
        from mapreduce_framework_spark import mr

        self.mr = mr
        for app in self.apps:
            t0 = time.perf_counter()
            self.want[app] = sorted(mr.run_sequential(self.contents, *mr.APPS[app]))
            self.sequential_s[app] = time.perf_counter() - t0
        self.out_root = os.path.join(work, "mr_out")
        self.own_s = 0.0  # the benchmark's own checks during warm-up

    def first_scan(self, spark, tracer) -> None:
        with tracer.span("mr.read_whole_files"):
            self.mr.read_whole_files(spark, self.paths).count()

    def build_once(self, spark, tracer) -> None:
        pass

    def warm(self, spark, tracer) -> dict[str, list[str]]:
        # one job: the first one after start-up pays the Python workers'
        # start and most of the JIT. Later jobs still speed up a little, so
        # a run times a fixed number of them (one cycle) at the same place
        # on that curve.
        u = self._job(spark, tracer, "wc", "warm", observe=False)
        t0 = time.perf_counter()
        problems = {"wc": u.check()}
        self.own_s += time.perf_counter() - t0
        return problems

    def unit(self, spark, tracer, i: int, observe: bool) -> Unit:
        return self._job(spark, tracer, self.apps[i % 2], f"u{i}", observe)

    def _job(self, spark, tracer, app: str, tag: str, observe: bool) -> Unit:
        mr = self.mr
        out = os.path.join(self.out_root, tag)
        obs = None
        if observe:
            from pyspark.sql import Observation

            obs = Observation(f"mr_{tag}")
        with tracer.span("mr.read_whole_files"):
            inputs = mr.read_whole_files(spark, self.paths)
        with tracer.span("mr.run_job"):
            result = mr.run_job(inputs, *mr.APPS[app], observation=obs)
        with tracer.span("mr.write_text_output"):
            mr.write_text_output(result, out)
        u = Unit(app, self.words, dir_stats(out)[1])
        u.observed = obs.get if obs is not None else None
        want = self.want[app]

        def check():
            got = mr.read_text_output(out)
            u.output_lines = len(got)
            shutil.rmtree(out, ignore_errors=True)
            return checks.mr_gate(app, got, want)

        u.check = check
        return u


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

# One query per operator family. q17_rollup (a second aggregation shape
# after q15) and q28_kv_stateful_replay (a second KV fold after q06) are
# left out, and so are q31_minhash_lsh_neardup, q73_simhash_banded_neardup
# and q81_training_corpus: each query costs a run ~3.5 s (its cold check
# execution plus its timed one), which the benchmark's total time budget
# cannot hold on a 4-core host.
OPERATOR_QUERIES = (
    "q06_kv_final_state",
    "q12_join_revenue_per_nation",
    "q15_tpch_q1_shape",
    "q18_window_topk_per_group",
    "q57_asof_join",
    "q97_session_funnel",
)
PIPELINE_QUERIES = (
    "q88_repetition_stats",
    "q92_tfidf_topk",
    "q102_semantic_dedup",
)


class QueryMix:
    """Registry queries over generated read-only tables, each built and run
    into a ``noop`` sink; passes go round-robin over a fixed list whose
    start the seed rotates."""

    name = "query_mix"
    SCALE = 0.01

    def __init__(self, work: str, seed: int, tiny: bool = False):
        from mapreduce_framework_spark.registry import all_queries

        self.sf_dir = os.path.join(work, "tables")
        self.props = gen.make_tables(self.sf_dir, seed, 0.001 if tiny else self.SCALE)
        self.table_rows = self.props["rows"]
        names = list(OPERATOR_QUERIES) + list(PIPELINE_QUERIES)
        k = seed % len(names)
        self.order = names[k:] + names[:k]
        self.cycle = len(self.order)
        self.layer = {q: "operators" for q in OPERATOR_QUERIES}
        self.layer.update({q: "pipeline" for q in PIPELINE_QUERIES})
        self.registry = all_queries()
        self.rows: dict[str, int] = {}
        self.props["queries"] = self.order
        self.own_s = 0.0  # oracle and digest time during warm-up

    def first_scan(self, spark, tracer) -> None:
        from mapreduce_framework_spark import catalog

        from functools import reduce

        from pyspark.sql import functions as F

        # every table's files scanned once, in one job
        with tracer.span("catalog.table"):
            frames = [
                catalog.table(spark, t, self.sf_dir).select(F.lit(1).alias("one"))
                for t in catalog.TABLES
            ]
            reduce(lambda a, b: a.unionAll(b), frames).count()

    def build_once(self, spark, tracer) -> None:
        pass

    def warm(self, spark, tracer) -> dict[str, list[str]]:
        """One pass with results collected and compared with each query's
        DuckDB oracle (the oracle time is kept out of set-up)."""
        from mapreduce_framework_spark import catalog

        con = checks.duckdb_conn(self.sf_dir, catalog.TABLES)
        problems = {}
        try:
            for q in self.order:
                spec = self.registry[q]
                with tracer.span(f"{self.layer[q]}.{q}.build"):
                    df = spec.builder(spark, self.sf_dir)
                with tracer.span(f"{self.layer[q]}.{q}.exec"):
                    rows = [tuple(r) for r in df.collect()]
                t0 = time.perf_counter()
                files = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
                self.rows[q] = sum(n for t, n in self.table_rows.items() if t in files)
                got = checks.table_digest(rows, df.columns)
                want = checks.oracle_digest(con, spec.oracle)
                problems[q] = checks.query_gate(q, got, want)
                self.own_s += time.perf_counter() - t0
        finally:
            con.close()
        return problems

    def unit(self, spark, tracer, i: int, observe: bool) -> Unit:
        q = self.order[i % len(self.order)]
        with tracer.span(f"{self.layer[q]}.{q}.build"):
            df = self.registry[q].builder(spark, self.sf_dir)
        with tracer.span(f"{self.layer[q]}.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return Unit(q, self.rows[q])


# --------------------------------------------------------------------------
# ingest_cascade
# --------------------------------------------------------------------------

ROOTS = ("fp", "sig", "sem", "ph", "dec")
TIERS = ("quality", "exact", "media_dup", "near_dup", "semantic", "contaminated")


class CountingManifestBackend:
    """Wraps the installed manifest backend and counts commits (installed
    through storage.set_manifest_backend, the program's public seam)."""

    def __init__(self, inner):
        self.inner = inner
        self.commits = 0

    def read(self, path):
        return self.inner.read(path)

    def commit(self, path, obj, expected_epoch=None):
        self.inner.commit(path, obj, expected_epoch)
        self.commits += 1

    def lock(self, path, timeout_s=30.0):
        return self.inner.lock(path, timeout_s)


class IngestCascade:
    """Micro-batches of (doc_id, text, embedding) through the six-tier
    admission sink (quality -> exact -> media -> MinHash -> semantic ->
    decontamination) against indexes that grow with every batch.

    ``six_tier=False`` uses the MinHash near-dup sink instead (one tier,
    no set-up artifacts; a batch costs about a third of a six-tier one):
    the same streaming.ingest publish path and storage manifests, deltas
    and compaction, cheap enough to ride along in query_ingest_mix."""

    name = "ingest_cascade"
    cycle = 1
    BATCH = 100
    N_BATCHES = 10
    # every batch after the seed folds the previous delta into the
    # compacted base, so compaction runs in every timed batch (the default
    # of 64 would never fire in a run of a few batches)
    COMPACT_EVERY = 1
    CODEBOOK_K = 8
    CODEBOOK_ITERS = 2
    FIT_BATCHES = 3

    def __init__(self, work: str, seed: int, tiny: bool = False, six_tier: bool = True):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.work = work
        self.six_tier = six_tier
        # the tier a byte-identical re-fetch of an admitted doc must be rejected at
        self.copy_tier = "exact" if six_tier else "near_dup"
        self.batches, self.bench, self.props = gen.make_ingest(
            seed, self.N_BATCHES, 20 if tiny else self.BATCH
        )
        self.props["compact_every"] = self.COMPACT_EVERY
        self.props["sink"] = "six-tier cascade" if six_tier else "MinHash near-dup"
        self.in_dir = os.path.join(work, "ingest_in")
        os.makedirs(self.in_dir, exist_ok=True)
        schema = pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()), ("embedding", pa.list_(pa.float64()))]
        )
        for b, rows in enumerate(self.batches):
            cols = list(zip(*[r[:3] for r in rows]))
            pq.write_table(
                pa.table([pa.array(c, t) for c, t in zip(cols, schema.types)], schema=schema),
                os.path.join(self.in_dir, f"batch-{b:04d}.parquet"),
            )
        self.kinds = {r[0]: (b, r[3], r[4]) for b, rows in enumerate(self.batches) for r in rows}
        self.root = os.path.join(work, "ingest_roots")
        self.roots = {k: os.path.join(self.root, k) for k in ROOTS}
        self.next_batch = 0
        self.fn = None
        self.counter = None
        self.batch_log: list[dict] = []
        self.own_s = 0.0
        self.ingest = self  # where the harness finds the cascade on any workload that runs it

    def batch_df(self, spark, b: int):
        return spark.read.parquet(os.path.join(self.in_dir, f"batch-{b:04d}.parquet"))

    def first_scan(self, spark, tracer) -> None:
        with tracer.span("catalog.read_batch"):
            self.batch_df(spark, 0).count()

    def build_once(self, spark, tracer) -> None:
        from mapreduce_framework_spark import storage
        from mapreduce_framework_spark.pipeline.codebook import fit_codebook
        from mapreduce_framework_spark.pipeline.dedup import JACCARD_THRESHOLD
        from mapreduce_framework_spark.pipeline.span_dedup import span_index
        from mapreduce_framework_spark.streaming.ingest import (
            make_full_cascade_ingest_batch_fn,
            make_ingest_batch_fn,
        )

        self.counter = CountingManifestBackend(None)
        self.counter.inner = storage.set_manifest_backend(self.counter)
        r = self.roots
        if not self.six_tier:
            with tracer.span("streaming.ingest.make_ingest_batch_fn"):
                self.fn = make_ingest_batch_fn(
                    spark, r["sig"], r["dec"], JACCARD_THRESHOLD, compact_every=self.COMPACT_EVERY
                )
            return
        fit = [(r[0], r[2]) for rows in self.batches[: self.FIT_BATCHES] for r in rows]
        with tracer.span("pipeline.codebook.fit_codebook"):
            embs = spark.createDataFrame(fit, "vec_id bigint, embedding array<double>")
            self.centroids = fit_codebook(
                embs, k=self.CODEBOOK_K, iters=self.CODEBOOK_ITERS
            ).localCheckpoint(eager=True)
        with tracer.span("pipeline.span_dedup.span_index"):
            self.bench_index = span_index(
                spark.createDataFrame(self.bench, "doc_id bigint, text string")
            ).localCheckpoint(eager=True)
        with tracer.span("streaming.ingest.make_full_cascade_ingest_batch_fn"):
            self.fn = make_full_cascade_ingest_batch_fn(
                spark, r["fp"], r["sig"], r["sem"], r["dec"], self.centroids,
                JACCARD_THRESHOLD, compact_every=self.COMPACT_EVERY,
                benchmark_span_index=self.bench_index, quality_gate=True,
                phash_index_root=r["ph"],
            )

    def close(self) -> None:
        if self.counter is not None:
            from mapreduce_framework_spark import storage

            storage.set_manifest_backend(self.counter.inner)

    def _apply(self, spark, tracer) -> Unit:
        b = self.next_batch
        if b >= len(self.batches):
            raise RuntimeError(f"ingest_cascade ran out of generated batches ({b})")
        self.next_batch += 1
        before = file_set(self.root)
        commits0 = self.counter.commits
        compacted0 = self._compacted_through()
        with tracer.span("streaming.ingest.apply_batch"):
            self.fn(self.batch_df(spark, b), b)
        after = file_set(self.root)
        new = {p: s for p, s in after.items() if before.get(p) != s}
        u = Unit("seed" if b == 0 else "batch", len(self.batches[b]), sum(new.values()))
        self.batch_log.append(
            {
                "batch": b,
                "files": len(new),
                "bytes": u.bytes,
                "manifest_commits": self.counter.commits - commits0,
                "compacted": self._compacted_through() != compacted0,
            }
        )
        u.batch = b
        return u

    def _compacted_through(self) -> int:
        from mapreduce_framework_spark import storage

        man = storage.read_index_manifest(self.roots["dec"])
        return -1 if man is None else man["compacted_through"]

    def warm(self, spark, tracer) -> dict[str, list[str]]:
        t0 = time.perf_counter()
        self._apply(spark, tracer)
        self.seed_batch_s = time.perf_counter() - t0
        return {}  # the seed batch is gated with the rest in final_check

    def unit(self, spark, tracer, i: int, observe: bool) -> Unit:
        return self._apply(spark, tracer)

    def visible(self, spark, root: str):
        """The committed index of ``root`` (every batch so far)."""
        from mapreduce_framework_spark import storage

        man = storage.read_index_manifest(self.roots[root])
        paths = storage.manifest_visible_paths(self.roots[root], man)
        return spark.read.option("recursiveFileLookup", "true").parquet(*paths)

    def decisions(self, spark) -> list[tuple]:
        """(doc_id, admitted, matched_id, tier, score) per decided doc; the
        MinHash sink logs no tier, so its rejections read 'near_dup'."""
        from pyspark.sql import functions as F

        dec = self.visible(spark, "dec")
        if not self.six_tier:
            dec = dec.select(
                "doc_id", "admitted", "matched_id",
                F.when(~F.col("admitted"), F.lit("near_dup")).alias("tier"),
                F.col("jaccard").alias("score"),
            )
        return [tuple(r) for r in dec.select("doc_id", "admitted", "matched_id", "tier", "score").collect()]

    def final_check(self, spark) -> tuple[dict[int, list[str]], dict]:
        """Gates over the whole decisions log: problems per batch, plus the
        decisions hash of the seed batch and the first timed batch."""
        rows = self.decisions(spark)
        done = list(range(self.next_batch))
        n_docs = sum(len(self.batches[b]) for b in done)
        by_doc = {r[0]: (bool(r[1]), r[3]) for r in rows}
        problems: dict[int, list[str]] = {}
        for b in done:
            p = checks.ingest_gate([b], by_doc, self.kinds, self.copy_tier)
            if p:
                problems[b] = p
        p = checks.decisions_count_gate(len(rows), n_docs)
        if p:
            problems.setdefault(done[-1], []).extend(p)
        first = [r for r in rows if self.kinds.get(r[0], (None,))[0] in (0, 1)]
        info = {"decisions_hash_b0_b1": checks.decisions_hash(first), "decisions": len(rows)}
        return problems, info


# --------------------------------------------------------------------------
# query_ingest_mix
# --------------------------------------------------------------------------


class QueryIngestMix(QueryMix):
    """One pass of the query_mix list followed by one micro-batch through
    the MinHash near-dup ingest sink, in one process: bulk read-only corpus
    processing, then the incremental path that calls the same pipeline
    dedup functions with writes beside reads (streaming.ingest, storage
    manifests, deltas, compaction). Both share one Spark start-up, which
    is what lets the ingest path be measured within the benchmark's time
    budget."""

    name = "query_ingest_mix"

    def __init__(self, work: str, seed: int, tiny: bool = False):
        super().__init__(work, seed, tiny)
        self.ingest = IngestCascade(work, seed, tiny, six_tier=False)
        self.cycle = len(self.order) + 1
        self.props = {"queries": self.props, "ingest": self.ingest.props}

    def first_scan(self, spark, tracer) -> None:
        super().first_scan(spark, tracer)
        self.ingest.first_scan(spark, tracer)

    def build_once(self, spark, tracer) -> None:
        self.ingest.build_once(spark, tracer)

    def warm(self, spark, tracer) -> dict[str, list[str]]:
        problems = super().warm(spark, tracer)
        self.ingest.warm(spark, tracer)
        return problems

    def unit(self, spark, tracer, i: int, observe: bool) -> Unit:
        if i % self.cycle == len(self.order):
            return self.ingest.unit(spark, tracer, i, observe)
        return super().unit(spark, tracer, i - i // self.cycle, observe)


BY_NAME = {w.name: w for w in (MrJobs, QueryMix, IngestCascade, QueryIngestMix)}
