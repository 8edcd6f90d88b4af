"""Benchmark command: one workload, one seed, one result.

    python3 perfbench/run.py --workload mr_jobs --seed 1 --seconds 5 --trace 0

Runs from the root of a source checkout. Inputs are generated from
``--seed`` under ``.perfbench/work/`` (removed at exit); the traced run
keeps its span/event-log report under ``.perfbench/results/``. The last
line of standard output is the JSON result; the lines before it are a
readable record (host, input properties, metrics with units, and for the
traced run the per-layer table). The exit code is 0 only if every
correctness gate passed.

End-to-end metrics come from the untraced run (``--trace 0``). The traced
run (``--trace 1``) turns on Spark's event log, tags every call into the
program with a span, and reports the per-layer metrics named in
BENCHMARK.json.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# A run stops starting units after this many seconds from process start,
# which keeps every run inside the 180 s a run may take.
HARD_STOP_S = 130.0
DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_parents() -> dict[int, int]:
    """pid -> parent pid for every process, from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                    out[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    kids: dict[int, list[int]] = {}
    for p, pp in process_parents().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_mb() -> float:
    """RSS of this process and all its descendants (driver JVM, Python
    workers), from /proc."""
    total_kb = 0
    for p in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{p}/status", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def latency_stats(recs: list[dict]) -> tuple[float, float, str]:
    """(p50, tail, tail label) over the units of a run.

    Each unit kind (query, MR app, batch) first gets its median wall time,
    so the figures do not depend on how many whole passes fit in the
    window. p50 is the median over kinds. The tail is the highest of
    p99/p95/p90/p75 over all units that has at least ten units beyond it;
    runs here hold far fewer units, and then the slowest kind's median is
    reported."""
    by_kind: dict[str, list[float]] = {}
    for r in recs:
        by_kind.setdefault(r["kind"], []).append(r["wall_s"])
    per_kind = [statistics.median(v) for v in by_kind.values()]
    walls = [r["wall_s"] for r in recs]
    for q in (99, 95, 90, 75):
        if len(walls) * (100 - q) / 100 >= 10:
            tail = statistics.quantiles(walls, n=100, method="inclusive")[q - 1]
            return statistics.median(per_kind), tail, f"p{q} of {len(walls)} units"
    return statistics.median(per_kind), max(per_kind), f"slowest of {len(per_kind)} kinds, {len(walls)} units"


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "ratio" if name.endswith("_frac") else "count"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


class Harness:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.rss_peak = 0.0
        self.setup_parts: dict[str, float] = {}
        self.log: list[str] = []

    # ---- Spark contexts ---------------------------------------------------

    def conf(self, event_log: bool) -> dict:
        w = self.work
        c = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(w, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(w, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={os.path.join(w, 'derby')}",
        }
        if event_log:
            os.makedirs(os.path.join(w, "eventlog"), exist_ok=True)
            c["spark.eventLog.enabled"] = "true"
            c["spark.eventLog.dir"] = "file://" + os.path.join(w, "eventlog")
            # one plain JSON-lines file, which trace.parse_event_log reads
            c["spark.eventLog.rolling.enabled"] = "false"
            c["spark.eventLog.compress"] = "false"
        return c

    def setup_context(self, wl, tracer, event_log: bool) -> None:
        from mapreduce_framework_spark.deploy import ensure_package_on_executors
        from mapreduce_framework_spark.session import get_spark

        n = self.args.cores
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{wl.name}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=self.conf(event_log),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        tracer.sc = self.spark.sparkContext
        t1 = time.perf_counter()
        ensure_package_on_executors(self.spark)
        t2 = time.perf_counter()
        wl.first_scan(self.spark, tracer)
        t3 = time.perf_counter()
        self.setup_parts = {"get_spark_s": t1 - t0, "ensure_package_s": t2 - t1, "first_scan_s": t3 - t2}

    def shutdown(self) -> None:
        """Stop the context and the gateway JVM, and wait for every child
        process to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                continue
            try:
                os.waitpid(pid, 0)
            except ChildProcessError:  # a grandchild: not ours to reap
                pass

    # ---- timed window -----------------------------------------------------

    def window(self, wl, tracer, alternate: bool) -> list[dict]:
        """Whole cycles of units until ``--seconds`` have passed.

        ``alternate`` (traced run): at least two cycles, with tracing on
        for every other unit and the pattern flipped in the next cycle, so
        each unit kind runs both traced and untraced at neighbouring times
        and the tracing overhead can be read off without the warm-up drift
        between one pass and the next."""
        recs: list[dict] = []
        t0 = time.perf_counter()
        i = 0
        min_units = 2 * wl.cycle if alternate else 0
        while True:
            if alternate:
                tracer.enabled = (i % wl.cycle + i // wl.cycle) % 2 == 1
            done_cycle = recs and len(recs) % wl.cycle == 0
            if done_cycle and time.perf_counter() - t0 >= self.args.seconds and len(recs) >= min_units:
                break
            if time.time() - T_START > HARD_STOP_S:
                self.log.append(f"hard stop after {len(recs)} units")
                break
            self.rss_peak = max(self.rss_peak, tree_rss_mb())
            u0 = time.perf_counter()
            rec = {"i": i, "traced": tracer.enabled}
            try:
                with tracer.unit_span(i, f"unit.{wl.name}"):
                    u = wl.unit(self.spark, tracer, i, observe=tracer.enabled)
                rec["wall_s"] = time.perf_counter() - u0
                rec.update(kind=u.kind, rows=u.rows, bytes=u.bytes, obj=u)
                rec["problems"] = u.check() if u.check else []
            except Exception:  # a unit that raises counts as failed; the run goes on
                rec["wall_s"] = time.perf_counter() - u0
                rec.update(kind="error", rows=0, bytes=0, obj=None)
                rec["problems"] = [traceback.format_exc(limit=3)]
            recs.append(rec)
            i += 1
        self.rss_peak = max(self.rss_peak, tree_rss_mb())
        return recs


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_record(args, spark_version: str | None) -> dict:
    return {
        "nproc": nproc(),
        "master": f"local[{args.cores}]",
        "loadavg_start": os.getloadavg(),
        "python": sys.version.split()[0],
        "spark": spark_version,
    }


def steal_frac(start: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since ``start``
    (noise from neighbours shows here)."""
    d = [b - a for a, b in zip(start, cpu_times())]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def run(args, work: str) -> tuple[dict, dict, list[str]]:
    from perfbench import trace, workloads

    import pyspark

    import mapreduce_framework_spark.mr  # noqa: F401
    import mapreduce_framework_spark.registry  # noqa: F401

    imports_s = time.time() - T_START
    t_gen = time.perf_counter()
    wl = workloads.BY_NAME[args.workload](work, args.seed, tiny=args.tiny)
    gen_s = time.perf_counter() - t_gen
    ic = getattr(wl, "ingest", None)

    cpu0 = cpu_times()
    h = Harness(args, work)
    tracer = trace.Tracer()
    problems: list[str] = []
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host_record(args, pyspark.__version__),
        "inputs": wl.props,
        "input_gen_s": gen_s,
    }
    try:
        tracer.enabled = bool(args.trace)
        h.setup_context(wl, tracer, event_log=bool(args.trace))
        t0 = time.perf_counter()
        wl.build_once(h.spark, tracer)
        build_once_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        warm_problems = wl.warm(h.spark, tracer)
        warm_s = time.perf_counter() - t0 - wl.own_s
        record["warmup_s"] = warm_s
        # process start to the first timed unit, less the benchmark's own
        # work (input generation, oracles, output checks)
        setup_s = time.time() - T_START - gen_s - wl.own_s
        record["setup"] = {
            "setup_s": setup_s,
            "imports_s": imports_s,
            **h.setup_parts,
            "build_once_s": build_once_s,
            "warmup_s": warm_s,
            "own_s": wl.own_s,
        }

        tracer.enabled = False
        window = h.window(wl, tracer, alternate=bool(args.trace))
        recs = [r for r in window if not r["traced"]]
        traced = [r for r in window if r["traced"]]
        tracer.enabled = bool(args.trace)
        extras = per_layer_extras(h, wl, tracer) if args.trace else {}

        if ic is not None:
            final_problems, info = ic.final_check(h.spark)
            record["ingest"] = {**info, "batches": ic.batch_log, "seed_batch_s": ic.seed_batch_s}
            for r in recs + traced:
                r["problems"] += final_problems.pop(getattr(r["obj"], "batch", -1), [])
            for p in final_problems.values():  # the seed batch
                problems += p
        record["host"]["loadavg_end"] = os.getloadavg()
        record["host"]["cpu_steal_frac"] = steal_frac(cpu0)
    finally:
        if ic is not None:
            ic.close()
        h.shutdown()

    all_recs = recs + traced
    # a kind that failed its warm-up check fails every unit of it
    failed_kinds = {k for k, ps in warm_problems.items() if ps}
    for ps in warm_problems.values():
        problems += ps
    for r in all_recs:
        problems += r["problems"]
        r["failed"] = bool(r["problems"]) or r["kind"] in failed_kinds
    ok = [r for r in recs if not r["failed"]]
    p50, tail, tail_kind = latency_stats(ok) if ok else (float("nan"),) * 2 + ("none",)
    rows = sum(r["rows"] for r in ok)
    busy = sum(r["wall_s"] for r in ok)
    # durable bytes over the input rows of the units that wrote them (a
    # query into the noop sink writes nothing and is left out of both)
    written = sum(r["bytes"] for r in ok)
    written_rows = sum(r["rows"] for r in ok if r["bytes"])
    e2e = {
        "setup_s": setup_s,
        "unit_p50_s": p50,
        "unit_tail_s": tail,
        "rows_per_s": rows / busy if busy else 0.0,
        "peak_rss_mb": h.rss_peak,
        "disk_bytes_per_row": written / written_rows if written_rows else 0.0,
    }
    record["units"] = {
        "attempted": len(recs),
        "failed": len(recs) - len(ok),
        "tail": tail_kind,
        "kinds": [r["kind"] for r in recs],
        "walls_s": [round(r["wall_s"], 4) for r in recs],
        "rows": rows,
        "bytes": written,
    }
    n_failed = sum(r["failed"] for r in all_recs)
    record["failed_frac"] = n_failed / max(len(all_recs), 1)
    layers = {}
    if args.trace:
        layers = trace_metrics(h, wl, tracer, recs, traced, extras, record, work)
    record["log"] = h.log
    return record, {"e2e": e2e, "layers": layers, "attempted": len(all_recs),
                    "failed": n_failed}, problems


def per_layer_extras(h, wl, tracer) -> dict:
    """Traced-run extras: layer functions called on their own."""
    from perfbench import workloads

    out: dict = {}
    spark = h.spark
    if isinstance(wl, workloads.MrJobs):
        out["mr.sequential_s"] = sum(wl.sequential_s.values()) / len(wl.sequential_s)
    ic = getattr(wl, "ingest", None)
    if ic is not None:
        out.update(tier_calls(spark, ic, tracer))
        from mapreduce_framework_spark.streaming.ingest import admission_report

        with tracer.span("streaming.ingest.admission_report"):
            rep = {r["outcome"]: r["n_docs"] for r in admission_report(spark, ic.roots["dec"]).collect()}
        out["admission"] = rep
    return out


def tier_calls(spark, wl, tracer) -> dict:
    """Each cascade tier's public function, on its own, against the next
    (not yet ingested) batch and the indexes as they stand."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.pipeline.dedup import exact_match_batch, match_batch
    from mapreduce_framework_spark.pipeline.multimodal_dedup import phash_match_batch
    from mapreduce_framework_spark.pipeline.quality import quality_rejects
    from mapreduce_framework_spark.pipeline.semantic_dedup import semantic_match_batch
    from mapreduce_framework_spark.pipeline.span_dedup import span_contamination

    b = min(wl.next_batch, len(wl.batches) - 1)
    batch = wl.batch_df(spark, b).localCheckpoint(eager=True)
    sem_side = batch.select(F.col("doc_id").alias("vec_id"), "embedding")
    calls = {
        "pipeline.quality.quality_rejects": lambda: quality_rejects(batch),
        "pipeline.dedup.exact_match_batch": lambda: exact_match_batch(wl.visible(spark, "fp"), batch),
        "pipeline.multimodal_dedup.phash_match_batch": lambda: phash_match_batch(
            wl.visible(spark, "ph"), batch.select("doc_id", "text")
        ),
        "pipeline.dedup.match_batch": lambda: match_batch(wl.visible(spark, "sig"), batch),
        "pipeline.semantic_dedup.semantic_match_batch": lambda: semantic_match_batch(
            wl.visible(spark, "sem"), sem_side, wl.centroids
        ),
        "pipeline.span_dedup.span_contamination": lambda: span_contamination(
            wl.bench_index, batch.select("doc_id", "text")
        ),
    }
    if not wl.six_tier:
        calls = {"pipeline.dedup.match_batch": calls["pipeline.dedup.match_batch"]}
    out = {}
    for name, call in calls.items():
        t0 = time.perf_counter()
        with tracer.span(name):
            call().write.format("noop").mode("overwrite").save()
        out[name + "_s"] = time.perf_counter() - t0
    return out


def spans_by_unit_of(spans) -> dict[int, list]:
    out: dict[int, list] = {}
    for sp in spans:
        if sp.unit is not None:
            out.setdefault(sp.unit, []).append(sp)
    return out


def trace_metrics(h, wl, tracer, recs, traced, extras, record, work) -> dict:
    """Every per-layer metric of BENCHMARK.json; metrics a workload does
    not exercise read 0 and get a reason in the report."""
    from perfbench import trace, workloads

    spec = load_spec()
    m: dict[str, float] = {}
    reasons: dict[str, str] = {}
    med = statistics.median

    def med_or_zero(vals):
        return med(vals) if vals else 0.0

    parts = h.setup_parts
    m["session.get_spark_s"] = parts["get_spark_s"]
    m["deploy.ensure_package_s"] = parts["ensure_package_s"]
    m["catalog.first_scan_s"] = parts["first_scan_s"]
    m["warmup_s"] = record["warmup_s"]
    m["failed_frac"] = record["failed_frac"]

    jobs, stages = trace.parse_event_log(os.path.join(work, "eventlog"))
    trace.attribute_jobs(jobs, tracer.spans)
    bd = trace.unit_breakdown(tracer.spans, jobs)
    per_unit = trace.unit_spark_totals(tracer.spans, jobs, stages)
    n_units = max(len(bd["units"]), 1)

    def per_unit_mean(key):
        return sum(u[key] for u in per_unit) / n_units

    for key, name in [
        ("jobs", "spark.jobs_per_unit"), ("stages", "spark.stages_per_unit"),
        ("tasks", "spark.tasks_per_unit"), ("scheduler_delay_s", "spark.scheduler_delay_s"),
        ("executor_run_s", "spark.executor_run_s"), ("executor_cpu_s", "spark.executor_cpu_s"),
        ("gc_s", "spark.gc_s"), ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
        ("shuffle_read_bytes", "spark.shuffle_read_bytes"), ("spill_bytes", "spark.spill_bytes"),
    ]:
        m[name] = per_unit_mean(key)
    m["driver.gap_s"] = med_or_zero([u["driver_gap_s"] for u in bd["units"]])
    m["trace.residual_s"] = bd["residual_s"]

    # plan construction and execution per unit, whatever the workload
    build_names = ("mr.read_whole_files", "mr.run_job")
    exec_names = ("mr.write_text_output", "streaming.ingest.apply_batch")
    build, execs = [], []
    for sps in spans_by_unit_of(tracer.spans).values():
        build.append(sum(sp.end - sp.start for sp in sps
                         if sp.name.endswith(".build") or sp.name in build_names))
        execs.append(sum(sp.end - sp.start for sp in sps
                         if sp.name.endswith(".exec") or sp.name in exec_names))
    m["unit.build_s"] = med_or_zero(build)
    m["unit.exec_s"] = med_or_zero(execs)

    # tracing overhead: traced vs untraced units of the same kind
    def by_kind(rs):
        out: dict[str, list[float]] = {}
        for r in rs:
            if not r["failed"]:
                out.setdefault(r["kind"], []).append(r["wall_s"])
        return out

    u_k, t_k = by_kind(recs), by_kind(traced)
    ratios = [med(t_k[k]) / med(u_k[k]) for k in t_k if k in u_k]
    m["trace.overhead_frac"] = med(ratios) - 1.0 if ratios else 0.0
    if not ratios:
        reasons["trace.overhead_frac"] = "no unit kind ran both traced and untraced"

    stats = trace.span_stats(tracer.spans)
    spans_by_unit = spans_by_unit_of(tracer.spans)

    # --- mr
    mr_names = [
        "mr.read_whole_files_s", "mr.wc.job_s", "mr.indexer.job_s", "mr.map_stage_s",
        "mr.reduce_stage_s", "mr.sink_stage_s", "mr.map_output_records", "mr.distinct_keys",
        "mr.shuffle_write_bytes", "mr.output_bytes", "mr.sequential_s",
    ]
    if isinstance(wl, workloads.MrJobs):
        kinds = by_kind(traced)
        m["mr.read_whole_files_s"] = m["catalog.first_scan_s"]
        m["mr.wc.job_s"] = med_or_zero(kinds.get("wc", []))
        m["mr.indexer.job_s"] = med_or_zero(kinds.get("indexer", []))
        cls = {"map": [], "reduce": [], "sink": []}
        for u in per_unit:
            acc = {"map": 0.0, "reduce": 0.0, "sink": 0.0}
            for st in u["stage_objs"]:
                scope = " ".join(st.scopes)
                if "FlatMapGroupsInPandas" in scope:
                    acc["reduce"] += st.run_s
                elif "MapInPandas" in scope or "MapInArrow" in scope:
                    acc["map"] += st.run_s
                else:
                    acc["sink"] += st.run_s
            for k in acc:
                cls[k].append(acc[k])
        m["mr.map_stage_s"] = med_or_zero(cls["map"])
        m["mr.reduce_stage_s"] = med_or_zero(cls["reduce"])
        m["mr.sink_stage_s"] = med_or_zero(cls["sink"])
        objs = [r["obj"] for r in traced if r["obj"] is not None]
        m["mr.map_output_records"] = med_or_zero(
            [o.observed["map_output_records"] for o in objs if o.observed]
        )
        m["mr.distinct_keys"] = med_or_zero([o.output_lines for o in objs if hasattr(o, "output_lines")])
        m["mr.shuffle_write_bytes"] = med_or_zero([u["shuffle_write_bytes"] for u in per_unit])
        m["mr.output_bytes"] = med_or_zero([o.bytes for o in objs])
        m["mr.sequential_s"] = extras["mr.sequential_s"]
    else:
        for n in mr_names:
            m[n] = 0.0
            reasons[n] = f"mr.runner is not called on {wl.name}"

    # --- operators / pipeline queries
    for q in workloads.OPERATOR_QUERIES + workloads.PIPELINE_QUERIES:
        layer = "operators" if q in workloads.OPERATOR_QUERIES else "pipeline"
        for part in ("build", "exec"):
            name = f"{layer}.{q}.{part}_s"
            if q in getattr(wl, "order", ()):
                vals = [
                    sp.end - sp.start
                    for u, sps in spans_by_unit.items()
                    for sp in sps
                    if sp.name == f"{layer}.{q}.{part}"
                ]
                m[name] = med_or_zero(vals)
            else:
                m[name] = 0.0
                reasons[name] = f"{q} is not run on {wl.name}"

    # --- ingest: tiers, streaming, storage
    tier_names = [
        "pipeline.quality.quality_rejects_s", "pipeline.dedup.exact_match_batch_s",
        "pipeline.multimodal_dedup.phash_match_batch_s", "pipeline.dedup.match_batch_s",
        "pipeline.semantic_dedup.semantic_match_batch_s", "pipeline.span_dedup.span_contamination_s",
        "pipeline.codebook.fit_codebook_s", "pipeline.span_dedup.span_index_s",
        "ingest.seed_batch_s", "ingest.compaction_batch_s", "ingest.admitted_frac",
        "storage.files_per_batch", "storage.bytes_per_batch", "storage.manifest_commits",
    ] + [f"ingest.rejected.{t}" for t in workloads.TIERS] + [
        f"storage.{r}.bytes" for r in workloads.ROOTS
    ]
    ic = getattr(wl, "ingest", None)
    if ic is not None:
        for k, v in extras.items():
            if k.endswith("_s"):
                m[k] = v
        m["pipeline.codebook.fit_codebook_s"] = stats.get("pipeline.codebook.fit_codebook", 0.0)
        m["pipeline.span_dedup.span_index_s"] = stats.get("pipeline.span_dedup.span_index", 0.0)
        m["ingest.seed_batch_s"] = ic.seed_batch_s
        timed = {r["obj"].batch: r["wall_s"] for r in recs + traced if hasattr(r["obj"], "batch")}
        comp = [timed[b["batch"]] for b in ic.batch_log if b["compacted"] and b["batch"] in timed]
        m["ingest.compaction_batch_s"] = med_or_zero(comp)
        if not comp:
            reasons["ingest.compaction_batch_s"] = "compaction did not fire in a timed batch"
        rep = dict(extras["admission"])
        if not ic.six_tier:  # the single-tier log rolls its rejections up as 'rejected'
            rep["near_dup"] = rep.pop("rejected", 0)
        total = sum(rep.values()) or 1
        for t in workloads.TIERS:
            m[f"ingest.rejected.{t}"] = float(rep.get(t, 0))
        m["ingest.admitted_frac"] = rep.get("admitted", 0) / total
        logs = [b for b in ic.batch_log if b["batch"] in timed]
        m["storage.files_per_batch"] = med_or_zero([b["files"] for b in logs])
        m["storage.bytes_per_batch"] = med_or_zero([b["bytes"] for b in logs])
        m["storage.manifest_commits"] = med_or_zero([b["manifest_commits"] for b in logs])
        for r in workloads.ROOTS:
            m[f"storage.{r}.bytes"] = float(workloads.dir_stats(ic.roots[r])[1])
        if not ic.six_tier:
            for n in tier_names:
                if n not in m or (n.startswith("pipeline.") and n not in extras):
                    m.setdefault(n, 0.0)
                    reasons[n] = "not a tier of the MinHash near-dup sink"
    else:
        for n in tier_names:
            m[n] = 0.0
            reasons[n] = f"the admission cascade is not run on {wl.name}"

    for name, v in (("spark.gc_s", m["spark.gc_s"]), ("spark.spill_bytes", m["spark.spill_bytes"])):
        if v == 0.0:
            reasons.setdefault(name, "Spark recorded none in this run")

    os.makedirs(os.path.join(ROOT, ".perfbench", "results"), exist_ok=True)
    report = os.path.join(
        ROOT, ".perfbench", "results", f"trace-{wl.name}-seed{h.args.seed}-{os.getpid()}.json"
    )
    trace.write_report(
        report, tracer.spans, bd,
        {"per_unit_spark": [{k: v for k, v in u.items() if k != "stage_objs"} for u in per_unit],
         "metrics": m, "reasons": reasons, "extras": extras},
    )
    record["trace_report"] = os.path.relpath(report, ROOT)
    record["layer_table"] = trace.layer_table(bd["per_name"])
    record["unavailable"] = reasons
    record["layer_metrics"] = m
    names = [x["name"] for x in spec["per_layer"]]
    missing = [n for n in names if n not in m]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["mr_jobs", "query_mix", "ingest_cascade", "query_ingest_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, nproc()))
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-check only)")
    args = ap.parse_args(argv)
    if args.cores < 1 or args.cores > nproc():
        print(f"refused: local[{args.cores}] asks for more cores than nproc={nproc()}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "mapreduce_framework_spark")):
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays under the checkout (every JVM the
    # launcher starts reads JAVA_TOOL_OPTIONS; UsePerfData would write to /tmp)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    try:
        record, res, problems = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end" if not args.trace else "per_layer"]}
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
    # every metric measured, by name and unit; the result line below carries
    # the ones BENCHMARK.json names (per-module ones are only measured on the
    # workload that calls the module)
    for n, v in values.items():
        print(f"  {n:<48} {float(v):>14.6g} {units.get(n) or unit_of(n)}")
    if args.trace:
        print(record.pop("layer_table"))
    print(json.dumps({"record": record}, default=str))
    for p in problems:
        print("GATE FAILED:", p.strip().splitlines()[-1][:300])
    result = {
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
