"""Quick self-check of the benchmark on tiny inputs (a few minutes).

    python3 perfbench/selfcheck.py

1. Generators: one seed gives byte-identical inputs, another seed
   different ones.
2. Gates: every correctness gate passes on a real program output and fires
   on a deliberately corrupted copy of it (MR output lines, a registry
   query's result against its DuckDB oracle, the decisions logs of the
   six-tier and the MinHash ingest sinks). Two six-tier ingests of one seed
   give the same decisions hash.
3. Output: ``run.py --tiny`` for every workload in BENCHMARK.json, untraced
   and traced, prints a last line with exactly the keys ``correct``,
   ``attempted``, ``failed``, ``metrics`` and the metric names and units
   BENCHMARK.json lists; a request for more cores than nproc is refused.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)
    print(f"ok  {what}")


def check_generators(work: str) -> None:
    a = gen.make_tables(os.path.join(work, "t1"), 7, 0.001)["input_hash"]
    b = gen.make_tables(os.path.join(work, "t2"), 7, 0.001)["input_hash"]
    c = gen.make_tables(os.path.join(work, "t3"), 8, 0.001)["input_hash"]
    expect(a == b and a != c, "tables: same seed same bytes, other seed other bytes")
    a = gen.make_mr_files(os.path.join(work, "m1"), 7, 4, 50, 100)[1]["input_hash"]
    b = gen.make_mr_files(os.path.join(work, "m2"), 7, 4, 50, 100)[1]["input_hash"]
    c = gen.make_mr_files(os.path.join(work, "m3"), 8, 4, 50, 100)[1]["input_hash"]
    expect(a == b and a != c, "mr files: same seed same bytes, other seed other bytes")
    a, b, c = (gen.make_ingest(s, 3, 10)[2]["input_hash"] for s in (7, 7, 8))
    expect(a == b and a != c, "ingest batches: same seed same docs, other seed other docs")


def check_gates(work: str) -> None:
    from perfbench import trace, workloads
    from perfbench.run import Harness

    class Args:
        cores = 2
        seconds = 1

    h = Harness(Args, work)
    tracer = trace.Tracer()
    try:
        # --- mr: run_job output vs run_sequential
        mrw = workloads.MrJobs(os.path.join(work, "mr"), 3, tiny=True)
        h.setup_context(mrw, tracer, event_log=False)
        spark = h.spark
        u = mrw.unit(spark, tracer, 0, observe=False)
        out = os.path.join(mrw.out_root, "u0")
        got = mrw.mr.read_text_output(out)
        expect(u.check() == [], "mr gate passes on the real run_job output")
        bad = list(got)
        key, count = bad[0].rsplit(" ", 1)
        bad[0] = f"{key} {int(count) + 1}"
        expect(checks.mr_gate("wc", sorted(bad), mrw.want["wc"]) != [], "mr gate fires on a changed count")
        expect(checks.mr_gate("wc", got[1:], mrw.want["wc"]) != [], "mr gate fires on a lost key")

        # --- query: registry query vs its DuckDB oracle
        qm = workloads.QueryMix(os.path.join(work, "qm"), 3, tiny=True)
        from mapreduce_framework_spark import catalog

        con = checks.duckdb_conn(qm.sf_dir, catalog.TABLES)
        q = "q17_rollup"
        df = qm.registry[q].builder(spark, qm.sf_dir)
        rows = [tuple(r) for r in df.collect()]
        want = checks.oracle_digest(con, qm.registry[q].oracle)
        con.close()
        expect(checks.query_gate(q, checks.table_digest(rows, df.columns), want) == [],
               "query gate passes on the real result")
        i = df.columns.index("total")
        corrupt = [rows[0][:i] + (rows[0][i] + 0.01,) + rows[0][i + 1 :]] + rows[1:]
        expect(checks.query_gate(q, checks.table_digest(corrupt, df.columns), want) != [],
               "query gate fires on one changed value")
        expect(checks.query_gate(q, checks.table_digest(rows[1:], df.columns), want) != [],
               "query gate fires on a lost row")
        renamed = ["x_total" if c == "total" else c for c in df.columns]
        expect(checks.query_gate(q, checks.table_digest(rows, renamed), want) != [],
               "query gate fires on a renamed column")

        # --- ingest: decisions log of the six-tier sink, twice with one seed
        hashes = []
        for run in ("a", "b"):
            ic = workloads.IngestCascade(os.path.join(work, f"ic_{run}"), 5, tiny=True)
            problems, info, rows = ingest_two_batches(ic, spark, tracer)
            expect(problems == {}, f"ingest gates pass on the real decisions log ({run})")
            hashes.append(info["decisions_hash_b0_b1"])
        expect(hashes[0] == hashes[1], "ingest decisions hash is stable for one seed")
        check_ingest_gate_fires(ic, rows)
        expect(checks.decisions_count_gate(len(rows) + 1, len(rows)) != [],
               "decision-count gate fires on a duplicated decision")

        # --- ingest through the MinHash near-dup sink (query_ingest_mix)
        im = workloads.IngestCascade(os.path.join(work, "im"), 5, tiny=True, six_tier=False)
        problems, _, rows = ingest_two_batches(im, spark, tracer)
        expect(problems == {}, "MinHash-sink ingest gates pass on the real decisions log")
        check_ingest_gate_fires(im, rows)
    finally:
        h.shutdown()


def ingest_two_batches(ic, spark, tracer):
    """The seed batch and one more through ``ic``'s sink; returns the gate
    problems, the final-check info and the decisions rows."""
    ic.build_once(spark, tracer)
    try:
        ic.warm(spark, tracer)
        ic.unit(spark, tracer, 0, observe=False)
        problems, info = ic.final_check(spark)
        rows = ic.decisions(spark)
    finally:
        ic.close()
    return problems, info, rows


def check_ingest_gate_fires(ic, rows) -> None:
    sink = ic.props["sink"]
    by_doc = {r[0]: (bool(r[1]), r[3]) for r in rows}
    copies = [
        d for d, (b, kind, src) in ic.kinds.items()
        if b == 1 and kind == "exact" and by_doc.get(src, (False,))[0]
    ]
    expect(bool(copies), f"{sink}: the tiny ingest has a re-fetch of an admitted doc")
    flipped = dict(by_doc)
    flipped[copies[0]] = (True, None)
    expect(checks.ingest_gate([1], flipped, ic.kinds, ic.copy_tier) != [],
           f"{sink}: ingest gate fires when a byte-identical re-fetch is admitted")
    missing = dict(by_doc)
    missing.pop(copies[0])
    expect(checks.ingest_gate([1], missing, ic.kinds, ic.copy_tier) != [],
           f"{sink}: ingest gate fires on a doc without a decision")


def check_output(spec: dict) -> None:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]
    for w in spec["workloads"]:
        for tr, key in ((0, "end_to_end"), (1, "per_layer")):
            args = ["--workload", w["name"], "--seed", "11", "--seconds", "1",
                    "--trace", str(tr), "--tiny", "--cores", "2"]
            p = subprocess.run(cmd + args, cwd=ROOT, capture_output=True, text=True, timeout=300)
            last = json.loads(p.stdout.strip().splitlines()[-1])
            expect(p.returncode == 0, f"{w['name']} trace={tr}: exit code 0")
            expect(set(last) == {"correct", "attempted", "failed", "metrics"} and last["correct"] is True
                   and isinstance(last["attempted"], int) and last["attempted"] >= 1
                   and isinstance(last["failed"], int),
                   f"{w['name']} trace={tr}: result keys and types")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: v["unit"] for n, v in last["metrics"].items()}
            expect(got == want and all(set(v) == {"value", "unit"} for v in last["metrics"].values()),
                   f"{w['name']} trace={tr}: metric names and units match BENCHMARK.json")
    p = subprocess.run(cmd + ["--workload", "mr_jobs", "--seed", "1", "--seconds", "1",
                              "--cores", str(len(os.sched_getaffinity(0)) + 1)],
                       cwd=ROOT, capture_output=True, text=True, timeout=60)
    expect(p.returncode != 0 and not p.stdout.strip(), "local[N] with N > nproc is refused")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    base = os.path.join(ROOT, ".perfbench", "work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selfcheck-", dir=base)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    try:
        check_generators(work)
        check_gates(work)
        check_output(spec)
    except CheckFailed as ex:
        print(f"FAILED  {ex}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("self-check passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
