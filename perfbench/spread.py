"""Run one workload over several seeds and report each end-to-end metric's
median and quartile spread (IQR as a share of the median), the steadiness
figure the benchmark's bounds are checked against.

    python3 perfbench/spread.py --workload mr_jobs --seeds 1-10 [--out runs.jsonl]

Runs are sequential; each line of ``--out`` holds one run's result line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    walls = []
    for s in seeds(args.seeds):
        cmd = [sys.executable, *spec["command"][1:], "--workload", args.workload,
               "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.time() - t0)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"] if len(lines) > 1 else {}
        if p.returncode != 0 or not res["correct"]:
            print(f"seed {s}: exit {p.returncode}, correct={res.get('correct')}")
            return 1
        for n in values:
            values[n].append(res["metrics"][n]["value"])
        if args.out:
            with open(args.out, "a", encoding="utf-8") as fh:
                fh.write(json.dumps({"seed": s, "wall_s": walls[-1], **res,
                                     "units": record.get("units"), "host": record.get("host"),
                                     "setup": record.get("setup")}) + "\n")
        print(f"seed {s}: {walls[-1]:.1f} s", flush=True)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':<16}{'median':>12}{'iqr/median':>12}{'bound':>8}")
    for n, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        print(f"{n:<16}{med:>12.4g}{(q3 - q1) / med:>12.3f}{bounds[n]:>8}")
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
