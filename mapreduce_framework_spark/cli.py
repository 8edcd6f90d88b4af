"""Command-line entry points — UX parity with the reference drivers.

Reference: ``mrsequential wc.so pg-*.txt`` (src/main/mrsequential.go:25-40)
and ``mrcoordinator pg-*.txt`` + N×``mrworker wc.so``
(src/main/mrcoordinator.go, mrworker.go). Here one CLI covers both:

    python -m mapreduce_framework_spark.cli APP 'inputs/*.txt' OUT_DIR \
        [--n-reduce 10] [--sequential]

APP is one of the built-in apps (wc, indexer, crash, ...) — Python
callables replace the ``.so`` plugin (F15); ``--sequential`` runs the
single-process oracle (F14) and writes one ``mr-out-0``-style file, the
distributed mode writes ``n_reduce`` bucket directories via Spark.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("app", help="built-in app name (wc, indexer, ...)")
    parser.add_argument("inputs", help="glob of input text files")
    parser.add_argument("out_dir", help="output directory")
    parser.add_argument("--n-reduce", type=int, default=10)
    parser.add_argument(
        "--sequential",
        action="store_true",
        help="single-process oracle mode (mrsequential parity)",
    )
    args = parser.parse_args(argv)

    from mapreduce_framework_spark.mr import APPS

    if args.app not in APPS:
        print(f"unknown app {args.app!r}; known: {sorted(APPS)}", file=sys.stderr)
        return 2
    map_fn, reduce_fn = APPS[args.app]
    files = sorted(glob.glob(args.inputs))
    if not files:
        print(f"no inputs match {args.inputs!r}", file=sys.stderr)
        return 2

    if args.sequential:
        from mapreduce_framework_spark.mr import run_sequential

        inputs = []
        for path in files:
            with open(path, encoding="utf-8") as fh:
                inputs.append((os.path.basename(path), fh.read()))
        lines = run_sequential(inputs, map_fn, reduce_fn)
        os.makedirs(args.out_dir, exist_ok=True)
        out_path = os.path.join(args.out_dir, "mr-out-0")
        with open(out_path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + ("\n" if lines else ""))
        print(f"wrote {len(lines)} lines to {out_path}")
        return 0

    from mapreduce_framework_spark.mr import read_whole_files, run_job, write_text_output
    from mapreduce_framework_spark.session import get_spark

    spark = get_spark(app_name=f"mr-{args.app}")
    spark.sparkContext.setLogLevel("WARN")
    result = run_job(
        read_whole_files(spark, files), map_fn, reduce_fn, n_reduce=args.n_reduce
    )
    write_text_output(result, args.out_dir)
    print(f"wrote {args.n_reduce}-bucket output to {args.out_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
