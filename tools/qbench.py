"""Per-query micro-bench for optimization work: run a subset of registry
queries with the same noop-sink methodology as bench.py, print per-rep
timings, and optionally dump explain("formatted") to a file.

Usage:
  python tools/qbench.py [--reps N] [--explain-dir DIR] [--sf SF_DIR] q1 q2 ...
  python tools/qbench.py --all            # every registry query, 1 rep

Unlike bench.py this is a developer tool — it does not write artifacts and
its output format is free-form. The timed action is identical to bench.py's
(df.write.format("noop")), so numbers are comparable rep-for-rep.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import cpu_steal_s, warm_up
from nutch_spark.plans import REGISTRY
from nutch_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="", help="explain filename suffix, e.g. _before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    names = sorted(REGISTRY) if args.all else args.queries
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("nutch_spark_qbench")
    spark.sparkContext.setLogLevel("ERROR")
    # identical warm-up to bench.py so first-rep numbers line up
    warm_up(spark, args.sf)

    for name in names:
        fn, _oracle = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"qbench:{name}")
        runs = []
        for rep in range(args.reps):
            s0 = cpu_steal_s()
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            st = cpu_steal_s() - s0
            runs.append(dt)
            print(
                f"{name:32s} rep{rep} {dt:7.3f}s"
                f" (build {t1 - t0:6.3f} exec {dt - (t1 - t0):6.3f})"
                f" steal={st:5.1f}",
                flush=True,
            )
        if args.explain_dir:
            import contextlib
            import io

            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf)
            p = os.path.join(args.explain_dir, f"{name}{args.suffix}.txt")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(p, "w") as f:
                f.write(buf.getvalue())
            print(f"  explain -> {p}", flush=True)
        print(f"{name:32s} min={min(runs):7.3f} med={sorted(runs)[len(runs)//2]:7.3f}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
